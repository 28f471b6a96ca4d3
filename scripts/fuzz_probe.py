"""One-off fuzz probe: run the registry's oracle-backed queries against
a generated corpus and report divergences, without editing the suite.

Usage:
  python scripts/fuzz_probe.py --seed 404          # random corpus, seed 404
  python scripts/fuzz_probe.py --seed 404 --relational-too
  python scripts/fuzz_probe.py --torture           # degenerate corpus
  python scripts/fuzz_probe.py --empty             # all tables empty
  python scripts/fuzz_probe.py --skew              # hot text/user/custkey/part
  python scripts/fuzz_probe.py --unicode           # astral/RTL/combining docs
  python scripts/fuzz_probe.py --bigdoc            # MB-scale structured docs
  python scripts/fuzz_probe.py --nulls             # ~10% NULLs everywhere
  python scripts/fuzz_probe.py --smallgroups       # near-singleton groups
  python scripts/fuzz_probe.py --chaos             # all dimensions at once
  python scripts/fuzz_probe.py --chaos-time        # extreme timestamps
  python scripts/fuzz_probe.py --seed 7 q_exact_dedup q_knn_exact

The suite (tests/test_fuzz_differential.py) pins seeds 7/23/0 for
regression; this script explores NEW seeds when hunting for divergence
classes the pinned corpora miss. Streaming queries are skipped unless
named explicitly.
"""

from __future__ import annotations

import argparse
import os
import random
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from _oracle import duckdb_views  # noqa: E402

from tests import test_fuzz_differential as T  # noqa: E402
from data_etl_spark.plans import REGISTRY  # noqa: E402
from data_etl_spark.session import build_session  # noqa: E402


def _write_corpus(d: str, rng: random.Random, mode: str) -> None:
    if mode == "empty":
        docs, ev, emb = [], [], []
    elif mode == "torture":
        docs = T._torture_documents()
        ev = T._torture_events()
        emb = T._torture_embeddings()
    elif mode == "skew":
        docs = T._skew_documents(rng)
        ev = T._gen_events(rng, hot_user=0.5)
        emb = T._skew_embeddings(rng)
    elif mode == "unicode":
        docs = T._unicode_documents(rng)
        ev = T._gen_events(rng)
        emb = T._gen_embeddings(rng)
    elif mode == "bigdoc":
        docs = T._bigdoc_documents(rng)
        ev = T._gen_events(rng)
        emb = T._gen_embeddings(rng)
    elif mode == "nulls":
        docs = T._null_documents(rng)
        ev = T._null_events(rng)
        emb = T._null_embeddings(rng)
    elif mode == "smallgroups":
        docs = T._smallgroups_documents(rng)
        ev = T._smallgroups_events(rng)
        emb = T._smallgroups_embeddings(rng)
    elif mode == "chaos":
        docs = T._chaos_documents(rng)
        ev = T._chaos_events(rng)
        emb = T._chaos_embeddings(rng)
    elif mode == "chaos-time":
        docs = T._gen_documents(rng)
        ev = T._chaostime_events(rng)
        emb = T._smallgroups_embeddings(rng)
    else:
        docs = T._gen_documents(rng)
        ev = T._gen_events(rng)
        emb = T._gen_embeddings(rng)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                "text": pa.array([r[1] for r in docs], pa.string()),
                "lang": pa.array([r[2] for r in docs], pa.string()),
                "source": pa.array([r[3] for r in docs], pa.string()),
                "n_chars": pa.array([r[4] for r in docs], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in ev], pa.int64()),
                "ts": pa.array([r[1] for r in ev], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in ev], pa.int64()),
                "event_type": pa.array([r[3] for r in ev], pa.string()),
                "value": pa.array([r[4] for r in ev], pa.float64()),
                "props": pa.array([r[5] for r in ev], pa.string()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in emb], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in emb], pa.list_(pa.float32())
                ),
                "label": pa.array([r[2] for r in emb], pa.int32()),
            }
        ),
        os.path.join(d, "embeddings.parquet"),
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--torture", action="store_true")
    ap.add_argument("--empty", action="store_true")
    ap.add_argument(
        "--skew",
        action="store_true",
        help="adversarial skew: one text/user/part owns ~50%% of its table",
    )
    ap.add_argument(
        "--unicode",
        action="store_true",
        help="unicode-extreme documents: astral, RTL, combining, ZWJ",
    )
    ap.add_argument(
        "--bigdoc",
        action="store_true",
        help="MB-scale structured documents (per-doc kernel stress)",
    )
    ap.add_argument(
        "--nulls",
        action="store_true",
        help="NULL-heavy: ~10%% NULLs in every nullable column",
    )
    ap.add_argument(
        "--smallgroups",
        action="store_true",
        help="many near-singleton groups (users, sources, orders)",
    )
    ap.add_argument(
        "--chaos",
        action="store_true",
        help="interaction corpus: unicode x NULLs x skew at once",
    )
    ap.add_argument(
        "--chaos-time",
        action="store_true",
        help=(
            "extreme timestamps: epoch boundaries, pre-1970, pandas-ns "
            "edges, tumbling/session boundary ties, zero/inverted intervals"
        ),
    )
    ap.add_argument(
        "--chaos-keys",
        action="store_true",
        help=(
            "adversarial p_partkey values (negative/huge/dense-run) so the "
            "SQL-derived figures/rect fixtures inherit chaos; composes "
            "with any corpus mode"
        ),
    )
    ap.add_argument(
        "--relational-too",
        action="store_true",
        help="also run purely-relational queries",
    )
    ap.add_argument("names", nargs="*", help="restrict to these queries")
    args = ap.parse_args()

    if args.torture:
        mode = "torture"
    elif args.empty:
        mode = "empty"
    elif args.skew:
        mode = "skew"
    elif args.unicode:
        mode = "unicode"
    elif args.bigdoc:
        mode = "bigdoc"
    elif args.nulls:
        mode = "nulls"
    elif args.smallgroups:
        mode = "smallgroups"
    elif args.chaos:
        mode = "chaos"
    elif args.chaos_time:
        mode = "chaos-time"
    else:
        mode = "random"
    rng = random.Random(args.seed)
    d = tempfile.mkdtemp(prefix=f"fuzz_probe_{mode}_{args.seed}_")
    _write_corpus(d, rng, mode)
    T._write_relational(
        d,
        rng,
        skew=(mode in ("skew", "chaos")),
        nulls=(mode in ("nulls", "chaos")),
        small=(mode == "smallgroups"),
        chaos_keys=args.chaos_keys,
    )
    if args.chaos_keys:
        mode += "+chaos-keys"

    spark = build_session("fuzz-probe")
    only = set(args.names)
    fails = []
    n_run = 0
    for name, every_seed in T._QUERIES:
        if only and name not in only:
            continue
        if not only:
            if name.startswith("q_streaming_"):
                continue
            if not every_seed and not args.relational_too:
                continue
        q = REGISTRY[name]
        n_run += 1
        try:
            sdf = q.fn(spark, d)
            srows = [r.asDict() for r in sdf.collect()]
            con = duckdb_views(d)
            # fetchall, not .df(): pandas maps NULL-bearing BIGINT to
            # float64 (lossy above 2^53 — the chaos-time epoch edges)
            cur = con.execute(q.oracle)
            ocols = [c[0] for c in cur.description]
            orows = [dict(zip(ocols, row)) for row in cur.fetchall()]
            ok = sorted(sdf.columns) == sorted(ocols) and (
                T._canon(srows, sdf.columns) == T._canon(orows, sdf.columns)
            )
            if not ok:
                fails.append((name, f"{len(srows)} vs {len(orows)} rows"))
                print(f"FAIL {name}")
        except Exception as ex:  # noqa: BLE001 — report, keep sweeping
            fails.append((name, f"{type(ex).__name__}: {str(ex)[:140]}"))
            print(f"ERR  {name}: {type(ex).__name__}")
    print(f"\n== {n_run - len(fails)}/{n_run} matched ({mode}, seed {args.seed}) ==")
    for name, why in fails:
        print(f"  {name}: {why}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
