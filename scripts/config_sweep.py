"""Config-invariance sweep (VERDICT r6, next #3): query RESULTS must not
depend on ``spark.sql.shuffle.partitions`` or AQE.

Why this could break: operators/rank.py derives its bucket count from
``shuffle.partitions`` (docstring claims result-stability for any
value), q_kmv_distinct builds per-``spark_partition_id`` partials
(claims the merged min-k is partitioning-invariant), and AQE rewrites
physical plans at runtime (coalesced shuffles, demoted broadcasts).
A driver-side session-config change is the likeliest silent
hash-breaker left, so: prove invariance by re-running the oracle
comparison under adversarial configs.

Matrix (both configs are runtime-settable, one JVM):
- FULL registry at shuffle.partitions = 7 and 64 (AQE left default-on);
- the config-SENSITIVE subset (rank/cumsum users + partition-id user)
  at the full 4-combo cross product {7, 64} x {AQE on, off}.

Usage:
  python scripts/config_sweep.py [sf_dir]          # default sf0.01
  python scripts/config_sweep.py --quick           # sensitive subset only
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from _harness import build_arm, error_text  # noqa: E402
from _oracle import duckdb_views  # noqa: E402

from data_etl_spark.cache import release_tracked  # noqa: E402
from data_etl_spark.plans import REGISTRY  # noqa: E402
from data_etl_spark.session import build_session  # noqa: E402
from tests.test_fuzz_differential import _canon  # noqa: E402

#: queries whose PLANS consume the swept configs (two-pass bucketed
#: rank/cumsum derive n_buckets from shuffle.partitions;
#: q_kmv_distinct's stage-1 partials key on spark_partition_id)
SENSITIVE = [
    "q_rfm_segments",
    "q_zorder_layout",
    "q_zone_map_eval",
    "q_equidepth_bins",
    "q_quality_percentiles",
    "q_source_cap",
    "q_pack_global",
    "q_interval_sweep",
    "q_kmv_distinct",
]


def _oracle_names() -> list[str]:
    return sorted(n for n, q in REGISTRY.items() if q.oracle is not None)


def _run(spark, con, sf_dir: str, names: list[str], confs: dict[str, str], label: str) -> list[str]:
    """Oracle-check ``names``, each built under ``confs`` and drained after."""
    fails = []
    for name in names:
        q = REGISTRY[name]
        try:
            sdf = build_arm(spark, name, confs, sf_dir)
            srows = [r.asDict() for r in sdf.collect()]
            odf = con.execute(q.oracle).df()
            ok = sorted(sdf.columns) == sorted(odf.columns.tolist()) and _canon(
                srows, sdf.columns
            ) == _canon(odf.to_dict("records"), sdf.columns)
        except Exception as ex:  # noqa: BLE001
            ok = False
            print(f"  ERR {name}: {error_text(ex)}")
        finally:
            release_tracked()
        if not ok:
            fails.append(name)
            print(f"  FAIL {name}")
    print(f"[{label}] {len(names) - len(fails)}/{len(names)} matched")
    return fails


def main() -> int:
    quick = "--quick" in sys.argv
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"

    spark = build_session("config-sweep")
    con = duckdb_views(sf_dir)

    all_fails: dict[str, list[str]] = {}

    # Cross product on the sensitive subset
    for parts in (7, 64):
        for aqe in ("true", "false"):
            confs = {"spark.sql.shuffle.partitions": str(parts), "spark.sql.adaptive.enabled": aqe}
            label = f"sensitive sp={parts} aqe={aqe}"
            all_fails[label] = _run(spark, con, sf_dir, SENSITIVE, confs, label)

    if not quick:
        # Full registry at the two partition values, AQE as prep() sets it (on)
        names = _oracle_names()
        for parts in (7, 64):
            label = f"full sp={parts}"
            confs = {"spark.sql.shuffle.partitions": str(parts)}
            all_fails[label] = _run(spark, con, sf_dir, names, confs, label)

    bad = {k: v for k, v in all_fails.items() if v}
    if bad:
        print("\n== INVARIANCE FAILURES ==")
        for k, v in bad.items():
            print(f"  {k}: {', '.join(v)}")
        return 1
    print("\n== config-invariant: all combos matched ==")
    return 0


if __name__ == "__main__":
    sys.exit(main())
