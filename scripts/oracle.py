"""Check registry queries against their DuckDB oracles at one scale factor.

Usage: python scripts/oracle.py SF_DIR [OUT.json] [--gates | NAME ...]

- No selector: every registry query. At sf0.01 this proves the whole
  registry, where the driver proves only its 50-name window.
- ``--gates``: the queries whose plan flips branch with input size
  (``_oracle.gate_queries()``) plus the SF-capped ones
  (``CAPPED_QUERIES``, whose cap binds only above sf0.01). Run it at
  sf0.1, where the other branch is live.
- ``NAME ...``: just those queries, e.g. the ones a change touched.

Each query's result is compared with ``_oracle.frames_equal``. A failing
query is recorded and the rest still run, and plan-internal persists are
drained after every query. With OUT, the results are written there as
JSON, stamped with the git tree, whether it was dirty, and the time.
The session is a vanilla ``local[32]`` one, as the driver's; its heap
is ``session.driver_memory()``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from _harness import error_text
from _oracle import REPO, duckdb_views, frames_equal, gate_queries  # puts REPO on sys.path

from data_etl_spark.cache import release_tracked
from data_etl_spark.plans import CAPPED_QUERIES, REGISTRY
from data_etl_spark.session import driver_memory


def check(spark, con, sf_dir: str, names):
    """Run each registry query in ``names`` at ``sf_dir`` and compare it
    with its oracle on ``con``. Yields (name, result row) per query,
    after draining the query's tracked persists; a query that raises is
    recorded with its error and the loop goes on."""
    for name in names:
        q = REGISTRY[name]
        row: dict = {}
        try:
            t0 = time.time()
            spdf = q.fn(spark, sf_dir).toPandas()
            row["spark_rows"] = len(spdf)
            row["spark_sec"] = round(time.time() - t0, 2)
            if q.oracle is None:
                # not SQL-expressible: the driver's weaker rows-only check
                row["rows_only"] = True
            else:
                t1 = time.time()
                odf = con.sql(q.oracle).df()
                row["oracle_rows"] = len(odf)
                row["oracle_sec"] = round(time.time() - t1, 2)
                diff = frames_equal(spdf, odf)
                row["hash_match"] = diff is None
                if diff:
                    row["err"] = diff[:300]
        except Exception as ex:  # noqa: BLE001 — record, keep checking
            row.update(hash_match=False, err=error_text(ex))
        finally:
            release_tracked()
        yield name, row


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], capture_output=True, text=True, cwd=REPO).stdout.strip()


def main() -> int:
    from pyspark.sql import SparkSession

    args = sys.argv[1:]
    gates = "--gates" in args
    args = [a for a in args if a != "--gates"]
    if not args:
        sys.exit(__doc__)
    sf_dir, names = args[0], args[1:]
    out = names.pop(0) if names and names[0].endswith(".json") else None
    if gates and names:
        sys.exit("--gates and query names are exclusive")
    if gates:
        names = sorted(set(gate_queries()) | set(CAPPED_QUERIES))
    elif not names:
        names = sorted(REGISTRY)
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    # no conf is set but the heap, so the session stays the driver's vanilla one
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {driver_memory()} pyspark-shell"
    spark = SparkSession.builder.master("local[32]").appName("oracle").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_views(sf_dir)

    results: dict[str, dict] = {}
    t_start = time.time()
    for name, row in check(spark, con, sf_dir, names):
        results[name] = row
        if row.get("rows_only"):
            print(f"rows-only {name}: {row['spark_rows']} rows ({row['spark_sec']}s)", flush=True)
        elif row["hash_match"]:
            print(
                f"ok   {name}: {row['spark_rows']} rows "
                f"(spark {row['spark_sec']}s, duckdb {row['oracle_sec']}s)",
                flush=True,
            )
        else:
            print(f"FAIL {name}: {row['err']}", flush=True)
    fails = [n for n, r in results.items() if not (r.get("rows_only") or r["hash_match"])]
    wall = round(time.time() - t_start, 1)
    print(f"\n== {len(names) - len(fails)}/{len(names)} oracle-matched at {sf_dir} in {wall}s ==")
    for name in fails:
        print(f"  FAIL {name}: {results[name]['err']}")

    if out:
        try:
            tree, dirty = _git("rev-parse", "HEAD"), bool(_git("status", "--porcelain"))
        except OSError:
            tree, dirty = "?", None
        artifact = {
            "sf_dir": sf_dir,
            "n": len(names),
            "n_pass": len(names) - len(fails),
            "n_fail": len(fails),
            "fails": fails,
            "wall_sec": wall,
            "tree": tree,
            "tree_dirty": dirty,
            "recorded_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "queries": results,
        }
        with open(out, "w") as f:
            json.dump(artifact, f, indent=0, sort_keys=True)
        print(f"-> {out}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
