"""Driver simulation: exercises __spark_entry__.py the way the per-round
verify does — vanilla SparkSession (none of our session tuning), sf0.01,
every queries() entry compared against its oracle_sql() in DuckDB
(row count + column names + order-insensitive values).

Usage: python scripts/driver_sim.py [sf_dir] [query ...]
"""

from __future__ import annotations

import glob
import os
import re
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

# simulation, not the driver: build the window without persisting the
# fingerprint manifest (see _record_fp_manifest — a local run must not
# consume the drift signal the real driver's build relies on)
os.environ.setdefault("SPARK_GRAFT_WINDOW_READONLY", "1")

import __spark_entry__ as E  # noqa: E402
from _oracle import duckdb_views, frames_equal  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])


def main():
    from pyspark.sql import SparkSession

    # vanilla session — deliberately NOT data_etl_spark.session.build_session;
    # the driver brings its own.
    spark = SparkSession.builder.master("local[32]").appName("driver-sim").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb_views(SF_DIR)

    print(f"== entry() smoke on sf0.001 ==")
    t0 = time.time()
    n = E.entry(spark).count()
    print(f"entry rows={n} ({time.time() - t0:.1f}s)")
    assert n > 0

    qs, oracles = E.queries(), E.oracle_sql()

    # Window-budget guard: if this round's modified-but-green queries
    # (_TOUCHED_THIS_ROUND) no longer fit the 50-name window because new
    # registry names displaced the refill, say so loudly — that is how a
    # modified query rides stale driver evidence through a round.
    touched = getattr(E, "_TOUCHED_THIS_ROUND", frozenset())
    dropped = sorted(set(touched) - set(qs))
    if dropped:
        print(
            f"WARNING: window overflow — modified queries NOT in this round's "
            f"driver window (stale-evidence risk): {dropped}"
        )
    # Staleness tripwire (VERDICT r12 #8): project the SAME staleness
    # number the driver's post-round report will record — a red
    # feasibility state is visible in every local driver replica, not
    # only in pytest, and fails the run before the round ships.
    stale_breach = False
    try:
        from data_etl_spark.plans import REGISTRY

        repo_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        evidence = E._driver_rows(repo_dir)
        recorded = [
            int(m.group(1))
            for p in glob.glob(os.path.join(repo_dir, "CORRECTNESS_r*.json"))
            if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
        ]
        building = (max(recorded) + 1) if recorded else 1
        outside = [
            building - evidence[n][0]
            for n in REGISTRY
            if evidence.get(n, (0, False))[1] and n not in qs
        ]
        proj = max(outside) if outside else 0
        bound = E._STALENESS_BOUND
        print(f"projected max green staleness outside window: {proj} (bound {bound})")
        if proj > bound:
            stale_breach = True
            print(
                f"WARNING: staleness breach — {sum(1 for o in outside if o > bound)} "
                f"green queries project staleness > {bound}; rotation infeasible"
            )
    except Exception as ex:  # never let the tripwire mask real results
        print(f"WARNING: staleness projection failed: {ex}")
    failed, passed, rows_only = [], 0, 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            failed.append((name, f"spark error: {ex}"))
            print(f"FAIL {name}: spark error: {str(ex)[:200]}")
            continue
        if name not in oracles:
            rows_only += 1
            print(f"rows-only {name}: {len(spdf)} rows ({time.time() - t0:.1f}s)")
            continue
        try:
            opdf = con.sql(oracles[name]).df()
        except Exception as ex:
            failed.append((name, f"oracle error: {ex}"))
            print(f"FAIL {name}: oracle error: {str(ex)[:200]}")
            continue
        err = frames_equal(spdf, opdf)
        if err:
            failed.append((name, err))
            print(f"FAIL {name}: {err}")
        else:
            passed += 1
            print(f"ok   {name}: {len(spdf)} rows ({time.time() - t0:.1f}s)")

    print(f"\n== {passed} oracle-matched, {rows_only} rows-only, {len(failed)} failed ==")
    for name, err in failed:
        print(f"  FAIL {name}: {err}")
    if stale_breach:
        print("exit 1: staleness projection exceeds bound (see WARNING above)")
    sys.exit(1 if (failed or stale_breach) else 0)


if __name__ == "__main__":
    main()
