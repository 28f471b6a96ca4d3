"""Oracle-differential tests: every registered query vs its DuckDB oracle.

Replicates the driver's correctness gate (row-count + schema-arity +
order-insensitive value comparison) so regressions surface locally before
the per-round verify. Comparison is *stricter* than a hash: exact value
equality after canonicalization, with a readable diff on failure.
"""

from __future__ import annotations

import pytest
from _oracle import frames_equal
from oracle import check
from pyspark.sql import functions as F

from data_etl_spark import cache
from data_etl_spark.plans import REGISTRY, register


_ORACLED = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
_ROWS_ONLY = sorted(n for n, q in REGISTRY.items() if q.oracle is None)


@pytest.mark.parametrize("name", _ORACLED)
def test_query_matches_oracle(spark, ddb, sf_dir, name):
    q = REGISTRY[name]
    spark_pdf = q.fn(spark, sf_dir).toPandas()
    oracle_pdf = ddb.sql(q.oracle).df()
    err = frames_equal(spark_pdf, oracle_pdf)
    assert err is None, f"{name}: {err}"


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_query_runs(spark, sf_dir, name):
    q = REGISTRY[name]
    df = q.fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_registry_nonempty():
    assert len(REGISTRY) >= 10


def test_check_loop_records_errors_and_drains(spark, ddb, sf_dir):
    """scripts/oracle.py's loop: a query that raises is recorded and the
    later names still run, and every query's tracked persists are drained
    before the next one starts."""
    def region(spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/region.parquet").select("r_regionkey", "r_name")

    def persisted(spark, sf_dir):
        agg = spark.range(0, 2000, numPartitions=4).groupBy(
            (F.col("id") % 7).alias("k")
        ).agg(F.count("*").alias("n"))
        return cache.tracked_persist(agg).select("k", (F.col("n") * 2).alias("n2"))

    stubs = {
        "q_oracle_stub_broken": (lambda spark, sf_dir: spark.table("no_such_table"), "SELECT 1 AS x"),
        "q_oracle_stub_persisted": (
            persisted,
            "SELECT range % 7 AS k, count(*) * 2 AS n2 FROM range(2000) GROUP BY 1",
        ),
        "q_oracle_stub_region": (region, "SELECT r_regionkey, r_name FROM region"),
    }
    rows = {}
    try:
        for name, (fn, sql) in stubs.items():
            register(name, sql)(fn)
        for name, row in check(spark, ddb, sf_dir, list(stubs)):
            assert cache._TRACKED == [], name
            rows[name] = row
    finally:
        for name in stubs:
            REGISTRY.pop(name, None)
    assert list(rows) == list(stubs)
    broken = rows["q_oracle_stub_broken"]
    assert broken["hash_match"] is False and "no_such_table" in broken["err"], broken
    assert rows["q_oracle_stub_persisted"]["hash_match"] is True, rows
    assert rows["q_oracle_stub_region"]["hash_match"] is True, rows
