from __future__ import annotations

import os

# Tests exercise the driver-contract window build (queries()/
# oracle_sql()) but must never PERSIST it: recording fingerprints
# consumes the drift signal the real driver's build relies on, and a
# pytest run would silently rewrite the committed manifest + staleness
# report (the same tooling-consumes-drift class driver_sim already
# guards against). Must be set before __spark_entry__ is imported by
# any test module.
os.environ.setdefault("SPARK_GRAFT_WINDOW_READONLY", "1")

# Test inputs are 100-2000 rows, so per-stage cost is task-scheduling
# overhead, not compute: local[8]/8 shuffle partitions measured 16%
# faster than local[32]/32 on the 222-query oracle sweep (r14, part of
# getting the suite under the driver's time budget — VERDICT r13 #2).
# So the suite runs on 8 slots, not one per host CPU as build_session
# would pick; the heap stays build_session's host-sized default. Query
# RESULTS are invariant to this setting (scripts/config_sweep.py runs
# the registry at shuffle.partitions 7 and 64), so the oracle comparisons
# prove the same contracts; an explicit SPARK_GRAFT_CPUS still wins.
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

import sys

import pytest

from data_etl_spark.session import build_session

# the scripts' shared modules (_oracle, _harness, oracle) import by name
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

from _oracle import duckdb_views  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = build_session("data-etl-spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ddb():
    """DuckDB connection with the same tables registered as views,
    mirroring the driver's oracle environment."""
    con = duckdb_views(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
