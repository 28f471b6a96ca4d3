"""Edge-event fixtures through the ordered-window operators, Spark vs
DuckDB: duplicate timestamps (tie-break on event_id must agree),
single-event users, and a user whose events all share one instant."""

from __future__ import annotations

import math
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from _oracle import duckdb_views

from data_etl_spark.plans import REGISTRY

_T0 = 1_700_000_000_000_000  # epoch µs

_EVENTS = [
    # (event_id, ts_us, user_id, event_type, value)
    (1, _T0, 1, "click", 10.0),
    (2, _T0, 1, "view", 20.0),          # same instant as event 1: id breaks the tie
    (3, _T0 + 5_000_000, 1, "purchase", 30.0),
    (4, _T0, 2, "click", 5.0),           # single-event user
    (5, _T0, 3, "view", 1.0),            # all three events at one instant
    (6, _T0, 3, "click", 2.0),
    (7, _T0, 3, "purchase", 3.0),
    # user 4: the session-gap BOUNDARY — second event exactly 30:00
    # after the first (merges into one session: Spark's session_window
    # extends on the boundary, strict > in the oracles; fuzz seed 555),
    # third event 30:00.000001 after the second (strictly over, splits)
    (8, _T0, 4, "click", 1.0),
    (9, _T0 + 1_800_000_000, 4, "view", 2.0),
    (10, _T0 + 3_600_000_001, 4, "purchase", 3.0),
]

_QUERIES = [
    "q_cusum_drift",
    "q_scd2_intervals",
    "q_path_analysis",
    "q_session_window",
    "q_markov_transitions",
    "q_attribution_linear",
]


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_events")
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in _EVENTS], pa.int64()),
            "ts": pa.array([r[1] for r in _EVENTS], pa.int64()).cast(
                pa.timestamp("us")
            ),
            "user_id": pa.array([r[2] for r in _EVENTS], pa.int64()),
            "event_type": pa.array([r[3] for r in _EVENTS]),
            "value": pa.array([r[4] for r in _EVENTS], pa.float64()),
            "props": pa.array(['{"k": 1}'] * len(_EVENTS)),
        }
    )
    pq.write_table(table, os.path.join(str(d), "events.parquet"))
    return str(d)


def _canon(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c] if isinstance(row, dict) else getattr(row, c)
            if isinstance(v, float):
                v = None if math.isnan(v) else round(v, 9)
            if hasattr(v, "item"):
                v = v.item()
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


@pytest.mark.parametrize("name", _QUERIES)
def test_edge_events_match_oracle(spark, fixture_dir, name):
    q = REGISTRY[name]
    sdf = q.fn(spark, fixture_dir)
    spark_rows = [r.asDict() for r in sdf.collect()]

    con = duckdb_views(fixture_dir, ("events",))
    odf = con.execute(q.oracle).df()
    oracle_rows = odf.to_dict("records")

    assert sorted(sdf.columns) == sorted(odf.columns.tolist())
    assert _canon(spark_rows, sdf.columns) == _canon(oracle_rows, sdf.columns), name
