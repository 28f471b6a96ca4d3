"""Empty-source contract: an empty ingest day must flow through scans,
aggregations, windows, sinks and ANN search without crashing, and both
engines must agree on the (empty) results. The full fuzz sweep runs on
populated corpora; this guards the all-empty edge for one
representative query per family — the write-path round-trips are the
historically fragile ones (schema inference has nothing to infer when
an empty write produces no files; found by the empty-tables probe)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from _oracle import duckdb_views

from data_etl_spark.plans import REGISTRY

_QUERIES = [
    "q_partitioned_write",  # the probe's catch: fileless read-back
    "q_csv_roundtrip",
    "q_json_roundtrip",
    "q_orc_roundtrip",
    "q_pricing_summary",
    "q_exact_dedup",
    "q_tumbling_window",
    "q_knn_exact",
    "q_interval_sweep",
    "q_dedup_clusters",
]

@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("empty_tables"))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([], pa.int64()),
                "text": pa.array([], pa.string()),
                "lang": pa.array([], pa.string()),
                "source": pa.array([], pa.string()),
                "n_chars": pa.array([], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([], pa.int64()),
                "ts": pa.array([], pa.timestamp("us")),
                "user_id": pa.array([], pa.int64()),
                "event_type": pa.array([], pa.string()),
                "value": pa.array([], pa.float64()),
                "props": pa.array([], pa.string()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([], pa.int64()),
                "embedding": pa.array([], pa.list_(pa.float32())),
                "label": pa.array([], pa.int32()),
            }
        ),
        os.path.join(d, "embeddings.parquet"),
    )
    # every relational table empty too (same column shapes as testdata)
    rel = {
        "region": {"r_regionkey": pa.int32(), "r_name": pa.string()},
        "nation": {
            "n_nationkey": pa.int32(),
            "n_name": pa.string(),
            "n_regionkey": pa.int32(),
        },
        "customer": {
            "c_custkey": pa.int64(),
            "c_name": pa.string(),
            "c_nationkey": pa.int32(),
            "c_acctbal": pa.float64(),
            "c_mktsegment": pa.string(),
        },
        "supplier": {
            "s_suppkey": pa.int64(),
            "s_name": pa.string(),
            "s_nationkey": pa.int32(),
            "s_acctbal": pa.float64(),
        },
        "part": {
            "p_partkey": pa.int64(),
            "p_name": pa.string(),
            "p_brand": pa.string(),
            "p_type": pa.string(),
            "p_size": pa.int32(),
            "p_retailprice": pa.float64(),
        },
        "orders": {
            "o_orderkey": pa.int64(),
            "o_custkey": pa.int64(),
            "o_orderstatus": pa.string(),
            "o_totalprice": pa.float64(),
            "o_orderdate": pa.timestamp("ms"),
            "o_orderpriority": pa.string(),
        },
        "lineitem": {
            "l_orderkey": pa.int64(),
            "l_partkey": pa.int64(),
            "l_suppkey": pa.int64(),
            "l_linenumber": pa.int32(),
            "l_quantity": pa.float64(),
            "l_extendedprice": pa.float64(),
            "l_discount": pa.float64(),
            "l_tax": pa.float64(),
            "l_returnflag": pa.string(),
            "l_linestatus": pa.string(),
            "l_shipdate": pa.timestamp("ms"),
        },
    }
    for t, cols in rel.items():
        pq.write_table(
            pa.table({c: pa.array([], ty) for c, ty in cols.items()}),
            os.path.join(d, f"{t}.parquet"),
        )
    return d


@pytest.mark.parametrize("name", _QUERIES)
def test_empty_source_agrees(spark, empty_dir, name):
    q = REGISTRY[name]
    sdf = q.fn(spark, empty_dir)
    srows = sdf.collect()

    con = duckdb_views(empty_dir)
    odf = con.execute(q.oracle).df()
    assert sorted(sdf.columns) == sorted(odf.columns.tolist()), name
    # q_interval_sweep emits one all-NULL/zero metrics row either way;
    # everything else must be empty-for-empty
    assert len(srows) == len(odf), name
