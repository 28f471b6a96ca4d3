"""Checkpoint rotation (cache.CheckpointRotation): an iterative loop's
per-round tables replace each other, so a loop holds its long-lived
input plus its newest round, however many rounds it runs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_etl_spark import cache as C


def test_rotation_drops_the_previous_round(spark):
    sc = spark.sparkContext
    C.release_tracked()
    rot = C.CheckpointRotation()
    first = rot.checkpoint(spark.range(100).toDF("n"))
    (first_entry,) = C._TRACKED_CKPT
    assert set(first_entry[1]) <= C.persistent_rdd_ids(sc)
    second = rot.checkpoint(first.selectExpr("n + 1 AS n"))
    (second_entry,) = C._TRACKED_CKPT
    assert not (set(first_entry[1]) & C.persistent_rdd_ids(sc))
    # the new round was materialized before its parent went away
    assert second.agg(F.sum("n")).first()[0] == sum(range(1, 101))
    rot.release()
    assert C._TRACKED_CKPT == []
    assert not (set(second_entry[1]) & C.persistent_rdd_ids(sc))
    rot.release()  # a released (or drained) round is not dropped twice


def test_rotation_bounds_resident_tables(spark):
    """After R rounds, only the LAST round's checkpoint blocks remain
    registered, and release_tracked drains them."""
    sc = spark.sparkContext
    C.release_tracked()
    base = C.persistent_rdd_ids(sc)
    rot = C.CheckpointRotation()
    cur = spark.range(1000).toDF("n")
    for _ in range(4):
        cur = rot.checkpoint(cur.selectExpr("n + 1 AS n"))
    (last,) = C._TRACKED_CKPT
    assert C.persistent_rdd_ids(sc) - base == set(last[1])
    assert cur.agg(F.min("n")).first()[0] == 4
    C.release_tracked()
    assert not (C.persistent_rdd_ids(sc) - base)


def test_keep_fills_the_cache_before_the_round_rotates(spark):
    C.release_tracked()
    rot = C.CheckpointRotation()
    cur = rot.checkpoint(spark.range(50).toDF("n"))
    winner, n = rot.keep(cur.orderBy(F.desc("n")).limit(1))
    rot.checkpoint(cur.selectExpr("n * 2 AS n"))  # drops the round winner reads
    assert n == 1 and winner.first()["n"] == 49
    C.release_tracked()


def _chain_components(spark, sf_dir):
    from data_etl_spark.operators.components import connected_components

    # a 201-node chain: ~8 doubling rounds
    edges = spark.range(200).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    return connected_components(edges)


def _kmeans(spark, sf_dir):
    from data_etl_spark.operators.kmeans import kmeans_fit

    vec = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.array(F.sin("id"), F.cos(F.col("id") * 3), (F.col("id") % 17) / 17.0).alias("emb"),
    )
    return kmeans_fit(vec, k=4, max_iter=6)


def _query(name):
    def run(spark, sf_dir):
        from data_etl_spark.plans import REGISTRY

        return REGISTRY[name].fn(spark, sf_dir)

    return run


@pytest.mark.parametrize(
    "build,bound",
    [
        # the symmetrized edge table + the newest label table
        pytest.param(_chain_components, 2, id="connected_components"),
        pytest.param(_kmeans, 1, id="kmeans_fit"),
        # the round-0 edge table (the node set reads it) + the newest round
        pytest.param(_query("q_kcore_peel"), 2, id="q_kcore_peel"),
        pytest.param(_query("q_bpe_merges"), 1, id="q_bpe_merges"),
        pytest.param(_query("q_kcenter_coreset"), 1, id="q_kcenter_coreset"),
        pytest.param(_query("q_pca_power"), 1, id="q_pca_power"),
    ],
)
def test_iterative_operator_holds_one_round(spark, sf_dir, build, bound):
    """Before the drain, an iterative operator holds its long-lived input
    plus its newest round, and what it returns still reads."""
    C.release_tracked()
    out = build(spark, sf_dir)
    held = len(C._TRACKED_CKPT)
    rows = out.collect()
    C.release_tracked()
    assert rows
    assert held <= bound, f"{held} checkpoints resident, want <= {bound}"
