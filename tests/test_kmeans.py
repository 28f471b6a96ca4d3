"""k-means invariants: k centroids survive, inertia does not increase
with more rounds, and a trained IVF index still answers correctly."""

from __future__ import annotations

import pyspark.sql.functions as F

from data_etl_spark.functions import vectors as V
from data_etl_spark.operators.ivf import assign_cells, build_ivf_index, ivf_search
from data_etl_spark.operators.kmeans import kmeans_fit
from data_etl_spark.sources import load_table


def _emb(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return e.select("vec_id", V.as_double(F.col("embedding")).alias("emb"))


def _inertia(vectors, centroids) -> float:
    """Sum of squared distances to the assigned centroid."""
    assigned = assign_cells(vectors, centroids, "vec_id", "emb")
    joined = assigned.join(centroids.select(F.col("cent_id").alias("cell"), "cemb"), "cell")
    return joined.agg(F.sum(V.l2sq(F.col("emb"), F.col("cemb")))).collect()[0][0]


def test_kmeans_converges_and_improves(spark, sf_dir):
    vec = _emb(spark, sf_dir)
    init = kmeans_fit(vec, k=4, max_iter=0)
    one = kmeans_fit(vec, k=4, max_iter=1)
    full = kmeans_fit(vec, k=4, max_iter=8)
    assert init.count() == 4 and full.count() == 4
    i0 = _inertia(vec, init)
    i1 = _inertia(vec, one)
    i8 = _inertia(vec, full)
    assert i1 <= i0 * 1.0000001
    assert i8 <= i1 * 1.0000001


def test_trained_ivf_end_to_end(spark, sf_dir, tmp_path):
    vec = _emb(spark, sf_dir)
    cent = kmeans_fit(vec.filter(F.col("vec_id") >= 16), k=4, max_iter=4)
    corpus = vec.filter(F.col("vec_id") >= 16).select(
        F.col("vec_id").alias("c_vec_id"), F.col("emb").alias("cemb2")
    )
    probes = vec.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_vec_id"), F.col("emb").alias("qemb")
    )
    path = str(tmp_path / "ivf_trained")
    build_ivf_index(corpus, cent, path, id_col="c_vec_id", vec_col="cemb2")
    hits = ivf_search(spark, path, probes, cent, k=3).collect()
    assert len(hits) == 4 * 3
    assert all(h.score <= 1.000001 for h in hits)
