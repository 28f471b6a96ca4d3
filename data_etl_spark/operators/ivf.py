"""IVF (inverted-file) ANN index as a partitioned table (SURVEY.md §2.9
V4 scale path, concretized): assign every corpus vector to its nearest
centroid, write the corpus partitioned by ``cell``, and answer probes by
reading ONLY the probe's cell partition(s) — at 100 TB a top-k search
touches 1/n_cells of the data, enforced by Spark's partition pruning
(visible as PartitionFilters in the scan node).

Centroids are a DataFrame (cent_id, cemb); k-means training is optional
(operators/kmeans.py) — any deterministic centroid set works, including
"first k vectors" for tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions import vectors as V
from .knn import cell_knn


def assign_cells(
    vectors: DataFrame, centroids: DataFrame, id_col: str, vec_col: str,
    nprobe: int = 1,
) -> DataFrame:
    """Nearest-centroid assignment: adds ``cell``. Centroids broadcast
    (they are tiny); ties break on cent_id for determinism. ``nprobe``
    keeps the N nearest cells per vector (probe-side fan-out for recall
    — the multiprobe lever; corpus assignment stays nprobe=1). The ONE
    implementation of this logic: its (id, vector, cell) output is what
    the one in-cell search, operators/knn.py::cell_knn, joins — for
    q_ivf_knn, q_ivf_multiprobe, auto_knn and :func:`ivf_search` — so
    tie-break or distance changes cannot drift between them and their
    oracles.

    Distance is the expanded squared L2 over the n_vectors x n_centroids
    pairs on the JVM expression path (:func:`functions.vectors.l2sq`),
    projected to a column first so the window can order by it; sqrt is
    kept so tie behavior matches the oracle's sqrt-distance ordering
    bit-for-bit."""
    d = F.sqrt(V.l2sq(F.col(vec_col), F.col("cemb")))
    w = W.partitionBy(id_col).orderBy(F.col("__d").asc(), F.col("cent_id").asc())
    return (
        vectors.crossJoin(F.broadcast(centroids))
        .withColumn("__d", d)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select(id_col, vec_col, F.col("cent_id").alias("cell"))
    )


def build_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "emb",
) -> None:
    """Write the corpus as a cell-partitioned parquet table."""
    assigned = assign_cells(corpus, centroids, id_col, vec_col)
    (
        assigned.repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(path)
    )


def ivf_search(
    spark: SparkSession,
    path: str,
    probes: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    q_vec: str = "qemb",
) -> DataFrame:
    """Top-k cosine of each (q_vec_id, ``q_vec``) probe within its cell
    of the index :func:`build_ivf_index` wrote (ids c_vec_id).

    The equi-join on ``cell`` (operators/knn.py::cell_knn) pushes a
    partition filter into the index scan (dynamic partition pruning /
    broadcast join on the partition column), so only the probed cells'
    files are read. The probe assignment and the in-cell pairs both
    score on the JVM expression path.
    """
    q_cells = assign_cells(probes, centroids, "q_vec_id", q_vec)
    return cell_knn(q_cells, spark.read.parquet(path), k)
