"""DataFrame-native Lloyd's k-means — trains the centroids that feed the
IVF index (operators/ivf.py). Demonstrates the iterative-algorithm
pattern on plain DataFrames (like operators/components.py): each round
is assign (broadcast centroids) -> per-dimension mean (posexplode +
groupBy) -> localCheckpoint to truncate lineage. The centroid tables
rotate (cache.CheckpointRotation): each round's table carries the
previous centroids as ``prev`` so the convergence probe is a scan of the
new checkpoint, and the previous round is dropped as soon as the new
one is materialized — the loop holds one centroid table at any time.

Determinism: init = the k vectors with the smallest ids; ties in
assignment break on cent_id. Centroid means sum floats across
partitions, so exact reproducibility of low-order bits is NOT promised
(unlike the oracle-checked operators) — kmeans is a training utility,
not a correctness-path query; tests assert invariants (inertia
monotonicity, cover, stability), not bit equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..cache import CheckpointRotation
from .ivf import assign_cells


def kmeans_fit(
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "emb",
    max_iter: int = 10,
) -> DataFrame:
    """Returns centroids (cent_id, cemb) after at most ``max_iter`` rounds."""
    ckpt = CheckpointRotation()
    cent = ckpt.checkpoint(
        vectors.orderBy(id_col)
        .limit(k)
        .select(F.col(id_col), F.col(vec_col))
        .withColumn("cent_id", F.row_number().over(W.orderBy(id_col)) - 1)
        .select("cent_id", F.col(vec_col).alias("cemb"))
    )

    for _ in range(max_iter):
        assigned = assign_cells(vectors, cent, id_col, vec_col)
        new_cent = (
            assigned.select("cell", F.posexplode(F.col(vec_col)).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.m,
                ).alias("cemb")
            )
            .select(F.col("cell").alias("cent_id"), "cemb")
            .join(cent.select("cent_id", F.col("cemb").alias("prev")), "cent_id")
        )
        new_cent = ckpt.checkpoint(new_cent)
        # converged when assignments can't change: compare centroid sets
        moved = new_cent.filter(F.col("cemb") != F.col("prev")).count()
        cent = new_cent.select("cent_id", "cemb")
        if moved == 0:
            break
    return cent

