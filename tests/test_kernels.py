"""The similarity kernels' two paths (functions/vectors.py): the JVM
expression twins return the Arrow UDFs' doubles bit for bit, and the
operators take the path their caller asks for — the pipeline's per-call
retrieval on the JVM, everything else on the Arrow path."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from data_etl_spark.functions import vectors as V
from data_etl_spark.operators.ivf import assign_cells
from data_etl_spark.operators.knn import cell_knn, exact_knn


def _pairs(spark, dim):
    """(a, b) double-vector pairs of length ``dim``: random values, zero
    vectors on either side (cosine NULL), and repeated vectors, so equal
    scores (ties) occur."""
    import random

    rng = random.Random(dim)
    vecs = [[rng.uniform(-2.0, 2.0) for _ in range(dim)] for _ in range(12)]
    vecs += [[0.0] * dim, vecs[0], vecs[1], [float(i % 3) for i in range(dim)]]
    rows = [(i, a, j, b) for i, a in enumerate(vecs) for j, b in enumerate(vecs)]
    return spark.createDataFrame(rows, "i int, a array<double>, j int, b array<double>")


def _bits(v):
    return None if v is None else v.hex()


@pytest.mark.parametrize("dim", [8, 64])
def test_expression_twins_match_the_arrow_udfs_bit_for_bit(spark, dim):
    df = _pairs(spark, dim).withColumn("na", V.l2_norm(F.col("a"))).withColumn(
        "nb", V.l2_norm(F.col("b"))
    )
    a, b, na, nb = F.col("a"), F.col("b"), F.col("na"), F.col("nb")
    rows = df.select(
        "i", "j",
        V.cosine(a, b).alias("cos"), V.seq_cosine(a, b).alias("seq_cos"),
        V.cosine_pre(a, b, na, nb).alias("pre"),
        V.seq_cosine_pre(a, b, na, nb).alias("seq_pre"),
        V.l2sq(a, b).alias("l2"), V.seq_l2sq(a, b).alias("seq_l2"),
    ).collect()
    assert len(rows) == 16 * 16
    for r in rows:
        assert _bits(r.cos) == _bits(r.seq_cos), r
        assert _bits(r.pre) == _bits(r.seq_pre), r
        assert _bits(r.l2) == _bits(r.seq_l2), r
    # the zero vector (12): NULL cosine on both paths, against every vector
    assert {(r.i, r.j) for r in rows if r.cos is None} == {
        p for p in ((r.i, r.j) for r in rows) if 12 in p
    }
    # ties: a repeated vector scores exactly like its original
    by = {(r.i, r.j): r.cos for r in rows}
    assert all(_bits(by[(13, j)]) == _bits(by[(0, j)]) for j in range(16))


def test_kernel_picks_the_path_the_caller_asks_for():
    for name, expr, arrow in (
        ("cosine", V.cosine, V.seq_cosine),
        ("cosine_pre", V.cosine_pre, V.seq_cosine_pre),
        ("l2sq", V.l2sq, V.seq_l2sq),
    ):
        assert V.kernel(name, True) is expr
        assert V.kernel(name, False) is arrow


def _arrow(df) -> bool:
    return "ArrowEvalPython" in df._jdf.queryExecution().executedPlan().toString()


def _masked(df) -> str:
    """The optimized plan, expression ids and lambda variable ids masked."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"_\d+#", "#", re.sub(r"#\d+", "#", plan))


def _frames(spark):
    q = spark.createDataFrame(
        [(i, [float(i), 1.0, -float(i % 3)]) for i in range(4)], "q_vec_id long, q_emb array<double>"
    )
    c = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0]) for i in range(40)],
        "c_vec_id long, c_emb array<double>",
    )
    cent = c.filter("c_vec_id < 3").select(F.col("c_vec_id").alias("cent_id"), F.col("c_emb").alias("cemb"))
    return q, c, cent


def test_operators_take_the_path_and_default_to_the_arrow_plan(spark):
    """With ``jvm`` no operator plans an ArrowEvalPython node; without
    it each keeps the Arrow UDF, and the default plan is the
    ``jvm=False`` one. Rows are equal on both paths."""
    q, c, cent = _frames(spark)
    builds = {
        "exact": lambda **kw: exact_knn(F.broadcast(q), c, 3, **kw),
        "assign": lambda **kw: assign_cells(c, cent, "c_vec_id", "c_emb", **kw),
        "cell": lambda **kw: cell_knn(
            assign_cells(q, cent, "q_vec_id", "q_emb", **kw),
            assign_cells(c, cent, "c_vec_id", "c_emb", **kw),
            3, **kw,
        ),
    }
    for name, build in builds.items():
        jvm, arrow, default = build(jvm=True), build(jvm=False), build()
        assert _arrow(arrow) and _arrow(default), name
        assert _masked(default) == _masked(arrow), name
        assert not _arrow(jvm), name
        assert sorted(map(tuple, jvm.collect())) == sorted(map(tuple, arrow.collect())), name
