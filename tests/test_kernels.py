"""The similarity kernels' two paths (functions/vectors.py): the JVM
expression twins return the Arrow UDFs' doubles bit for bit, and every
retrieval operator scores on the expression path."""

from __future__ import annotations

import inspect

import pytest
from pyspark.sql import functions as F

from data_etl_spark.functions import vectors as V
from data_etl_spark.operators.ivf import assign_cells, build_ivf_index, ivf_search
from data_etl_spark.operators.knn import cell_knn, exact_knn, rrf_hybrid, top_k
from data_etl_spark.operators.planner import auto_knn


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
    ).collect()
    assert len(rows) == 16 * 16
    for r in rows:
        assert _bits(r.cos) == _bits(r.seq_cos), r
        assert _bits(r.pre) == _bits(r.seq_pre), r
    # the zero vector (12): NULL cosine on both paths, against every vector
    assert {(r.i, r.j) for r in rows if r.cos is None} == {
        p for p in ((r.i, r.j) for r in rows) if 12 in p
    }
    # ties: a repeated vector scores exactly like its original
    by = {(r.i, r.j): r.cos for r in rows}
    assert all(_bits(by[(13, j)]) == _bits(by[(0, j)]) for j in range(16))


def _arrow(df) -> bool:
    return "ArrowEvalPython" in df._jdf.queryExecution().executedPlan().toString()


def test_kernel_picks_the_path_the_caller_asks_for(spark):
    """A caller picks a scoring path by the kernel it names: the
    expression kernels plan no ArrowEvalPython node, the Arrow UDFs that
    registry plans name inline plan one, and no chooser sits between."""
    df = _pairs(spark, 8).withColumn("na", V.l2_norm(F.col("a"))).withColumn(
        "nb", V.l2_norm(F.col("b"))
    )
    a, b, na, nb = F.col("a"), F.col("b"), F.col("na"), F.col("nb")
    for name, col, arrow in (
        ("cosine", V.cosine(a, b), False),
        ("cosine_pre", V.cosine_pre(a, b, na, nb), False),
        ("l2sq", V.l2sq(a, b), False),
        ("seq_cosine", V.seq_cosine(a, b), True),
        ("seq_cosine_pre", V.seq_cosine_pre(a, b, na, nb), True),
    ):
        assert _arrow(df.select(col.alias("s"))) is arrow, name
    assert not hasattr(V, "kernel") and not hasattr(V, "_KERNELS")


def _frames(spark):
    q = spark.createDataFrame(
        [(i, [float(i), 1.0, -float(i % 3)], f"w{i} v{i % 2}") for i in range(4)],
        "q_vec_id long, q_emb array<double>, text string",
    )
    c = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0], f"w{i % 6} v{i % 4}") for i in range(40)],
        "c_vec_id long, c_emb array<double>, text string",
    )
    cent = c.filter("c_vec_id < 3").select(F.col("c_vec_id").alias("cent_id"), F.col("c_emb").alias("cemb"))
    return q, c, cent


def test_retrieval_operators_plan_no_arrow_udf(spark, tmp_path):
    """Every retrieval operator, both auto_knn branches included, scores
    on the JVM expression kernels: no ArrowEvalPython node in its plan."""
    q, c, cent = _frames(spark)
    probes, corpus = q.select("q_vec_id", "q_emb"), c.select("c_vec_id", "c_emb")
    path = str(tmp_path / "ivf")
    build_ivf_index(corpus, cent, path, id_col="c_vec_id", vec_col="c_emb")
    plans = {
        "exact_knn": exact_knn(F.broadcast(probes), corpus, 3),
        "assign_cells": assign_cells(corpus, cent, "c_vec_id", "c_emb"),
        "cell_knn": cell_knn(
            assign_cells(probes, cent, "q_vec_id", "q_emb"),
            assign_cells(corpus, cent, "c_vec_id", "c_emb"),
            3,
        ),
        "rrf_hybrid": rrf_hybrid(q, c, 3, topn=5),
        "ivf_search": ivf_search(spark, path, probes, cent, k=3, q_vec="q_emb"),
        "auto_knn exact": auto_knn(probes, corpus, k=3, threshold=40),
        "auto_knn ivf": auto_knn(probes, corpus, k=3, threshold=39, n_centroids=3),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan, name
        assert df.count() > 0, name
    # each auto_knn test above took the branch its name says
    assert "cell#" not in plans["auto_knn exact"]._jdf.queryExecution().optimizedPlan().toString()
    assert "cell#" in plans["auto_knn ivf"]._jdf.queryExecution().optimizedPlan().toString()


def _ranked(df):
    return sorted((r.q_vec_id, r.rank, r.c_vec_id, _bits(r.score)) for r in df.collect())


def test_operators_take_the_path_and_default_to_the_arrow_plan(spark):
    """No operator takes an argument that picks its kernel, and the one
    path it takes ranks the rows, scores bit for bit, of the Arrow UDF
    plan over the same pairs."""
    for op in (exact_knn, cell_knn, assign_cells, rrf_hybrid, ivf_search, auto_knn):
        assert "jvm" not in inspect.signature(op).parameters, op.__name__
    q, c, cent = _frames(spark)
    probes, corpus = q.select("q_vec_id", "q_emb"), c.select("c_vec_id", "c_emb")
    qn = probes.withColumn("qn", V.l2_norm(F.col("q_emb")))
    cn = corpus.withColumn("cn", V.l2_norm(F.col("c_emb")))
    arrow_exact = top_k(
        F.broadcast(qn).crossJoin(cn).select(
            "q_vec_id", "c_vec_id",
            V.seq_cosine_pre(F.col("q_emb"), F.col("c_emb"), F.col("qn"), F.col("cn")).alias("score"),
        ),
        3,
    )
    qc = assign_cells(probes, cent, "q_vec_id", "q_emb")
    cc = assign_cells(corpus, cent, "c_vec_id", "c_emb")
    arrow_cell = top_k(
        qc.join(cc, "cell").select(
            "q_vec_id", "c_vec_id", V.seq_cosine(F.col("q_emb"), F.col("c_emb")).alias("score")
        ),
        3,
    )
    for name, got, want in (
        ("exact_knn", exact_knn(F.broadcast(probes), corpus, 3), arrow_exact),
        ("cell_knn", cell_knn(qc, cc, 3), arrow_cell),
    ):
        assert not _arrow(got) and _arrow(want), name
        rows = _ranked(got)
        assert rows == _ranked(want), name
        assert len(rows) == 4 * 3, name
