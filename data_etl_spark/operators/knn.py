"""Top-k retrieval over embedding columns (SURVEY.md §2.9 V4): the one
home of the ranking rule, exact and in-cell kNN, hybrid RRF fusion and
recall@k. Every search path (``ETLPipeline.search/ann_search/
hybrid_search``, ``planner.auto_knn``, ``ivf.ivf_search`` and the
similarity plans) ranks through :func:`top_k`, so a change to the
tie-break or the scoring cannot drift between them and their oracles.

Exact path: broadcast the (small) query set against the corpus, score
with JVM-side higher-order-function expressions, rank with a window —
the crossJoin is queries×corpus, linear in the corpus because the query
side broadcasts. IVF path: assign vectors to nearest centroid first,
then search only the probe's cell — the 100 TB strategy (cells are the
partition key, so each lookup touches one partition's worth of data).

Frames are keyed ``q_vec_id`` (queries) and ``c_vec_id`` (corpus);
exact search reads vectors from ``q_emb`` / ``c_emb``.

The reference only *builds* its index (Qdrant/FAISS,
reference ``src/managers/index_manager.py:96-128,174-200``); search
semantics here follow its cosine/L2 config (`:111,188-190`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions import vectors as V


def top_k(scored: DataFrame, k: int, score: str = "score", rank: str = "rank") -> DataFrame:
    """Each query's ``k`` best candidates: ``score`` descending, ties
    broken by ascending ``c_vec_id``, numbered 1..k in ``rank``.

    ``scored`` carries (q_vec_id, c_vec_id, ``score``); the result is
    (q_vec_id, ``rank``, c_vec_id, ``score``) — the SQL twin is
    ``row_number() OVER (PARTITION BY q_vec_id ORDER BY score DESC,
    c_vec_id) <= k``.
    """
    w = W.partitionBy("q_vec_id").orderBy(F.desc(score), F.asc("c_vec_id"))
    return (
        scored.withColumn(rank, F.row_number().over(w))
        .filter(F.col(rank) <= k)
        .select("q_vec_id", rank, "c_vec_id", score)
    )


def exact_knn(queries: DataFrame, corpus: DataFrame, k: int = 5) -> DataFrame:
    """Top-k by cosine of each (q_vec_id, q_emb) query over the
    (c_vec_id, c_emb) corpus, scored on the JVM expression path
    (functions.vectors.cosine_pre).

    Inputs must carry double-cast embedding arrays (functions.vectors
    .as_double) so scores are bit-identical with the SQL oracle.
    """
    # norms once per vector (not per pair): same IEEE doubles, 1/3 the
    # higher-order-function folds on the queries x corpus blow-up.
    q = queries.withColumn("__qn", V.l2_norm(F.col("q_emb")))
    c = corpus.withColumn("__cn", V.l2_norm(F.col("c_emb")))
    score = V.cosine_pre(F.col("q_emb"), F.col("c_emb"), F.col("__qn"), F.col("__cn"))
    return top_k(q.crossJoin(c).select("q_vec_id", "c_vec_id", score.alias("score")), k)


def cell_knn(q_cells: DataFrame, c_cells: DataFrame, k: int) -> DataFrame:
    """Top-k cosine of each probe among the corpus vectors of its cell(s).

    Both inputs are :func:`operators.ivf.assign_cells` outputs, columns
    (id, vector, cell) with ids q_vec_id / c_vec_id; the vector columns
    are found by that position. The equi-join on ``cell`` pairs a probe
    only with its cells' corpus rows; when ``c_cells`` is the
    cell-partitioned index table, the join prunes the scan to the
    probed cells' partitions. Scored on the JVM expression path
    (functions.vectors.cosine).
    """
    score = V.cosine(F.col(q_cells.columns[1]), F.col(c_cells.columns[1]))
    return top_k(
        q_cells.join(c_cells, "cell").select("q_vec_id", "c_vec_id", score.alias("score")), k
    )


def rrf_hybrid(
    queries: DataFrame, corpus: DataFrame, k: int, topn: int = 20, rrf_k: int = 60
) -> DataFrame:
    """Hybrid dense + lexical retrieval with reciprocal-rank fusion.

    ``queries`` carries (q_vec_id, q_emb, text), ``corpus`` (c_vec_id,
    c_emb, text). Dense leg: :func:`exact_knn` top-``topn``. Lexical
    leg: distinct-word-overlap top-``topn`` via an inverted-index join
    on word (never all-pairs text comparison; integer counts, so ranks
    are bit-exact across engines). Fusion: sum(1/(rrf_k + rank)) over
    the legs a candidate appears in, cut to ``k``. Returns (q_vec_id,
    rank, c_vec_id, rrf).
    """
    dense = exact_knn(
        F.broadcast(queries.select("q_vec_id", "q_emb")), corpus.select("c_vec_id", "c_emb"), topn
    ).select("q_vec_id", "c_vec_id", F.col("rank").alias("rd"))
    qw = queries.select("q_vec_id", F.explode(TX.words(F.col("text"))).alias("word")).distinct()
    cw = corpus.select("c_vec_id", F.explode(TX.words(F.col("text"))).alias("word")).distinct()
    overlap = (
        F.broadcast(qw)
        .join(cw, "word")
        .groupBy("q_vec_id", "c_vec_id")
        .agg(F.count("*").alias("overlap"))
    )
    lex = top_k(overlap, topn, score="overlap", rank="rl").drop("overlap")
    fused = dense.join(lex, ["q_vec_id", "c_vec_id"], "full_outer").select(
        "q_vec_id",
        "c_vec_id",
        (
            F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("rd")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("rl")), F.lit(0.0))
        ).alias("rrf"),
    )
    return top_k(fused, k, score="rrf")


def recall_at_k(queries: DataFrame, exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """recall@k of an approximate top-k against the exact one: per
    q_vec_id of ``queries``, ``n_overlap`` = shared (q_vec_id, c_vec_id)
    hits and ``recall`` = n_overlap / k.

    Base rows come from ``queries``, so a query with no exact hits (an
    empty corpus slice) reports 0 instead of vanishing.
    """
    pair = ["q_vec_id", "c_vec_id"]
    matches = (
        exact.select(pair).join(approx.select(pair), pair)
        .groupBy("q_vec_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    n = F.coalesce("n_overlap", F.lit(0))
    return queries.select("q_vec_id").join(matches, "q_vec_id", "left").select(
        "q_vec_id", n.alias("n_overlap"), (n / F.lit(float(k))).alias("recall")
    )
