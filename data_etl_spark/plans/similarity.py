"""Similarity-search queries over ``embeddings`` (SURVEY.md §2.9,
Phase 3; north-star ANN requirement).

Exact brute-force cosine top-k is the baseline; IVF (centroid-cell
restricted search) is the scale path, here with deterministic centroids
so even the ANN variant has an exact oracle. Scores are bit-identical
across engines (see functions/vectors.py docstring); distances use the
expanded-dot-product form sqrt(aa + bb - 2ab) so both engines evaluate
the *same* expression tree.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from ..cache import tracked_persist
from ..functions import vectors as V
from ..operators.ivf import assign_cells
from ..operators.knn import cell_knn, exact_knn, recall_at_k, rrf_hybrid
from ..sources import load_table
from .registry import register, register_cap

_EMB_D = V.as_double_sql("embedding")

#: vector contract (fuzz --nulls): NULL arrays / NULL elements carry no
#: geometry — excluded on BOTH sides of every geometric query in this
#: module. Engine twin: _embeddings() below.
_EMB_OK = V.valid_embedding_sql("embedding")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table under the vector contract: rows whose array
    is non-NULL with no NULL elements (:func:`functions.vectors.
    valid_embedding`). Oracle twin: ``WHERE {_EMB_OK}``."""
    return load_table(spark, sf_dir, "embeddings").filter(
        V.valid_embedding(F.col("embedding"))
    )

# ---------------------------------------------------------------------------
# q_knn_exact — brute-force cosine top-5: queries = vec_id < 10.
# ---------------------------------------------------------------------------

_KNN_ORACLE = f"""
WITH q AS (SELECT vec_id AS q_vec_id, {_EMB_D} AS q_emb FROM embeddings WHERE {_EMB_OK} AND vec_id < 10),
c AS (SELECT vec_id AS c_vec_id, {_EMB_D} AS c_emb FROM embeddings WHERE {_EMB_OK} AND vec_id >= 10),
scored AS (
    SELECT q.q_vec_id, c.c_vec_id, {V.cosine_sql('q.q_emb', 'c.c_emb')} AS score
    FROM q CROSS JOIN c
)
SELECT q_vec_id, rank, c_vec_id, score FROM (
    SELECT *, row_number() OVER (PARTITION BY q_vec_id ORDER BY score DESC, c_vec_id) AS rank
    FROM scored
)
WHERE rank <= 5
"""


@register("q_knn_exact", oracle=_KNN_ORACLE, tags=("phase3", "similarity", "bench"))
def q_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 10 query vectors (broadcast × corpus scan)."""
    e = _embeddings(spark, sf_dir)
    emb = V.as_double(F.col("embedding"))
    q = (
        e.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("q_vec_id"), emb.alias("q_emb"))
    )
    c = (
        e.filter(F.col("vec_id") >= 10)
        .select(F.col("vec_id").alias("c_vec_id"), emb.alias("c_emb"))
    )
    return exact_knn(F.broadcast(q), c, k=5)


# ---------------------------------------------------------------------------
# q_cosine_pairs — embedding-cosine near-dup: top-100 same-label pairs.
# Label partition bounds the pair blow-up (the 100 TB version buckets by
# LSH/IVF cell instead of a trusted label column).
#
# SF-capped at vec_id < _PAIRS_CAP (the q_dedup_auto_dense /
# q_ml_minhash_join precedent, round 10): labels are fixed-cardinality,
# so same-label pair work is ~n^2/10 — intrinsically quadratic however
# fast the kernel (the r8 Arrow rewrite took it 50.9 s -> 7.5 s at sf1,
# but 10x data is still ~100x cosines, 19x wall in the r10 rehearsal,
# permanently astride the 12x gate). This query's job is the EXACT
# brute-force baseline for the near-dup family; its scale paths are the
# bucketed twins (q_semantic_dedup's IVF cells, q_embed_dedup_clusters,
# the LSH/kNN family), so the exact check runs at a fixed corpus size.
# ---------------------------------------------------------------------------

#: cap = the sf0.1 embeddings corpus (driver SFs sit fully below it)
_PAIRS_CAP = 2000

_PAIRS_ORACLE = f"""
WITH e AS (SELECT vec_id, label, {_EMB_D} AS emb FROM embeddings
           WHERE {_EMB_OK} AND vec_id < {_PAIRS_CAP})
SELECT a.label, a.vec_id AS vec1, b.vec_id AS vec2,
       {V.cosine_sql('a.emb', 'b.emb')} AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
ORDER BY cos_sim DESC, vec1, vec2
LIMIT 100
"""


register_cap(
    "q_cosine_pairs", "vec_id", _PAIRS_CAP, "_PAIRS_CAP",
    "exact all-pairs cosine baseline: same-label pair work is ~n²/10 "
    "(fixed-cardinality labels), intrinsically quadratic — the bucketed "
    "twins are the scale path; this runs at a fixed size (r10 rehearsal "
    "FAIL fix)",
)


@register("q_cosine_pairs", oracle=_PAIRS_ORACLE, tags=("phase3", "similarity"))
def q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 most-similar same-label vector pairs (near-dup by cosine).

    The label self-join + expression cosine was exact but paid an
    interpreted fold on the quadratic pair set (50.9 s / 40x at the sf1
    rehearsal — labels are fixed-cardinality, so group size grows with
    the corpus). Now a per-label Arrow kernel
    (operators/pairs.top_cosine_pairs_per_group) accumulates the dot
    matrix dimension-by-dimension — the exact left-fold addition order
    of F.aggregate and DuckDB's list_dot_product, so values stay
    bit-identical to this unchanged oracle — and only O(k) rows per
    label reach the global TakeOrdered. Input SF-capped at vec_id <
    _PAIRS_CAP on both sides — see the block comment: the exact
    all-pairs baseline runs at a fixed size; the bucketed twins are the
    scale path."""
    from ..operators.pairs import top_cosine_pairs_per_group

    e = (
        _embeddings(spark, sf_dir)
        .filter(F.col("vec_id") < _PAIRS_CAP)
        .select(
            "vec_id",
            "label",
            V.as_double(F.col("embedding")).alias("emb"),
        )
    )
    top = top_cosine_pairs_per_group(e, k=100)
    return top.orderBy(F.desc("cos_sim"), "vec1", "vec2").limit(100)


# ---------------------------------------------------------------------------
# q_vector_stats — per-label norm statistics (decimal-exact averaging).
# ---------------------------------------------------------------------------

_VSTATS_ORACLE = f"""
WITH n AS (
    SELECT label, {V.l2_norm_sql(_EMB_D)} AS nrm FROM embeddings WHERE {_EMB_OK}
)
SELECT label, count(*) AS n_vectors,
       CAST(sum(CAST(nrm AS DECIMAL(18,12))) AS DOUBLE) / count(*) AS avg_norm,
       min(nrm) AS min_norm,
       max(nrm) AS max_norm
FROM n
GROUP BY label
"""


@register("q_vector_stats", oracle=_VSTATS_ORACLE, tags=("phase3", "similarity"))
def q_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector-norm stats (V3 distance-config analog)."""
    e = _embeddings(spark, sf_dir)
    nrm = V.l2_norm(V.as_double(F.col("embedding")))
    return (
        e.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            (F.sum(F.col("nrm").cast("decimal(18,12)")).cast("double") / F.count("*")).alias(
                "avg_norm"
            ),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        )
    )


# ---------------------------------------------------------------------------
# q_ivf_knn — IVF-style ANN with deterministic centroids (vec_id < 8):
# assign every corpus vector to its nearest centroid cell, then each
# probe (vec_id in [8,16)) searches only its own cell. Exact oracle.
# ---------------------------------------------------------------------------

#: IVF fixture split (shared by q_ivf_knn, q_ivf_recall and both
#: oracles — change in ONE place): centroids = vec_id < _IVF_CENT_MAX,
#: probes = [_IVF_CENT_MAX, _IVF_PROBE_MAX), corpus = >= _IVF_PROBE_MAX.
_IVF_CENT_MAX = 8
_IVF_PROBE_MAX = 16

_DIST = "sqrt({aa} + {bb} - 2 * {ab})"


def _dist_sql(a: str, b: str) -> str:
    return _DIST.format(
        aa=V.dot_sql(a, a), bb=V.dot_sql(b, b), ab=V.dot_sql(a, b)
    )


_IVF_ORACLE = f"""
WITH cent AS (SELECT vec_id AS cent_id, {_EMB_D} AS cemb FROM embeddings WHERE {_EMB_OK} AND vec_id < {_IVF_CENT_MAX}),
probe AS (SELECT vec_id AS q_vec_id, {_EMB_D} AS qemb FROM embeddings WHERE {_EMB_OK} AND vec_id >= {_IVF_CENT_MAX} AND vec_id < {_IVF_PROBE_MAX}),
corpus AS (SELECT vec_id AS c_vec_id, {_EMB_D} AS cemb2 FROM embeddings WHERE {_EMB_OK} AND vec_id >= {_IVF_PROBE_MAX}),
c_assign AS (
    SELECT c_vec_id, cemb2, cent_id AS cell FROM (
        SELECT c.c_vec_id, c.cemb2, k.cent_id,
               row_number() OVER (PARTITION BY c.c_vec_id
                                  ORDER BY {_dist_sql('c.cemb2', 'k.cemb')}, k.cent_id) AS rn
        FROM corpus c CROSS JOIN cent k
    ) WHERE rn = 1
),
q_assign AS (
    SELECT q_vec_id, qemb, cent_id AS cell FROM (
        SELECT p.q_vec_id, p.qemb, k.cent_id,
               row_number() OVER (PARTITION BY p.q_vec_id
                                  ORDER BY {_dist_sql('p.qemb', 'k.cemb')}, k.cent_id) AS rn
        FROM probe p CROSS JOIN cent k
    ) WHERE rn = 1
)
SELECT q_vec_id, rank, c_vec_id, score FROM (
    SELECT q.q_vec_id, c.c_vec_id,
           {V.cosine_sql('q.qemb', 'c.cemb2')} AS score,
           row_number() OVER (PARTITION BY q.q_vec_id
                              ORDER BY {V.cosine_sql('q.qemb', 'c.cemb2')} DESC, c.c_vec_id) AS rank
    FROM q_assign q JOIN c_assign c ON q.cell = c.cell
)
WHERE rank <= 5
"""


def _ivf_knn(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """In-cell top-5 cosine of the IVF probe split, each probe searching
    its ``nprobe`` nearest cells (operators/knn.py::cell_knn)."""
    e = _embeddings(spark, sf_dir)
    emb = V.as_double(F.col("embedding"))
    cent = e.filter(F.col("vec_id") < _IVF_CENT_MAX).select(
        F.col("vec_id").alias("cent_id"), emb.alias("cemb")
    )
    probe = e.filter(
        (F.col("vec_id") >= _IVF_CENT_MAX) & (F.col("vec_id") < _IVF_PROBE_MAX)
    ).select(F.col("vec_id").alias("q_vec_id"), emb.alias("qemb"))
    corpus = e.filter(F.col("vec_id") >= _IVF_PROBE_MAX).select(
        F.col("vec_id").alias("c_vec_id"), emb.alias("cemb2")
    )
    return cell_knn(
        assign_cells(probe, cent, "q_vec_id", "qemb", nprobe=nprobe),
        assign_cells(corpus, cent, "c_vec_id", "cemb2"),
        k=5,
    )


@register("q_ivf_knn", oracle=_IVF_ORACLE, tags=("phase3", "similarity"))
def q_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: centroid-cell assignment then in-cell top-5 cosine.

    The scale path for V4: at 100 TB the corpus is written partitioned by
    ``cell`` so a probe reads one cell; centroids broadcast.
    """
    return _ivf_knn(spark, sf_dir, nprobe=1)


# ---------------------------------------------------------------------------
# q_ivf_multiprobe — IVF search with nprobe=2: each probe searches its
# TWO nearest cells, the standard recall lever when the true neighbor
# sits just across a cell boundary (q_ivf_knn is the nprobe=1 shape).
# Corpus assignment is unchanged (rn = 1); only the probe fans out, so
# scan cost doubles per probe while the corpus layout and partition
# pruning stay identical. Exact oracle: rn <= 2 on the probe side.
# ---------------------------------------------------------------------------

_MULTIPROBE_ORACLE = f"""
WITH cent AS (SELECT vec_id AS cent_id, {_EMB_D} AS cemb FROM embeddings WHERE {_EMB_OK} AND vec_id < {_IVF_CENT_MAX}),
probe AS (SELECT vec_id AS q_vec_id, {_EMB_D} AS qemb FROM embeddings WHERE {_EMB_OK} AND vec_id >= {_IVF_CENT_MAX} AND vec_id < {_IVF_PROBE_MAX}),
corpus AS (SELECT vec_id AS c_vec_id, {_EMB_D} AS cemb2 FROM embeddings WHERE {_EMB_OK} AND vec_id >= {_IVF_PROBE_MAX}),
c_assign AS (
    SELECT c_vec_id, cemb2, cent_id AS cell FROM (
        SELECT c.c_vec_id, c.cemb2, k.cent_id,
               row_number() OVER (PARTITION BY c.c_vec_id
                                  ORDER BY {_dist_sql('c.cemb2', 'k.cemb')}, k.cent_id) AS rn
        FROM corpus c CROSS JOIN cent k
    ) WHERE rn = 1
),
q_assign AS (
    SELECT q_vec_id, qemb, cent_id AS cell FROM (
        SELECT p.q_vec_id, p.qemb, k.cent_id,
               row_number() OVER (PARTITION BY p.q_vec_id
                                  ORDER BY {_dist_sql('p.qemb', 'k.cemb')}, k.cent_id) AS rn
        FROM probe p CROSS JOIN cent k
    ) WHERE rn <= 2
)
SELECT q_vec_id, rank, c_vec_id, score FROM (
    SELECT q.q_vec_id, c.c_vec_id,
           {V.cosine_sql('q.qemb', 'c.cemb2')} AS score,
           row_number() OVER (PARTITION BY q.q_vec_id
                              ORDER BY {V.cosine_sql('q.qemb', 'c.cemb2')} DESC, c.c_vec_id) AS rank
    FROM q_assign q JOIN c_assign c ON q.cell = c.cell
)
WHERE rank <= 5
"""


@register("q_ivf_multiprobe", oracle=_MULTIPROBE_ORACLE, tags=("phase3", "similarity"))
def q_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2: probes search their two nearest cells."""
    return _ivf_knn(spark, sf_dir, nprobe=2)


# ---------------------------------------------------------------------------
# q_rp_lsh_pairs — random-hyperplane (SimHash-for-vectors) LSH near-dup:
# the scale path for embedding-cosine dedup when no trusted blocking
# label exists. Hyperplane coefficients are a deterministic integer grid
# generated once in Python and inlined as literals in BOTH dialects, so
# the signature (sign of each integer-coefficient dot product) is
# bit-identical and the oracle stays exact.
#
# Banded form (AND within a band, OR across bands): each 16-plane band
# gives 2^16 buckets, so in-bucket occupancy — and the quadratic
# candidate blow-up a narrow signature causes — shrinks by 256x vs the
# old single 8-plane signature; OR-ing the bands recovers recall. Band
# width scales as ~log2(corpus) + margin at larger corpora. Output is
# additionally gated by cos_sim >= _RP_TAU so emitted volume is bounded
# by true near-dups, not by candidate count.
# ---------------------------------------------------------------------------

_N_BANDS = 2
_BAND_W = 16  # planes per band; buckets per band = 2^16
_DIM = 64
_RP_TAU = 0.25


def _plane(j: int) -> list[float]:
    # integer grid in [-9, 9]; no RNG (determinism across engines/retries)
    return [float((i * 37 + j * 53 + 11) % 19 - 9) for i in range(_DIM)]


_PLANES = [_plane(j) for j in range(_N_BANDS * _BAND_W)]


def _band_sql(band: int) -> str:
    bits = []
    for k in range(_BAND_W):
        p = _PLANES[band * _BAND_W + k]
        lit = "[" + ", ".join(f"{v:.1f}" for v in p) + "]"
        bits.append(f"CASE WHEN list_dot_product(emb, {lit}) >= 0 THEN {2**k} ELSE 0 END")
    return " + ".join(bits)


# Shared CTE chain: embeddings -> band signatures -> OR-combined
# candidates -> exact-cosine thresholded near-dup pairs. Reused by the
# pair query and the clustering query below.
_RP_PAIR_CTES = f"""
e AS (SELECT vec_id, {_EMB_D} AS emb FROM embeddings WHERE {_EMB_OK}),
sig AS (SELECT vec_id, emb, {_band_sql(0)} AS s0, {_band_sql(1)} AS s1 FROM e),
cand AS (
    SELECT a.vec_id AS vec1, b.vec_id AS vec2, a.emb AS emb1, b.emb AS emb2
    FROM sig a JOIN sig b ON a.s0 = b.s0 AND a.vec_id < b.vec_id
    UNION
    SELECT a.vec_id, b.vec_id, a.emb, b.emb
    FROM sig a JOIN sig b ON a.s1 = b.s1 AND a.vec_id < b.vec_id
),
near_dup AS (
    SELECT vec1, vec2, cos_sim
    FROM (SELECT vec1, vec2, {V.cosine_sql('emb1', 'emb2')} AS cos_sim FROM cand)
    WHERE cos_sim >= {_RP_TAU}
)"""

_RP_ORACLE = f"""
WITH {_RP_PAIR_CTES}
SELECT vec1, vec2, cos_sim FROM near_dup
"""


def _band_col(band: int) -> Column:
    """Expression-path band signature (reference semantics; see
    ``_band_sigs`` for the Arrow fast path used in the query —
    tests/test_plans.py asserts they are bit-identical)."""
    sig_col = None
    for k in range(_BAND_W):
        lit = F.array(*[F.lit(v) for v in _PLANES[band * _BAND_W + k]])
        bit = F.when(V.dot(F.col("emb"), lit) >= 0, F.lit(2**k)).otherwise(F.lit(0))
        sig_col = bit if sig_col is None else sig_col + bit
    return sig_col


_SIG_SCHEMA = T.StructType(
    [T.StructField(f"s{b}", T.LongType()) for b in range(_N_BANDS)]
)


@F.pandas_udf(_SIG_SCHEMA)
def _band_sigs(emb: pd.Series) -> pd.DataFrame:
    """Arrow-path band signatures: all 32 plane dot products per batch.

    Bit-identical to ``_band_col`` (and the oracle's list_dot_product):
    elementwise multiply rounds identically to the JVM's, and
    cumsum(axis=1) is the same left-to-right sequential double fold as
    the aggregate() expression — so every sign decision matches. The
    expression path evaluates ~32x64 interpreted lambda steps per row;
    this is two vectorized matmul-shaped loops per batch.
    """
    if len(emb) == 0:
        return pd.DataFrame(
            {f"s{b}": pd.Series(dtype="int64") for b in range(_N_BANDS)}
        )
    E = np.stack(emb.to_numpy()).astype(np.float64, copy=False)
    planes = np.array(_PLANES, dtype=np.float64)
    out = {}
    for band in range(_N_BANDS):
        s = np.zeros(len(E), dtype=np.int64)
        for k in range(_BAND_W):
            d = np.cumsum(E * planes[band * _BAND_W + k], axis=1)[:, -1]
            s |= (d >= 0).astype(np.int64) << k
        out[f"s{band}"] = s
    return pd.DataFrame(out)


@register("q_rp_lsh_pairs", oracle=_RP_ORACLE, tags=("phase3", "similarity", "dedup"))
def q_rp_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded random-projection LSH near-dup pairs, exact-cosine scored.

    100 TB shape: each band signature is the shuffle key of its own
    bounded-bucket self-join (never all-pairs); bands are OR-combined
    with a pair-level dedup, then candidates below _RP_TAU are dropped
    so output volume tracks true near-dups. Widen _BAND_W with corpus
    size (>= log2(n) + margin) to keep per-bucket occupancy O(1).
    """
    e = _embeddings(spark, sf_dir).select(
        "vec_id", V.as_double(F.col("embedding")).alias("emb")
    )
    # persist: the 32-dot signature + norm is consumed by FOUR scans
    # (two join legs x two bands) — without the cache each leg would
    # recompute the whole expression chain.
    sig = tracked_persist(
        e.withColumn("sg", _band_sigs("emb"))
        .select("vec_id", "emb", "sg.s0", "sg.s1", V.l2_norm(F.col("emb")).alias("nrm"))
    )

    def pairs_on(key: str, exclude_key: str | None = None) -> DataFrame:
        a = sig.select(
            F.col(key).alias("k"),
            F.col("vec_id").alias("vec1"),
            F.col("emb").alias("emb1"),
            F.col("nrm").alias("n1"),
            *([F.col(exclude_key).alias("x1")] if exclude_key else []),
        )
        b = sig.select(
            F.col(key).alias("k"),
            F.col("vec_id").alias("vec2"),
            F.col("emb").alias("emb2"),
            F.col("nrm").alias("n2"),
            *([F.col(exclude_key).alias("x2")] if exclude_key else []),
        )
        j = a.join(b, "k").filter(F.col("vec1") < F.col("vec2"))
        if exclude_key is not None:
            # Drop pairs ALREADY emitted by the `exclude_key` band — a
            # pair is in that band's leg iff its signatures there are
            # equal AND non-NULL (equi-join semantics), so keep iff
            # (x1 != x2) OR either is NULL. This makes the band union
            # duplicate-free BY CONSTRUCTION: the cross-band
            # dropDuplicates exchange and the double-scoring of
            # both-band collisions disappear (guide §2.4), at the cost
            # of one 8-byte column riding the band-bucket join.
            j = j.filter(F.coalesce(F.col("x1") != F.col("x2"), F.lit(True)))
        # Score + threshold INSIDE the band, before the OR-union: the
        # cross-band dedup shuffle then carries only (vec1, vec2, cos)
        # for true near-dups instead of 64-double arrays for every
        # candidate pair. A pair colliding in both bands is scored
        # twice, but scoring is cheaper than shuffling its embeddings.
        cos = V.seq_cosine_pre(F.col("emb1"), F.col("emb2"), F.col("n1"), F.col("n2"))
        return (
            j.select("vec1", "vec2", cos.alias("cos_sim"))
            .filter(F.col("cos_sim") >= F.lit(_RP_TAU))
        )

    # A pair collides in both bands iff BOTH signatures match, so
    # excluding s0-matches from the s1 leg yields exactly the old
    # dropDuplicates(["vec1","vec2"]) set (cos_sim was identical on both
    # legs, so keep-any == keep-either): same rows, one fewer
    # corpus-pair-scale exchange, no duplicate scoring.
    return pairs_on("s0").unionByName(pairs_on("s1", exclude_key="s0"))


# ---------------------------------------------------------------------------
# q_embed_dedup_clusters — embedding-cosine near-dup dedup END-TO-END:
# RP-LSH candidates -> exact-cosine threshold -> connected components ->
# canonical vector per cluster (min vec_id), singletons included. The
# training-pipeline "keep one of each near-duplicate embedding" step as
# one DataFrame plan; exact oracle via recursive-CTE transitive closure
# over the same thresholded pair set.
# ---------------------------------------------------------------------------

_EMBED_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_RP_PAIR_CTES},
edges AS (
    SELECT vec1 AS src, vec2 AS dst FROM near_dup
    UNION
    SELECT vec2, vec1 FROM near_dup
),
reach(a, b) AS (
    SELECT src, src FROM edges
    UNION
    SELECT r.a, e2.dst FROM reach r JOIN edges e2 ON r.b = e2.src
),
comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a),
labeled AS (
    SELECT e.vec_id, coalesce(c.component, e.vec_id) AS canonical_id
    FROM e LEFT JOIN comp c ON e.vec_id = c.node
)
SELECT vec_id, canonical_id,
       count(*) OVER (PARTITION BY canonical_id) AS cluster_size,
       CAST(vec_id <> canonical_id AS INT) AS is_dup
FROM labeled
"""


@register(
    "q_embed_dedup_clusters",
    oracle=_EMBED_CLUSTERS_ORACLE,
    tags=("phase3", "similarity", "dedup", "components"),
)
def q_embed_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup clustering: LSH pairs -> CC -> canonical id."""
    from ..operators.components import connected_components

    e = _embeddings(spark, sf_dir).select("vec_id")
    pairs = q_rp_lsh_pairs(spark, sf_dir).select("vec1", "vec2")
    cc = connected_components(pairs, src="vec1", dst="vec2")
    labeled = e.join(cc, e["vec_id"] == cc["node"], "left").select(
        "vec_id", F.coalesce("component", "vec_id").alias("canonical_id")
    )
    w = W.partitionBy("canonical_id")
    return labeled.select(
        "vec_id",
        "canonical_id",
        F.count("*").over(w).alias("cluster_size"),
        (F.col("vec_id") != F.col("canonical_id")).cast("int").alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# q_embed_text — the V1 dense-embedding slot, oracle-checked: the
# model-free hash embedding (etl.py fake_embedding) maps text -> 8-dim
# double vector via md5 nibble-pair integers / 65535. A real model
# drops into the same column contract (mapInPandas, ArrayType(Double)).
# ---------------------------------------------------------------------------


def _hexval4_sql(h: str, start: int) -> str:
    nib = lambda p: f"(instr('0123456789abcdef', substring({h}, {p}, 1)) - 1)"  # noqa: E731
    v = nib(start)
    for p in range(start + 1, start + 4):
        v = f"({v} * 16 + {nib(p)})"
    return v


_EMBED_ORACLE = f"""
WITH h AS (SELECT doc_id, md5(text) AS hh FROM documents)
SELECT doc_id,
       {', '.join(f"CAST({_hexval4_sql('hh', 1 + 4 * i)} AS DOUBLE) / 65535.0 AS e{i}" for i in range(8))},
       CASE WHEN hh IS NULL THEN NULL ELSE sqrt(list_dot_product(
           [{', '.join(f"CAST({_hexval4_sql('hh', 1 + 4 * i)} AS DOUBLE) / 65535.0" for i in range(8))}],
           [{', '.join(f"CAST({_hexval4_sql('hh', 1 + 4 * i)} AS DOUBLE) / 65535.0" for i in range(8))}])) END AS nrm
FROM h
"""


@register("q_embed_text", oracle=_EMBED_ORACLE, tags=("phase3", "similarity", "embedding"))
def q_embed_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic text->vector embedding (V1 slot) + L2 norm."""
    from ..etl import fake_embedding

    d = load_table(spark, sf_dir, "documents")
    emb = fake_embedding(F.col("text"))
    # dims as scalar columns: the driver's value-hash compares scalars
    # exactly, while raw array columns stringify differently per engine
    return d.select(
        "doc_id",
        *[F.element_at(emb, i + 1).alias(f"e{i}") for i in range(8)],
        V.l2_norm(emb).alias("nrm"),
    )


# ---------------------------------------------------------------------------
# Spark ML LSH variants (SURVEY.md §2.9 V4 scale path): MinHashLSH over
# hashed token sets and BucketedRandomProjectionLSH over embeddings.
# Spark ML hashes with murmur3/seeded families DuckDB cannot reproduce,
# so the LSH *output set* is engine-only — but its GUARANTEES are not
# (VERDICT r6, next #1; the q_approx_distinct upgrade pattern): both
# queries emit a DuckDB-exact truth side plus verdict booleans the
# oracle asserts TRUE, so the correctness gate doubles as the LSH
# acceptance test. The hand-rolled exact counterparts
# (q_minhash_lsh_pairs, q_rp_lsh_pairs) remain oracle-backed twins.
# ---------------------------------------------------------------------------

#: the ML join emits candidate pairs below this hashed-Jaccard distance
_ML_MH_DIST = 0.6
#: recall verdict band: every truth pair at raw distance <= this must be
#: an LSH candidate. P(miss) per pair = (1 - sim)^numHashTables with
#: sim >= 0.9, and HashingTF collisions only merge features (hashed
#: Jaccard >= raw on common shingles), so 8 tables put the per-pair miss
#: probability at <= 1e-8 — the 6-sigma never-fires-by-chance class.
_ML_MH_RECALL_DIST = 0.1
_ML_MH_TABLES = 8
#: SF-cap (the q_dedup_auto_dense precedent, plans/dedup.py): this
#: query's job is the MLlib approxSimilarityJoin PARITY check, not scale
#: measurement — MLlib's OR-amplified bucket join IS the any-seed scheme
#: whose corpus-quadratic background the rest of the repo engineered
#: away (r9 tripwire: 175x shuffle-write for 10x data, 855 MB at sf1).
#: The cap bounds the check at the sf0.1 corpus size on every SF above
#: it; auto_dedup's banded operator / setsim_pairs are the scale paths.
_ML_MH_CAP = 5000

_ML_MH_ORACLE = f"""
WITH sh AS ({{shingle_cte}}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT p.doc1, p.doc2,
       1.0 - CAST(p.n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - p.n_common) AS jaccard_dist,
       TRUE AS lsh_found_ok
FROM pairs p
JOIN sizes s1 ON s1.doc_id = p.doc1
JOIN sizes s2 ON s2.doc_id = p.doc2
WHERE 1.0 - CAST(p.n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - p.n_common) < {_ML_MH_DIST}
"""


def _ml_mh_oracle() -> str:
    from ..operators import dedup as DD

    return _ML_MH_ORACLE.format(
        shingle_cte=DD.word_shingles_sql(
            f"(SELECT doc_id, text FROM documents WHERE doc_id < {_ML_MH_CAP})"
        )
    )


register_cap(
    "q_ml_minhash_join", "doc_id", _ML_MH_CAP, "_ML_MH_CAP",
    "MLlib MinHashLSH recall-parity check: needs a fixed input size, "
    "not a corpus-quadratic truth-pair background at every scale-up "
    "(VERDICT r9 #2; removed from EXPECTED_SUPERLINEAR)",
)


@register(
    "q_ml_minhash_join",
    oracle=_ml_mh_oracle(),
    tags=("phase3", "dedup", "sparkml", "eval"),
)
def q_ml_minhash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark ML MinHashLSH approxSimilarityJoin with a recall-at-threshold
    verdict oracle.

    Emitted rows are the EXACT truth pairs (raw 3-word-shingle Jaccard
    distance < 0.6 — DuckDB-reproducible, same shingling and DF cap as
    the oracle-backed q_minhash_* family); ``lsh_found_ok`` is TRUE when
    the pair is an approxSimilarityJoin candidate OR sits outside the
    high-similarity recall band (raw distance > _ML_MH_RECALL_DIST). A
    FALSE anywhere — a near-duplicate the LSH missed — fails the hash
    check, so the driver gate verifies the LSH join's recall guarantee
    cross-engine even though its hash family is Spark-only.

    Shingles, not unigram token sets: unigrams are a scale trap on
    low-entropy corpora — with a small vocabulary every doc's token set
    converges on the whole vocab, so most pairs genuinely pass the
    threshold (the answer itself goes quadratic) and every doc shares
    the globally-minimal token hash, collapsing each hash table into one
    full-corpus LSH bucket (measured 284 s unigram vs ~2 s shingled at
    sf0.1). Documents shorter than 3 words have no shingle set and drop
    out of both sides.

    Input is SF-capped at doc_id < _ML_MH_CAP on both sides (see the
    constant's rationale): a parity check needs a fixed size, not a
    corpus-quadratic background at every scale-up.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from ..operators import dedup as DD

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _ML_MH_CAP)
        .select("doc_id", "text")
    )
    # feeds both the LSH side and the exact truth side; release-tracked
    # so long-lived harnesses (bench_full) can reclaim it between queries
    sh = tracked_persist(DD.word_shingles(d), StorageLevel.DISK_ONLY)

    # ML candidate side: shingle sets -> hashed binary features -> LSH
    sets = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("shingles"))
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feat = tf.transform(sets).select("doc_id", "features")
    mh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=_ML_MH_TABLES, seed=42
    )
    model = mh.fit(feat)
    cand = (
        model.approxSimilarityJoin(feat, feat, _ML_MH_DIST, distCol="ml_dist")
        .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc1"),
            F.col("datasetB.doc_id").alias("doc2"),
            F.lit(True).alias("__lsh_found"),
        )
    )

    # exact truth side: inverted-index co-shingle join (mirrors the oracle)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc1"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc2"), "shingle")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.count("*").alias("n_common"))
    )
    s1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("n_sh").alias("n_sh1"))
    s2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("n_sh").alias("n_sh2"))
    dist = F.lit(1.0) - F.col("n_common").cast("double") / (
        F.col("n_sh1") + F.col("n_sh2") - F.col("n_common")
    )
    truth = (
        pairs.join(s1, "doc1")
        .join(s2, "doc2")
        .select("doc1", "doc2", dist.alias("jaccard_dist"))
        .filter(F.col("jaccard_dist") < _ML_MH_DIST)
    )
    return truth.join(cand, ["doc1", "doc2"], "left").select(
        "doc1",
        "doc2",
        "jaccard_dist",
        (
            F.coalesce(F.col("__lsh_found"), F.lit(False))
            | (F.col("jaccard_dist") > _ML_MH_RECALL_DIST)
        ).alias("lsh_found_ok"),
    )


#: |reported ANN distance - recomputed exact distance| tolerance: both are
#: sequential double folds over the same values; 1e-6 absorbs any
#: summation-order daylight while still catching real metric bugs.
_BRP_DIST_EPS = 1e-6

_ML_BRP_ORACLE = f"""
WITH c AS (SELECT vec_id, {_EMB_D} AS emb FROM embeddings
           WHERE vec_id > 0 AND {_EMB_OK}),
k AS (SELECT {_EMB_D} AS kemb FROM embeddings
      WHERE vec_id = 0 AND {_EMB_OK}),
d AS (SELECT c.vec_id, {V.l2_distance_sql('c.emb', 'k.kemb')} AS l2_dist
      FROM c CROSS JOIN k)
SELECT vec_id, l2_dist, TRUE AS ann_bound_ok, TRUE AS ann_dist_exact_ok
FROM d ORDER BY l2_dist, vec_id LIMIT 5
"""


@register(
    "q_ml_brp_neighbors",
    oracle=_ML_BRP_ORACLE,
    tags=("phase3", "similarity", "sparkml", "eval"),
)
def q_ml_brp_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark ML BucketedRandomProjectionLSH top-5 ANN of vec 0 with a
    bound-verdict oracle.

    Emitted rows are the EXACT L2 top-5 (DuckDB-reproducible: same
    sequential-fold distance, deterministic (distance, vec_id) tiebreak,
    TakeOrdered — no global window). Two verdicts ride every row, both
    guaranteed by construction so they can never fire by chance:

    - ``ann_bound_ok``: the ANN's worst reported distance is >= the
      exact 5th-nearest distance (optimality of exact top-k) — vacuously
      TRUE if the ANN returned fewer than 5 rows;
    - ``ann_dist_exact_ok``: every ANN row's reported distance equals
      the exact distance to that vector (Spark ML computes the true
      keyDistance for candidates), within _BRP_DIST_EPS.

    A FALSE fails the driver hash check, binding the Spark-only LSH
    output to the cross-engine exact side.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = _embeddings(spark, sf_dir).select(
        "vec_id",
        V.as_double(F.col("embedding")).alias("emb"),
    )
    key_row = e.filter(F.col("vec_id") == 0).select("emb").head()
    if key_row is None or key_row.emb is None:
        # no query vector (empty/degenerate corpus): empty result, same
        # schema — mirrors the oracle's empty `k` CTE cross join
        return spark.createDataFrame(
            [],
            "vec_id bigint, l2_dist double, ann_bound_ok boolean, "
            "ann_dist_exact_ok boolean",
        )
    key = key_row.emb
    key_arr = F.array(*[F.lit(float(x)) for x in key])
    # NULL embeddings carry no geometry; drop them on BOTH sides (the
    # oracle's IS NOT NULL) rather than let engine NULL-ordering defaults
    # (Spark ASC NULLS FIRST vs DuckDB NULLS LAST) pick different top-5s
    corpus = e.filter((F.col("vec_id") > 0) & F.col("emb").isNotNull())

    exact = corpus.select(
        "vec_id", V.l2_distance(F.col("emb"), key_arr).alias("l2_dist")
    )
    exact5 = exact.orderBy("l2_dist", "vec_id").limit(5)

    feat = corpus.select(
        "vec_id", "emb", array_to_vector(F.col("emb")).alias("features")
    )
    brp = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0,
        numHashTables=3, seed=7,
    )
    model = brp.fit(feat)
    from pyspark.ml.linalg import Vectors

    nn = model.approxNearestNeighbors(feat, Vectors.dense(key), 5, distCol="ann_dist")
    ann = nn.select(
        "ann_dist",
        V.l2_distance(F.col("emb"), key_arr).alias("__exact"),
    )
    ann_stats = ann.agg(
        F.count("*").alias("n_ann"),
        F.max("ann_dist").alias("ann_max"),
        F.max(F.abs(F.col("ann_dist") - F.col("__exact"))).alias("max_err"),
    )
    exact_stats = exact5.agg(F.max("l2_dist").alias("exact5_max"))
    # 1-row metric assembly crossJoin (house pattern): scalars onto the
    # 5 exact rows
    verdicts = ann_stats.crossJoin(exact_stats).select(
        (
            (F.col("n_ann") < 5)
            | (F.col("ann_max") + F.lit(_BRP_DIST_EPS) >= F.col("exact5_max"))
        ).alias("ann_bound_ok"),
        F.coalesce(
            F.col("max_err") <= F.lit(_BRP_DIST_EPS), F.lit(True)
        ).alias("ann_dist_exact_ok"),
    )
    return exact5.crossJoin(F.broadcast(verdicts))


# ---------------------------------------------------------------------------
# q_hybrid_rrf — hybrid dense+lexical retrieval with reciprocal-rank
# fusion: the reference's Qdrant collections hold BOTH a dense vector and
# a BM25 sparse vector per point (index_manager.py:112-126) and defer
# hybrid search to a sibling repo; this is that search, Spark-native.
# Dense leg = exact cosine top-20; lexical leg = distinct-word-overlap
# top-20 (integer counts, so ranks are bit-exact across engines — the
# log()-based BM25 variant stays rows-only in q_bm25); fusion =
# sum(1/(60+rank)) over the legs where the candidate appears.
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_TOPN = 20


_HYBRID_ORACLE = f"""
WITH e AS (SELECT vec_id, {_EMB_D} AS emb FROM embeddings WHERE {_EMB_OK}),
d AS (SELECT doc_id, text FROM documents),
q AS (SELECT e.vec_id AS q_id, e.emb AS qemb, d.text AS qtext
      FROM e JOIN d ON e.vec_id = d.doc_id WHERE e.vec_id < 5),
c AS (SELECT e.vec_id AS c_id, e.emb AS cemb, d.text AS ctext
      FROM e JOIN d ON e.vec_id = d.doc_id WHERE e.vec_id >= 5),
dense AS (
    SELECT q_id, c_id, rd FROM (
        SELECT q.q_id, c.c_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {V.cosine_sql('q.qemb', 'c.cemb')} DESC, c.c_id) AS rd
        FROM q CROSS JOIN c
    ) WHERE rd <= {_RRF_TOPN}
),
qw AS (SELECT DISTINCT q_id, unnest({{ws}}) AS word FROM (SELECT q_id, qtext AS text FROM q)),
cw AS (SELECT DISTINCT c_id, unnest({{ws}}) AS word FROM (SELECT c_id, ctext AS text FROM c)),
lex AS (
    SELECT q_id, c_id, rl FROM (
        SELECT ov.q_id, ov.c_id,
               row_number() OVER (PARTITION BY ov.q_id ORDER BY ov.overlap DESC, ov.c_id) AS rl
        FROM (SELECT qw.q_id, cw.c_id, count(*) AS overlap
              FROM qw JOIN cw ON qw.word = cw.word
              GROUP BY qw.q_id, cw.c_id) ov
    ) WHERE rl <= {_RRF_TOPN}
),
fused AS (
    SELECT coalesce(dense.q_id, lex.q_id) AS q_id,
           coalesce(dense.c_id, lex.c_id) AS c_id,
           coalesce(1.0 / ({_RRF_K} + dense.rd), 0.0)
             + coalesce(1.0 / ({_RRF_K} + lex.rl), 0.0) AS rrf
    FROM dense FULL OUTER JOIN lex
      ON dense.q_id = lex.q_id AND dense.c_id = lex.c_id
)
SELECT q_id, rank, c_id, rrf FROM (
    SELECT q_id, c_id, rrf,
           row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, c_id) AS rank
    FROM fused
) WHERE rank <= 10
"""


def _hybrid_oracle() -> str:
    from ..functions import text as TX

    return _HYBRID_ORACLE.format(ws=TX.words_sql("text"))


@register("q_hybrid_rrf", oracle=_hybrid_oracle(), tags=("phase3", "similarity", "hybrid"))
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: RRF over dense-cosine and lexical-overlap ranks
    (operators/knn.py::rrf_hybrid, the operator behind
    ``ETLPipeline.hybrid_search``).

    Scale: the dense leg broadcasts the query set (linear corpus scan,
    scored by the JVM expression kernel); the lexical leg is an inverted-index join on
    word (never all-pairs text comparison); fusion joins two top-N lists
    — O(queries x N), trivially broadcastable.
    """
    e = _embeddings(spark, sf_dir).select(
        "vec_id", V.as_double(F.col("embedding")).alias("emb")
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    both = e.join(d, e.vec_id == d.doc_id)
    q = both.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_vec_id"), F.col("emb").alias("q_emb"), "text"
    )
    c = both.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("c_vec_id"), F.col("emb").alias("c_emb"), "text"
    )
    return rrf_hybrid(q, c, k=10, topn=_RRF_TOPN, rrf_k=_RRF_K).select(
        F.col("q_vec_id").alias("q_id"), "rank", F.col("c_vec_id").alias("c_id"), "rrf"
    )


def _top5_sql(name: str, c_emb: str) -> str:
    """CTE ``name``: each q row's top-5 c rows by cosine(q.q_emb, ``c_emb``),
    ties to the ascending c_vec_id (the oracle of knn.top_k)."""
    return f"""{name} AS (
    SELECT q_vec_id, c_vec_id FROM (
        SELECT q.q_vec_id, c.c_vec_id,
               row_number() OVER (PARTITION BY q.q_vec_id
                                  ORDER BY {V.cosine_sql('q.q_emb', c_emb)} DESC, c.c_vec_id) AS rank
        FROM q CROSS JOIN c
    ) WHERE rank <= 5
),
"""


def _recall_sql(approx_emb: str | None, base: str) -> str:
    """The recall@5 tail of an oracle over CTEs ``q`` and ``c``, the SQL
    mirror of knn.recall_at_k: the ``exact`` top-5 by c.c_emb; the
    approximate top-5, which is an ``approx`` CTE scoring ``approx_emb``,
    or with None the caller's ``ivf`` CTE; their per-query overlap; and
    one row per query id of ``base``, 0 when nothing overlaps."""
    approx, a = ("ivf", "ivf") if approx_emb is None else ("approx a", "a")
    return (
        _top5_sql("exact", "c.c_emb")
        + ("" if approx_emb is None else _top5_sql("approx", approx_emb))
        + f"""matches AS (
    SELECT e.q_vec_id, count(*) AS n_overlap
    FROM exact e JOIN {approx} ON e.q_vec_id = {a}.q_vec_id AND e.c_vec_id = {a}.c_vec_id
    GROUP BY e.q_vec_id
)
SELECT p.q_vec_id,
       coalesce(m.n_overlap, 0) AS n_overlap,
       coalesce(m.n_overlap, 0) / 5.0 AS recall
FROM ({base}) p
LEFT JOIN matches m ON p.q_vec_id = m.q_vec_id
"""
    )


# ---------------------------------------------------------------------------
# q_ivf_recall — ANN quality evaluation: recall@5 of the IVF probe
# against the exact top-5 over the same probe/corpus split. The
# verify-after-ANN pattern as a first-class operator: both legs are
# deterministic (exact cosine; deterministic centroids), so even the
# recall numbers hash-match an oracle that recomputes both legs in SQL.
# At scale the exact leg runs on a sampled probe set only — recall is an
# estimate you monitor, not a per-query product.
# ---------------------------------------------------------------------------

_RECALL_ORACLE = f"""
WITH ivf AS (SELECT q_vec_id, c_vec_id FROM ({_IVF_ORACLE})),
q AS (SELECT vec_id AS q_vec_id, {_EMB_D} AS q_emb FROM embeddings WHERE {_EMB_OK} AND vec_id >= {_IVF_CENT_MAX} AND vec_id < {_IVF_PROBE_MAX}),
c AS (SELECT vec_id AS c_vec_id, {_EMB_D} AS c_emb FROM embeddings WHERE {_EMB_OK} AND vec_id >= {_IVF_PROBE_MAX}),
{_recall_sql(None, "SELECT q_vec_id FROM q")}"""
# base rows come from the PROBE set, mirroring the engine's
# ``base = probe.select(...)`` — deriving them from ``exact`` instead
# silently drops every probe when the corpus slice is empty (engine
# reports recall 0 rows, oracle nothing; found by the torture corpus).


@register("q_ivf_recall", oracle=_RECALL_ORACLE, tags=("phase3", "similarity", "eval"))
def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of IVF ANN vs exact top-5, per probe vector."""
    e = _embeddings(spark, sf_dir)
    emb = V.as_double(F.col("embedding"))
    probe = e.filter(
        (F.col("vec_id") >= _IVF_CENT_MAX) & (F.col("vec_id") < _IVF_PROBE_MAX)
    ).select(F.col("vec_id").alias("q_vec_id"), emb.alias("q_emb"))
    corpus = e.filter(F.col("vec_id") >= _IVF_PROBE_MAX).select(
        F.col("vec_id").alias("c_vec_id"), emb.alias("c_emb")
    )
    # probe ids are unique by construction; deriving base from the exact
    # leg would plant the probe x corpus scoring subtree in the plan twice
    return recall_at_k(
        probe, exact_knn(F.broadcast(probe), corpus, k=5), q_ivf_knn(spark, sf_dir), k=5
    )


# ---------------------------------------------------------------------------
# q_sq_knn — int8 scalar-quantized ANN with in-query recall@5 eval.
# Per-vector symmetric SQ: scale = max|x|/127, code_i = round(x_i/scale)
# (floor(v+0.5): round-half-up is portable; both engines' round() differ
# on halves). Search is asymmetric: full-precision query against
# DEQUANTIZED corpus codes — the memory lever at 100 TB (int8 codes are
# 8x smaller than float64, so 8x more corpus fits in executor RAM /
# page cache per scan; faiss SQ8 is the public reference design).
# ---------------------------------------------------------------------------

_SQ_SCALE = "greatest(list_max(list_transform({e}, x -> abs(x))) / 127.0, 1e-30)"

_SQ_ORACLE = f"""
WITH q AS (SELECT vec_id AS q_vec_id, {_EMB_D} AS q_emb FROM embeddings WHERE {_EMB_OK} AND vec_id < 10),
cs AS (
    SELECT vec_id AS c_vec_id, {_EMB_D} AS emb,
           {_SQ_SCALE.format(e=_EMB_D)} AS scale
    FROM embeddings WHERE {_EMB_OK} AND vec_id >= 10
),
c AS (
    SELECT c_vec_id, emb AS c_emb,
           list_transform(emb, x -> floor(x / scale + 0.5) * scale) AS c_deq
    FROM cs
),
{_recall_sql("c.c_deq", "SELECT DISTINCT q_vec_id FROM q")}"""


@register("q_sq_knn", oracle=_SQ_ORACLE, tags=("phase3", "similarity", "quantization"))
def q_sq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of int8 scalar-quantized search vs exact, per query vector.

    Scale shape: quantization is row-local (one transform, no shuffle,
    no stats pass); both search legs are broadcast(query) x corpus scans
    sharing one corpus read. On a cluster the dequantize-and-score step
    reads 1/8 the bytes of the float64 baseline.
    """
    e = _embeddings(spark, sf_dir)
    emb = V.as_double(F.col("embedding"))
    q = (
        e.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("q_vec_id"), emb.alias("q_emb"))
    )
    scale = F.greatest(
        F.array_max(F.transform(F.col("emb"), lambda x: F.abs(x))) / F.lit(127.0),
        F.lit(1e-30),
    )
    cs = (
        e.filter(F.col("vec_id") >= 10)
        .select(F.col("vec_id").alias("c_vec_id"), emb.alias("emb"))
        .withColumn("scale", scale)
    )
    deq = F.transform(
        F.col("emb"),
        lambda x: F.floor(x / F.col("scale") + F.lit(0.5)) * F.col("scale"),
    )
    c = tracked_persist(
        cs.select("c_vec_id", F.col("emb").alias("c_emb"), deq.alias("c_deq"))
    )  # one corpus materialization feeds both search legs

    ex = exact_knn(F.broadcast(q), c.select("c_vec_id", "c_emb"), k=5)
    ap = exact_knn(F.broadcast(q), c.select("c_vec_id", F.col("c_deq").alias("c_emb")), k=5)
    return recall_at_k(q, ex, ap, k=5)


# ---------------------------------------------------------------------------
# q_pq_knn — product quantization (Jégou et al. 2011, public): the
# 64-dim space is split into 8 subspaces of 8 dims; each corpus
# subvector is replaced by its nearest codeword from a 16-entry
# per-subspace codebook (deterministic: the first 16 vectors' own
# subvectors, same designated-vector trick as IVF's centroids). Search
# scores the full-precision query against the RECONSTRUCTED corpus
# (asymmetric distance), and the query emits recall@5 vs the exact leg.
# At scale the corpus stores 8 one-byte codes per vector (64x smaller
# than float64) plus one shared 128-row codebook — the standard
# billion-vector memory layout; reconstruction happens streamwise in the
# scan, never materialized corpus-wide.
# ---------------------------------------------------------------------------

_PQ_M = 8  # subspaces
_PQ_SUB = 8  # dims per subspace
_PQ_K = 16  # codewords per subspace: vec_id < 16
_PQ_Q_MAX = 26  # queries: 16 <= vec_id < 26; corpus: vec_id >= 26

_PQ_ORACLE = f"""
WITH base AS (SELECT vec_id, {_EMB_D} AS emb FROM embeddings WHERE {_EMB_OK}),
sub AS (
    SELECT vec_id, s, emb[s * {_PQ_SUB} + 1 : s * {_PQ_SUB} + {_PQ_SUB}] AS sv
    FROM base, (SELECT unnest(range(0, {_PQ_M})) AS s)
),
cb AS (SELECT s, vec_id AS cent_id, sv AS cw FROM sub WHERE vec_id < {_PQ_K}),
csub AS (SELECT vec_id AS c_vec_id, s, sv FROM sub WHERE vec_id >= {_PQ_Q_MAX}),
assign AS (
    SELECT c_vec_id, s, cw FROM (
        SELECT c.c_vec_id, c.s, k.cw, k.cent_id,
               row_number() OVER (PARTITION BY c.c_vec_id, c.s
                                  ORDER BY {_dist_sql('c.sv', 'k.cw')}, k.cent_id) AS rn
        FROM csub c JOIN cb k USING (s)
    ) WHERE rn = 1
),
deq AS (SELECT c_vec_id, flatten(list(cw ORDER BY s)) AS c_deq FROM assign GROUP BY c_vec_id),
c AS (
    SELECT b.vec_id AS c_vec_id, b.emb AS c_emb, d.c_deq
    FROM base b JOIN deq d ON b.vec_id = d.c_vec_id
),
q AS (SELECT vec_id AS q_vec_id, emb AS q_emb FROM base
      WHERE vec_id >= {_PQ_K} AND vec_id < {_PQ_Q_MAX}),
{_recall_sql("c.c_deq", "SELECT DISTINCT q_vec_id FROM q")}"""


@register("q_pq_knn", oracle=_PQ_ORACLE, tags=("phase3", "similarity", "quantization"))
def q_pq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of product-quantized search vs exact, per query vector.

    Scale shape: codebook rows (m*k = 128) broadcast against one corpus
    pass exploded per subspace; per-(vector, subspace) argmin then a
    groupBy on c_vec_id reassembles the reconstruction — both shuffles
    carry the corpus id, so skew is impossible. Both search legs share
    one persisted reconstruction, broadcast the 10 queries, and scan the
    corpus once each.
    """
    e = _embeddings(spark, sf_dir)
    base = e.select("vec_id", V.as_double(F.col("embedding")).alias("emb"))

    sub_structs = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
            lambda s: F.struct(
                s.alias("s"), F.slice("emb", s * _PQ_SUB + 1, F.lit(_PQ_SUB)).alias("sv")
            ),
        )
    )
    sub = base.select("vec_id", sub_structs.alias("u")).select(
        "vec_id", F.col("u.s").alias("s"), F.col("u.sv").alias("sv")
    )
    cb = sub.filter(F.col("vec_id") < _PQ_K).select(
        "s", F.col("vec_id").alias("cent_id"), F.col("sv").alias("cw")
    )
    csub = sub.filter(F.col("vec_id") >= _PQ_Q_MAX).select(
        F.col("vec_id").alias("c_vec_id"), "s", "sv"
    )
    d = F.sqrt(V.l2sq(F.col("sv"), F.col("cw")))
    # argmin as a min(struct) hash-agg, not a row_number window: the
    # window form sorts the full (corpus x subspace x codeword) join
    # output per partition, while min(struct(__d, cent_id, cw)) —
    # lexicographic, so identical (d ASC, cent_id ASC) semantics —
    # collapses the 16 codeword candidates map-side before any shuffle,
    # leaving n x m rows on the wire (the SemDeDup assignment shape,
    # VERDICT r9 #3).
    assign = (
        csub.join(F.broadcast(cb), "s")
        .select(
            "c_vec_id",
            "s",
            F.struct(
                d.alias("__d"), F.col("cent_id"), F.col("cw").alias("cw")
            ).alias("t"),
        )
        .groupBy("c_vec_id", "s")
        .agg(F.min("t").alias("t"))
        .select("c_vec_id", "s", F.col("t.cw").alias("cw"))
    )
    deq = assign.groupBy("c_vec_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("s").alias("s"), F.col("cw").alias("cw")))
                ),
                lambda x: x["cw"],
            )
        ).alias("c_deq")
    )
    c = tracked_persist(
        base.filter(F.col("vec_id") >= _PQ_Q_MAX)
        .select(F.col("vec_id").alias("c_vec_id"), F.col("emb").alias("c_emb"))
        .join(deq, "c_vec_id")
    )  # one reconstruction feeds both search legs
    q = base.filter(
        (F.col("vec_id") >= _PQ_K) & (F.col("vec_id") < _PQ_Q_MAX)
    ).select(F.col("vec_id").alias("q_vec_id"), F.col("emb").alias("q_emb"))

    ex = exact_knn(F.broadcast(q), c.select("c_vec_id", "c_emb"), k=5)
    ap = exact_knn(F.broadcast(q), c.select("c_vec_id", F.col("c_deq").alias("c_emb")), k=5)
    return recall_at_k(q, ex, ap, k=5)


# ---------------------------------------------------------------------------
# q_semantic_dedup — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
# embedding-space semantic deduplication. Cluster the corpus around k
# centroids (designated vectors vec_id < k, the IVF trick that
# keeps the oracle exact — a trained k-means drops in unchanged), then
# inside each cluster mark as duplicates every vector that has cosine
# >= _SEM_TAU to a cluster-mate ranked closer to the centroid (tie:
# smaller vec_id). The kept member of each semantic group is the one
# nearest its centroid — deterministic, no RNG.
#
# Scale (round-10 rewrite, VERDICT r9 #3): cluster size is held
# CONSTANT — k = max(8, ceil(n / _SEM_CLUSTER)) — so the in-cluster
# pair step is ~n*_SEM_CLUSTER/2 cosines, LINEAR in the corpus. The
# previous k = sqrt(n/2) balance made both assignment and pairing
# ~n^1.5 (18.1 s at sf1, flagged superlinear at 100x). With k ~ n/c a
# flat broadcast(k) x corpus assignment would itself be ~n^2/c, so
# assignment is two-level IVF (the coarse-quantizer trick): k1 =
# max(1, floor(sqrt(k))) COARSE centroids (the first k1 of the k
# designated fine centroids); every fine centroid maps to its nearest
# coarse (coarse centroids pin to themselves so no cell is empty);
# every vector finds its nearest coarse (n*k1 cosines), then its
# nearest fine WITHIN that coarse cell (~n*k/k1 cosines). Total work
# ~ n*(2*sqrt(n/c) + c/2) = O(n^1.25) compute on an O(n) shuffle
# footprint — each assignment is a broadcast + map-side-combined
# max(struct) agg, never a corpus-scale window sort. All ranking is
# max(struct(cos, -id)): ties and NULL cosines resolve exactly like
# the oracle's ORDER BY cos DESC, id (struct NULL fields sort
# smallest; DuckDB DESC is NULLS LAST). k and k1 are data-derived
# scalar riders reproduced in SQL (the q_knn_auto gate pattern); the
# two-level assignment RULE is likewise mirrored verbatim, so the
# hash check proves the whole quantizer, not just the dedup step.
# ---------------------------------------------------------------------------

_SEM_MIN_K = 8
_SEM_TAU = 0.30
#: target vectors per cluster — the constant that keeps pair work linear
_SEM_CLUSTER = 64

_SEM_ORACLE = f"""
WITH kk AS (SELECT greatest({_SEM_MIN_K}, CAST(ceil(count(*) / {_SEM_CLUSTER}.0) AS BIGINT)) AS k,
                   greatest(1, CAST(floor(sqrt(greatest({_SEM_MIN_K}, CAST(ceil(count(*) / {_SEM_CLUSTER}.0) AS BIGINT)))) AS BIGINT)) AS k1
            FROM embeddings WHERE {_EMB_OK}),
cent AS (SELECT vec_id AS cent_id, {_EMB_D} AS cemb FROM embeddings, kk WHERE {_EMB_OK} AND vec_id < kk.k),
coarse AS (SELECT cent_id AS co_id, cemb AS coemb FROM cent, kk WHERE cent_id < kk.k1),
cmap AS (
    SELECT c.cent_id, c.cemb,
           CASE WHEN c.cent_id < kk.k1 THEN c.cent_id ELSE m.ccell END AS ccell
    FROM cent c CROSS JOIN kk
    JOIN (
        SELECT cent_id, co_id AS ccell FROM (
            SELECT c.cent_id, k.co_id,
                   row_number() OVER (PARTITION BY c.cent_id
                                      ORDER BY {V.cosine_sql('c.cemb', 'k.coemb')} DESC, k.co_id) AS rn
            FROM cent c CROSS JOIN coarse k
        ) WHERE rn = 1
    ) m ON m.cent_id = c.cent_id
),
corp AS (SELECT vec_id, {_EMB_D} AS emb FROM embeddings, kk WHERE {_EMB_OK} AND vec_id >= kk.k),
qa AS (
    SELECT vec_id, emb, co_id AS qcell FROM (
        SELECT c.vec_id, c.emb, k.co_id,
               row_number() OVER (PARTITION BY c.vec_id
                                  ORDER BY {V.cosine_sql('c.emb', 'k.coemb')} DESC, k.co_id) AS rn
        FROM corp c CROSS JOIN coarse k
    ) WHERE rn = 1
),
assigned AS (
    SELECT vec_id, emb, cent_id AS cluster, cos_cent FROM (
        SELECT q.vec_id, q.emb, m.cent_id,
               {V.cosine_sql('q.emb', 'm.cemb')} AS cos_cent,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {V.cosine_sql('q.emb', 'm.cemb')} DESC, m.cent_id) AS rn
        FROM qa q JOIN cmap m ON m.ccell = q.qcell
    ) WHERE rn = 1
),
dup AS (
    SELECT DISTINCT b.vec_id
    FROM assigned a
    JOIN assigned b
      ON a.cluster = b.cluster
     AND (a.cos_cent > b.cos_cent OR (a.cos_cent = b.cos_cent AND a.vec_id < b.vec_id))
    WHERE {V.cosine_sql('a.emb', 'b.emb')} >= {_SEM_TAU}
)
SELECT s.vec_id, s.cluster, s.cos_cent,
       d.vec_id IS NOT NULL AS is_dup
FROM assigned s LEFT JOIN dup d ON s.vec_id = d.vec_id
"""


@register("q_semantic_dedup", oracle=_SEM_ORACLE, tags=("phase3", "similarity", "dedup"))
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: in-cluster cosine-threshold duplicates; keeper = nearest
    to centroid. Constant target cluster size (k = max(8, ceil(n/64)))
    with two-level coarse->fine designated-centroid assignment — see the
    block comment for the cost model; assignment rule and both scalars
    (k, k1) are mirrored verbatim in the oracle."""
    e = _embeddings(spark, sf_dir)
    emb = V.as_double(F.col("embedding"))
    kdf = e.agg(
        F.greatest(
            F.lit(_SEM_MIN_K).cast("long"),
            F.ceil(F.count("*") / F.lit(float(_SEM_CLUSTER))),
        ).alias("__k")
    ).withColumn(
        "__k1",
        F.greatest(F.lit(1).cast("long"), F.floor(F.sqrt(F.col("__k")))),
    )
    base = e.select("vec_id", emb.alias("emb")).crossJoin(F.broadcast(kdf))
    cent = base.filter(F.col("vec_id") < F.col("__k")).select(
        F.col("vec_id").alias("cent_id"), F.col("emb").alias("cemb"), "__k1"
    )
    coarse = cent.filter(F.col("cent_id") < F.col("__k1")).select(
        F.col("cent_id").alias("co_id"), F.col("cemb").alias("coemb")
    )

    def _nearest(df, id_col, vec_col, out_cell):
        # deterministic argmax over the broadcast centroid set as ONE
        # map-side-combined agg: max(struct(cos, -cand_id)) == the
        # oracle's ORDER BY cos DESC, cand_id (struct NULL fields sort
        # smallest = DESC NULLS LAST; -id inverts the tie to ASC).
        return (
            df.groupBy(id_col)
            .agg(
                F.max(F.struct(F.col("__cos").alias("c"),
                               (-F.col("__cand")).alias("nid"))).alias("b"),
                F.first(vec_col).alias(vec_col),
            )
            .select(
                id_col, vec_col,
                (-F.col("b.nid")).alias(out_cell),
                F.col("b.c").alias("__cos_best"),
            )
        )

    # fine -> coarse map; coarse centroids pin to their own cell so no
    # cell is empty (a scaled-duplicate vector pair could otherwise tie
    # a coarse centroid out of its own cell and strand vectors at the
    # inner join below)
    cmap = _nearest(
        cent.crossJoin(F.broadcast(coarse))
        .withColumn("__cos", V.cosine(F.col("cemb"), F.col("coemb")))
        .withColumn("__cand", F.col("co_id")),
        "cent_id", "cemb", "ccell",
    ).crossJoin(F.broadcast(kdf)).select(
        "cent_id", "cemb",
        F.when(F.col("cent_id") < F.col("__k1"), F.col("cent_id"))
        .otherwise(F.col("ccell")).alias("ccell"),
    )
    corp = base.filter(F.col("vec_id") >= F.col("__k")).select("vec_id", "emb")
    qa = _nearest(
        corp.crossJoin(F.broadcast(coarse))
        .withColumn("__cos", V.cosine(F.col("emb"), F.col("coemb")))
        .withColumn("__cand", F.col("co_id")),
        "vec_id", "emb", "qcell",
    ).select("vec_id", "emb", "qcell")
    assigned = tracked_persist(
        _nearest(
            qa.join(F.broadcast(cmap), qa["qcell"] == cmap["ccell"])
            .withColumn("__cos", V.cosine(F.col("emb"), F.col("cemb")))
            .withColumn("__cand", F.col("cent_id")),
            "vec_id", "emb", "cluster",
        ).select("vec_id", "emb", "cluster", F.col("__cos_best").alias("cos_cent"))
    )  # feeds both pair-join legs and the final select —
    # without it the assignment subtree is planned 6x
    a = assigned.select(
        F.col("vec_id").alias("a_id"), F.col("emb").alias("a_emb"),
        F.col("cluster"), F.col("cos_cent").alias("a_cc"),
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_id"), F.col("emb").alias("b_emb"),
        F.col("cluster"), F.col("cos_cent").alias("b_cc"),
    )
    rank_before = (F.col("a_cc") > F.col("b_cc")) | (
        (F.col("a_cc") == F.col("b_cc")) & (F.col("a_id") < F.col("vec_id"))
    )
    dup = (
        a.join(b, "cluster")
        .filter(rank_before)
        .filter(V.seq_cosine(F.col("a_emb"), F.col("b_emb")) >= _SEM_TAU)
        .select("vec_id")
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return assigned.join(dup, "vec_id", "left").select(
        "vec_id", "cluster", "cos_cent",
        F.coalesce("__dup", F.lit(False)).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# q_knn_auto — cost-gated physical-strategy choice (operators/planner.py,
# SURVEY.md §4's optional custom planner rule): corpus <= 1024 rows ->
# exact broadcast-NL brute force; above -> IVF rewrite (first-8-by-id
# centroids, cell assignment, in-cell search). The oracle reproduces the
# GATE itself — two branch CTEs emitted through mutually-exclusive
# scalar-count predicates — so engine and oracle agree at every scale
# factor (sf0.001/sf0.01 corpora take the exact branch; the sf0.1 bench
# corpus crosses the threshold and takes the IVF branch).
# Plan shapes for both branches are asserted in tests/test_planner.py.
# ---------------------------------------------------------------------------

_AUTO_K = 5
_AUTO_THRESHOLD = 1024
_AUTO_NCENT = 8

_AUTO_ORACLE = f"""
WITH q AS (SELECT vec_id AS q_vec_id, {_EMB_D} AS q_emb FROM embeddings WHERE {_EMB_OK} AND vec_id < 10),
c AS (SELECT vec_id AS c_vec_id, {_EMB_D} AS c_emb FROM embeddings WHERE {_EMB_OK} AND vec_id >= 10),
n AS (SELECT count(*) AS n_corpus FROM c),
exact_r AS (
    SELECT q_vec_id, rank, c_vec_id, score FROM (
        SELECT q.q_vec_id, c.c_vec_id, {V.cosine_sql('q.q_emb', 'c.c_emb')} AS score,
               row_number() OVER (PARTITION BY q.q_vec_id
                                  ORDER BY {V.cosine_sql('q.q_emb', 'c.c_emb')} DESC, c.c_vec_id) AS rank
        FROM q CROSS JOIN c
    ) WHERE rank <= {_AUTO_K}
),
cent AS (SELECT c_vec_id AS cent_id, c_emb AS cemb FROM c ORDER BY c_vec_id LIMIT {_AUTO_NCENT}),
c_assign AS (
    SELECT c_vec_id, c_emb, cent_id AS cell FROM (
        SELECT c.c_vec_id, c.c_emb, k.cent_id,
               row_number() OVER (PARTITION BY c.c_vec_id
                                  ORDER BY {_dist_sql('c.c_emb', 'k.cemb')}, k.cent_id) AS rn
        FROM c CROSS JOIN cent k
    ) WHERE rn = 1
),
q_assign AS (
    SELECT q_vec_id, q_emb, cent_id AS cell FROM (
        SELECT q.q_vec_id, q.q_emb, k.cent_id,
               row_number() OVER (PARTITION BY q.q_vec_id
                                  ORDER BY {_dist_sql('q.q_emb', 'k.cemb')}, k.cent_id) AS rn
        FROM q CROSS JOIN cent k
    ) WHERE rn = 1
),
ivf_r AS (
    SELECT q_vec_id, rank, c_vec_id, score FROM (
        SELECT qa.q_vec_id, ca.c_vec_id, {V.cosine_sql('qa.q_emb', 'ca.c_emb')} AS score,
               row_number() OVER (PARTITION BY qa.q_vec_id
                                  ORDER BY {V.cosine_sql('qa.q_emb', 'ca.c_emb')} DESC, ca.c_vec_id) AS rank
        FROM q_assign qa JOIN c_assign ca ON qa.cell = ca.cell
    ) WHERE rank <= {_AUTO_K}
)
SELECT * FROM exact_r WHERE (SELECT n_corpus FROM n) <= {_AUTO_THRESHOLD}
UNION ALL
SELECT * FROM ivf_r WHERE (SELECT n_corpus FROM n) > {_AUTO_THRESHOLD}
"""


@register("q_knn_auto", oracle=_AUTO_ORACLE, tags=("phase3", "similarity", "planner"))
def q_knn_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-gated kNN: exact brute force or IVF, chosen by corpus size."""
    from ..operators.planner import auto_knn

    e = _embeddings(spark, sf_dir)
    emb = V.as_double(F.col("embedding"))
    q = (
        e.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("q_vec_id"), emb.alias("q_emb"))
    )
    c = (
        e.filter(F.col("vec_id") >= 10)
        .select(F.col("vec_id").alias("c_vec_id"), emb.alias("c_emb"))
    )
    return auto_knn(
        q, c, k=_AUTO_K, threshold=_AUTO_THRESHOLD, n_centroids=_AUTO_NCENT
    )


# ---------------------------------------------------------------------------
# q_lsh_adaptive — the second cost-gated planner rule (after
# q_knn_auto's exact-vs-IVF gate): LSH band WIDTH chosen from corpus
# cardinality. A narrow signature on a big corpus is the classic LSH
# failure (2^8 buckets over 10^9 vectors -> ~10^7-row buckets -> a
# quadratic bucket self-join); a wide signature on a tiny corpus
# needlessly splits true near-dups across buckets. The rule: W = 8 bits
# while the corpus holds <= _ADAPT_N rows, 16 above — i.e. keep
# 2^W >= corpus/occupancy_target, the "band width ~ log2(n) + margin"
# guidance in q_rp_lsh_pairs' docstring, operationalized.
#
# Spark-first detail: the gate is IN the plan, not a driver decision —
# the corpus count rides in as a broadcast 1-row crossJoin and the mask
# is a CASE on that column, so the whole query stays one lazy plan with
# zero driver actions (house pattern from q_market_basket's basket
# count). The 8-bit signature IS the low byte of the 16-bit one (same
# plane pool), so one Arrow signature pass serves both branches and the
# oracle reproduces the gate with the same `& 255` CASE.
# ---------------------------------------------------------------------------

_ADAPT_N = 1024

_ADAPT_ORACLE = f"""
WITH e AS (SELECT vec_id, {_EMB_D} AS emb FROM embeddings WHERE {_EMB_OK}),
n AS (SELECT count(*) AS c FROM e),
sig AS (SELECT vec_id, emb, {_band_sql(0)} AS s16 FROM e),
masked AS (
    SELECT vec_id, emb,
           CASE WHEN (SELECT c FROM n) <= {_ADAPT_N} THEN s16 & 255 ELSE s16 END AS s,
           CASE WHEN (SELECT c FROM n) <= {_ADAPT_N} THEN 8 ELSE 16 END AS w
    FROM sig
),
cand AS (
    SELECT a.vec_id AS vec1, b.vec_id AS vec2, a.emb AS emb1, b.emb AS emb2, a.w
    FROM masked a JOIN masked b ON a.s = b.s AND a.vec_id < b.vec_id
)
SELECT vec1, vec2, cos_sim, CAST(w AS BIGINT) AS band_bits FROM (
    SELECT vec1, vec2, {V.cosine_sql('emb1', 'emb2')} AS cos_sim, w FROM cand
)
WHERE cos_sim >= {_RP_TAU}
"""


@register(
    "q_lsh_adaptive",
    oracle=_ADAPT_ORACLE,
    tags=("phase3", "similarity", "dedup", "planner"),
)
def q_lsh_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-size-adaptive LSH: 8-bit bands on small corpora, 16 above."""
    e = _embeddings(spark, sf_dir).select(
        "vec_id", V.as_double(F.col("embedding")).alias("emb")
    )
    cnt = e.agg(F.count("*").alias("__c"))
    sig = tracked_persist(
        e.withColumn("sg", _band_sigs("emb"))
        .select(
            "vec_id", "emb", F.col("sg.s0").alias("s16"),
            V.l2_norm(F.col("emb")).alias("nrm"),
        )
        .crossJoin(F.broadcast(cnt))
        .select(
            "vec_id",
            "emb",
            "nrm",
            F.when(
                F.col("__c") <= _ADAPT_N, F.col("s16").bitwiseAND(F.lit(255))
            )
            .otherwise(F.col("s16"))
            .alias("s"),
            F.when(F.col("__c") <= _ADAPT_N, F.lit(8))
            .otherwise(F.lit(16))
            .cast("bigint")
            .alias("band_bits"),
        )
    )
    a = sig.select(
        F.col("s").alias("k"), F.col("vec_id").alias("vec1"),
        F.col("emb").alias("emb1"), F.col("nrm").alias("n1"), "band_bits",
    )
    b = sig.select(
        F.col("s").alias("k"), F.col("vec_id").alias("vec2"),
        F.col("emb").alias("emb2"), F.col("nrm").alias("n2"),
    )
    cos = V.seq_cosine_pre(F.col("emb1"), F.col("emb2"), F.col("n1"), F.col("n2"))
    return (
        a.join(b, "k")
        .filter(F.col("vec1") < F.col("vec2"))
        .select("vec1", "vec2", cos.alias("cos_sim"), "band_bits")
        .filter(F.col("cos_sim") >= F.lit(_RP_TAU))
    )


# ---------------------------------------------------------------------------
# q_kcenter_coreset — greedy k-center CORESET selection (Gonzalez 1985
# farthest-point traversal; Sener & Savarese ICLR'18 use exactly this
# greedy as the coreset/active-learning selector): pick _KC_K maximally
# spread embeddings — the representative subset a curation pipeline
# labels, inspects, or seeds diversity-aware sampling from. Round 1 =
# min vec_id (deterministic anchor); each later round selects the point
# with the LARGEST distance to its nearest already-chosen center
# (cosine distance 1 - cos; ties -> smaller vec_id), which carries the
# classic 2-approximation guarantee for the k-center objective.
#
# Scale: the textbook cluster shape — each round is ONE corpus scan
# (update running min-dist against the 1-row broadcast new center) plus
# a 1-row top-1 (TakeOrderedAndProject, never a global sort); k rounds
# = k linear passes, the known lower bound for exact greedy k-center.
# Per-round tables rotate through cache.CheckpointRotation like
# _bpe_learn (each round's plan references the previous one's twice —
# the argmax subplan and the rewrite — so a lazy persist chain doubles
# Catalyst analysis per round).
#
# Zero-norm embeddings carry no direction (cosine NULL) and are
# excluded on both sides; a degenerate corpus where every remaining
# point sits at distance 0 stops selecting early (mind > 0 candidate
# filter), identically in both engines — the output then has < k rows.
# ---------------------------------------------------------------------------

_KC_K = 8


def _kcenter_oracle() -> str:
    cos = V.cosine_sql("s.emb", "t.cemb")
    parts = [f"""
pts AS (SELECT vec_id, {_EMB_D} AS emb FROM embeddings
        WHERE {_EMB_OK} AND list_dot_product({_EMB_D}, {_EMB_D}) > 0),
c1 AS (SELECT vec_id AS cid, emb AS cemb FROM pts ORDER BY vec_id LIMIT 1),
s1 AS (SELECT p.vec_id, p.emb,
              1 - {V.cosine_sql('p.emb', 'c.cemb')} AS mind
       FROM pts p, c1 c)"""]
    outs = [
        "SELECT CAST(1 AS INT) AS sel_round, cid AS center_id, "
        "CAST(NULL AS DOUBLE) AS radius FROM c1"
    ]
    for r in range(2, _KC_K + 1):
        parts.append(f"""
t{r} AS (SELECT vec_id, emb AS cemb, mind FROM s{r - 1}
         WHERE mind > 0 ORDER BY mind DESC, vec_id LIMIT 1),
s{r} AS (SELECT s.vec_id, s.emb, least(s.mind, 1 - {cos}) AS mind
         FROM s{r - 1} s, t{r} t)""")
        outs.append(
            f"SELECT CAST({r} AS INT) AS sel_round, vec_id AS center_id, "
            f"mind AS radius FROM t{r}"
        )
    return "WITH " + ",".join(parts) + "\n" + "\nUNION ALL ".join(outs)


@register(
    "q_kcenter_coreset",
    oracle=_kcenter_oracle(),
    tags=("phase3", "similarity", "curation"),
)
def q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sel_round, center_id, radius) greedy k-center coreset — see the
    block comment for the algorithm, scale shape, and degenerate-corpus
    contract."""
    from ..cache import CheckpointRotation, tracked_persist

    pts = (
        _embeddings(spark, sf_dir)
        .select("vec_id", V.as_double(F.col("embedding")).alias("emb"))
        .filter(V.dot(F.col("emb"), F.col("emb")) > 0)
    )
    c1 = tracked_persist(
        pts.orderBy("vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("cid"), F.col("emb").alias("cemb"))
    )
    out = c1.select(
        F.lit(1).cast("int").alias("sel_round"),
        F.col("cid").alias("center_id"),
        F.lit(None).cast("double").alias("radius"),
    )
    cur = pts.crossJoin(F.broadcast(c1)).select(
        "vec_id",
        "emb",
        (F.lit(1.0) - V.cosine(F.col("emb"), F.col("cemb"))).alias("mind"),
    )
    ckpt = CheckpointRotation()
    for r in range(2, _KC_K + 1):
        cur = ckpt.checkpoint(cur)
        t, _ = ckpt.keep(
            cur.filter(F.col("mind") > 0)
            .orderBy(F.desc("mind"), "vec_id")
            .limit(1)
        )
        out = out.unionAll(
            t.select(
                F.lit(r).cast("int").alias("sel_round"),
                F.col("vec_id").alias("center_id"),
                F.col("mind").alias("radius"),
            )
        )
        cur = cur.crossJoin(
            F.broadcast(t.select(F.col("emb").alias("cemb")))
        ).select(
            "vec_id",
            "emb",
            F.least(
                F.col("mind"),
                F.lit(1.0) - V.cosine(F.col("emb"), F.col("cemb")),
            ).alias("mind"),
        )
    return out


# ---------------------------------------------------------------------------
# q_pca_power — top principal direction of the embedding matrix by
# FIXED-ROUND power iteration (von Mises-Pollaczek-Geiringer 1929; the
# PCA/whitening primitive embedding-curation pipelines run before
# SemDeDup-style clustering). Uncentered by contract (the dominant
# right-singular direction of X; corpus embeddings are normalized
# upstream), _PCA_ROUNDS synchronized iterations of
#   v <- normalize(X^T (X v)),
# each = two key-partitioned aggregations over the exploded
# (vec_id, dim, x) table: d_vec = sum_j x_j v_j per vector, then
# w_dim = sum_x x_dim d_x per dimension — map-side combined, nothing
# ever materializes a dim x dim covariance.
#
# DETERMINISM (the decimal-exact chain): inputs quantize once to
# DECIMAL(12,6); every cross-row sum (d, w, the norm accumulator) is
# exact decimal arithmetic, so partitioning cannot reorder a float
# sum anywhere; the only doubles are per-scalar (sqrt of the exact
# norm accumulator, the final w/norm division), evaluated as the
# identical expression tree on both engines; each round re-quantizes
# v to integer micro-units (v_e6 BIGINT), which is also the output
# format — no float column reaches the driver hash.
# ---------------------------------------------------------------------------

_PCA_DIM = 64
_PCA_ROUNDS = 3


def _pca_round_ctes(r: int) -> str:
    """One power-iteration round: consumes v{r} (dim, vj DECIMAL(12,6)),
    defines w{r}, nrm{r}, e{r}, v{r+1}. Multiply-referenced CTEs are
    MATERIALIZED (DuckDB inlining precedent, q_kcore_peel)."""
    return f"""
d{r} AS MATERIALIZED (
    SELECT x.vec_id, CAST(sum(CAST(x.xj * v.vj AS DECIMAL(26,12)))
                          AS DECIMAL(20,12)) AS d
    FROM x JOIN v{r} v ON v.dim = x.dim GROUP BY x.vec_id),
w{r} AS MATERIALIZED (
    SELECT x.dim, CAST(sum(CAST(x.xj * d.d AS DECIMAL(34,18)))
                       AS DECIMAL(30,12)) AS w
    FROM x JOIN d{r} d ON d.vec_id = x.vec_id GROUP BY x.dim),
nrm{r} AS MATERIALIZED (
    SELECT sqrt(CAST(sum(CAST(round(CAST(w AS DOUBLE) * CAST(w AS DOUBLE), 6)
                              AS DECIMAL(38,6))) AS DOUBLE)) AS nrm
    FROM w{r}),
e{r} AS MATERIALIZED (
    SELECT w.dim,
           CAST(round(CAST(w.w AS DOUBLE) / nullif(n.nrm, 0.0) * 1000000.0)
                AS BIGINT) AS v_e6
    FROM w{r} w, nrm{r} n),
v{r + 1} AS MATERIALIZED (
    SELECT dim, CAST(CAST(v_e6 AS DECIMAL(18,0))
                     * CAST(0.000001 AS DECIMAL(8,6)) AS DECIMAL(12,6)) AS vj
    FROM e{r})"""


def _pca_oracle() -> str:
    rounds = ",".join(_pca_round_ctes(r) for r in range(1, _PCA_ROUNDS + 1))
    last = _PCA_ROUNDS
    return f"""
WITH x AS MATERIALIZED (
    SELECT vec_id, s.dim AS dim,
           CAST(round(CAST(embedding[s.dim] AS DOUBLE), 6)
                AS DECIMAL(12,6)) AS xj
    FROM embeddings, (SELECT unnest(generate_series(1, {_PCA_DIM})) AS dim) s
    WHERE {_EMB_OK} AND len(embedding) = {_PCA_DIM}),
v1 AS (SELECT DISTINCT dim, CAST(0.125 AS DECIMAL(12,6)) AS vj FROM x),
{rounds}
SELECT e.dim AS dim, e.v_e6 AS v_e6,
       CAST(round(n.nrm * 1000.0) AS BIGINT) AS eig_e3
FROM e{last} e, nrm{last} n
"""


@register(
    "q_pca_power",
    oracle=_pca_oracle(),
    tags=("phase3", "similarity", "linalg"),
)
def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(dim, v_e6, eig_e3) — the top principal direction in integer
    micro-units plus the eigenvalue estimate (the final iterate's norm,
    milli-units). See the block comment for the decimal-exact chain.
    The exploded (vec_id, dim, x) table persists DISK_ONLY (it feeds
    both aggregations every round); per-round v tables rotate through
    cache.CheckpointRotation."""
    from ..cache import CheckpointRotation

    e = _embeddings(spark, sf_dir).filter(
        F.size("embedding") == _PCA_DIM
    )
    x = tracked_persist(
        e.select(
            "vec_id", F.posexplode("embedding").alias("dim0", "x")
        ).select(
            "vec_id",
            (F.col("dim0") + 1).cast("int").alias("dim"),
            F.round(F.col("x").cast("double"), 6)
            .cast("decimal(12,6)")
            .alias("xj"),
        ),
        StorageLevel.DISK_ONLY,
    )
    v = x.select("dim").distinct().select(
        "dim", F.lit(0.125).cast("decimal(12,6)").alias("vj")
    )
    ckpt = CheckpointRotation()
    out = None
    for r in range(1, _PCA_ROUNDS + 1):
        d = (
            x.join(F.broadcast(v), "dim")
            .groupBy("vec_id")
            .agg(
                F.sum(
                    (F.col("xj") * F.col("vj")).cast("decimal(26,12)")
                ).cast("decimal(20,12)").alias("d")
            )
        )
        w = (
            x.join(d, "vec_id")
            .groupBy("dim")
            .agg(
                F.sum(
                    (F.col("xj") * F.col("d")).cast("decimal(34,18)")
                ).cast("decimal(30,12)").alias("w")
            )
        )
        wd = F.col("w").cast("double")
        nrm = w.agg(
            F.sqrt(
                F.sum(
                    F.round(wd * wd, 6).cast("decimal(38,6)")
                ).cast("double")
            ).alias("nrm")
        )
        # nullif guard: an all-zero (or degenerate) corpus has no
        # principal direction — norm 0 yields NULL components on both
        # engines instead of an ANSI divide-by-zero (fuzz corpus edge)
        ev = w.crossJoin(F.broadcast(nrm)).select(
            "dim",
            F.round(wd / F.nullif(F.col("nrm"), F.lit(0.0)) * F.lit(1e6))
            .cast("bigint").alias("v_e6"),
            F.round(F.col("nrm") * F.lit(1e3)).cast("bigint").alias("eig_e3"),
        )
        if r < _PCA_ROUNDS:
            v = ckpt.checkpoint(
                ev.select(
                    "dim",
                    (
                        F.col("v_e6").cast("decimal(18,0)")
                        * F.lit(0.000001).cast("decimal(8,6)")
                    ).cast("decimal(12,6)").alias("vj"),
                )
            )
        else:
            out = ev
    return out.select("dim", "v_e6", "eig_e3")


# ---------------------------------------------------------------------------
# q_label_noise — kNN label-disagreement audit (the Confident-Learning
# family, Northcutt et al. 2021: an example whose nearest neighbors
# vote for a different class is a likely annotation error). For every
# vector: its 5 nearest neighbors by cosine (self excluded), the
# neighbourhood's majority label (ties -> smaller label), and per TRUE
# label the count/rate of majority disagreements — the label-QC gate a
# finetuning-data pipeline runs before training on labeled corpora.
#
# SF-capped at vec_id < _NOISE_CAP (the q_cosine_pairs precedent):
# every-vector-vs-corpus exact kNN is intrinsically quadratic; the
# scale path is the IVF-bucketed neighbor family (q_ivf_knn /
# q_semantic_dedup cells), while this query is the exact baseline at a
# fixed corpus size. Determinism: cosine scores are bit-identical
# across engines (functions/vectors.py), rank ties break on
# neighbor id, majority ties on smaller label, and the final rate is
# a per-row division of exact integers.
# ---------------------------------------------------------------------------

_NOISE_CAP = 2000
_NOISE_K = 5

_LABEL_NOISE_ORACLE = f"""
WITH e AS (SELECT vec_id, label, {_EMB_D} AS emb FROM embeddings
           WHERE {_EMB_OK} AND label IS NOT NULL AND vec_id < {_NOISE_CAP}),
s AS (SELECT a.vec_id AS qid, a.label AS qlab, b.vec_id AS cid,
             b.label AS clab, {V.cosine_sql('a.emb', 'b.emb')} AS score
      FROM e a JOIN e b ON a.vec_id != b.vec_id),
r AS (SELECT qid, qlab, clab,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score DESC, cid) AS rk
      FROM s),
v AS (SELECT qid, qlab, clab, count(*) AS cnt
      FROM r WHERE rk <= {_NOISE_K} GROUP BY qid, qlab, clab),
mx AS (SELECT qid, max(cnt) AS mc FROM v GROUP BY qid),
m AS (SELECT v.qid, min(v.qlab) AS qlab, min(v.clab) AS maj
      FROM v JOIN mx ON mx.qid = v.qid AND v.cnt = mx.mc
      GROUP BY v.qid)
SELECT qlab AS label,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN maj != qlab THEN 1 ELSE 0 END) AS BIGINT)
           AS n_flagged,
       CAST(sum(CASE WHEN maj != qlab THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*) AS flag_rate
FROM m GROUP BY qlab
"""

register_cap(
    "q_label_noise", "vec_id", _NOISE_CAP, "_NOISE_CAP",
    "every-vector-vs-corpus exact kNN is intrinsically quadratic "
    "(the q_cosine_pairs class); the IVF-bucketed neighbor family is "
    "the scale path — the exact label-noise baseline runs at a fixed "
    "corpus size",
)


@register(
    "q_label_noise",
    oracle=_LABEL_NOISE_ORACLE,
    tags=("phase3", "similarity", "curation"),
)
def q_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, n, n_flagged, flag_rate) — per-class kNN majority-label
    disagreement (see block comment).

    The pair leg runs in the rank-1-update Arrow kernel
    (operators/pairs.self_knn_label_votes): bit-identical scores to the
    oracle's expression cosine, same (score DESC NULLS LAST, cid ASC)
    ranking, but vectorized outer-product sweeps instead of 4M
    interpreted crossJoin rows — measured 22.3 s -> 2.0 s at the sf0.1
    cap (the q_cosine_pairs r8 rewrite, same playbook). Since r13 the
    kernel is DISTRIBUTED (corpus hash-split + per-split top-k union +
    global re-rank, parity-pinned to the single-group reference) so
    the exact baseline no longer funnels the corpus through one
    executor; the cap stays because exact kNN is intrinsically
    quadratic, with the IVF family as the scale path."""
    e = _embeddings(spark, sf_dir).filter(
        F.col("label").isNotNull() & (F.col("vec_id") < _NOISE_CAP)
    )
    from ..operators.pairs import self_knn_label_votes

    votes = (
        self_knn_label_votes(
            e.select(
                "vec_id", "label", V.as_double(F.col("embedding")).alias("emb")
            ),
            k=_NOISE_K,
        )
        .groupBy("qid", "qlab", "clab")
        .agg(F.count("*").alias("cnt"))
    )
    # argmax neighbor-label count, ties -> smaller label: one hash agg
    maj = votes.groupBy("qid", "qlab").agg(
        F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("clab").alias("maj")))
        .getField("maj")
        .alias("maj")
    )
    flagged = F.when(F.col("maj") != F.col("qlab"), 1).otherwise(0)
    return (
        maj.select("qlab", flagged.alias("f"))
        .groupBy("qlab")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("f").cast("bigint").alias("n_flagged"),
            (F.sum("f").cast("double") / F.count("*")).alias("flag_rate"),
        )
        .select(F.col("qlab").alias("label"), "n", "n_flagged", "flag_rate")
    )
