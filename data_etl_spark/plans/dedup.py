"""Deduplication queries (north-star: exact, n-gram Jaccard, MinHash+LSH,
SimHash) over ``documents``.

Each variant is the relational composition from operators/dedup.py with
an exact DuckDB oracle — including MinHash and LSH banding, which stay
deterministic because hashing is md5-hex (identical in both engines) and
minima are lexicographic.

Persist lifetime and storage levels: plan builders return lazy
DataFrames, so persists made here cannot be unpersisted inside the
builder — they live until the session evicts them. Policy:
- FIXED-WIDTH-PER-DOC tables (minhash signatures: 8 rows/doc; simhash
  values; band keys; candidate pairs) may use the default
  MEMORY_AND_DISK — each is much smaller than its source corpus and
  Spark's LRU evicts cold blocks under pressure;
- CORPUS-SCALE tables (raw distinct shingle sets ~ word positions,
  q_dup_spans' positional 8-grams, the CMS token stream) persist
  DISK_ONLY — caching them in executor memory would evict hotter
  blocks at 100 TB (enforced for the two worst by
  tests/test_plans.py::test_corpus_scale_persist_is_disk_only).
A long-lived service embedding these plans should call
``spark.catalog.clearCache()`` between query batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..cache import tracked_persist
from ..functions import text as TX
from ..operators import dedup as DD
from ..sources import load_table
from .registry import register, register_cap

# ---------------------------------------------------------------------------
# q_exact_dedup — hash-groupBy canonical assignment (every doc -> canonical
# doc with identical content; is_dup flags non-canonical members).
# ---------------------------------------------------------------------------

_EXACT_ORACLE = """
SELECT doc_id,
       md5(text) AS fingerprint,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
       CAST(doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS INT) AS is_dup
FROM documents
"""


@register("q_exact_dedup", oracle=_EXACT_ORACLE, tags=("phase3", "dedup"))
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 fingerprint + min-doc_id canonical per group."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5("text")
    w = W.partitionBy(fp)
    canonical = F.min("doc_id").over(w)
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        canonical.alias("canonical_id"),
        (F.col("doc_id") != canonical).cast("int").alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# q_ngram_jaccard — top-50 most-similar pairs by 3-word-shingle Jaccard,
# via the shingle inverted index (never O(n²)).
# ---------------------------------------------------------------------------

_SHINGLE_CTE = DD.word_shingles_sql("documents")

_JACCARD_ORACLE = f"""
WITH sh AS ({_SHINGLE_CTE}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc1, p.doc2, p.n_common,
       CAST(p.n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - p.n_common) AS jaccard
FROM pairs p
JOIN sizes s1 ON s1.doc_id = p.doc1
JOIN sizes s2 ON s2.doc_id = p.doc2
ORDER BY jaccard DESC, p.doc1, p.doc2
LIMIT 50
"""


@register("q_ngram_jaccard", oracle=_JACCARD_ORACLE, tags=("phase3", "dedup"))
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup: top-50 pairs via shingle inverted index."""
    d = load_table(spark, sf_dir, "documents")
    # persist: the shingle set feeds both sides of the self-join and the
    # size lookup; without it the whole tokenize+explode subtree runs 3x.
    sh = tracked_persist(DD.word_shingles(d), StorageLevel.DISK_ONLY)
    return (
        DD.shingle_pair_stats(sh)
        .select(
            "doc1",
            "doc2",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_sh1") + F.col("n_sh2") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "doc1", "doc2")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# q_minhash_signatures — k=8 md5-based MinHash values per doc.
# ---------------------------------------------------------------------------

_MINHASH_ORACLE = DD.minhash_signatures_sql(_SHINGLE_CTE)


@register("q_minhash_signatures", oracle=_MINHASH_ORACLE, tags=("phase3", "dedup"))
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=8 seeds, md5-hex minima)."""
    d = load_table(spark, sf_dir, "documents")
    return DD.minhash_signatures(DD.word_shingles(d))


# ---------------------------------------------------------------------------
# q_minhash_lsh_pairs — LSH candidate pairs (1-row bands over the k=8
# signature: docs colliding on any seed's minhash).
# ---------------------------------------------------------------------------

_LSH_ORACLE = f"""
WITH sig AS ({_MINHASH_ORACLE})
SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(DISTINCT a.seed) AS n_shared_bands
FROM sig a
JOIN sig b ON a.seed = b.seed AND a.minhash = b.minhash AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


@register("q_minhash_lsh_pairs", oracle=_LSH_ORACLE, tags=("phase3", "dedup"))
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs via bucket self-join."""
    d = load_table(spark, sf_dir, "documents")
    sig = tracked_persist(DD.minhash_signatures(DD.word_shingles(d)))
    return DD.lsh_candidate_pairs(sig)


# ---------------------------------------------------------------------------
# q_simhash — 16-bit SimHash per doc from term-frequency-weighted word
# hashes. Hex nibbles are parsed positionally (strpos against a constant
# alphabet) because that is the only hex->int primitive both engines
# share; bit k is extracted arithmetically (floor(v / 2^k) % 2).
# ---------------------------------------------------------------------------

def _hexval_sql(h: str) -> str:
    """SQL int value of the first 4 hex chars of md5 expr ``h``.

    Uses instr(haystack, needle) — same name/arg-order in Spark SQL and
    DuckDB — as the portable hex-nibble lookup.
    """
    nib = lambda p: f"(instr('0123456789abcdef', substring({h}, {p}, 1)) - 1)"  # noqa: E731
    return f"((({nib(1)} * 16 + {nib(2)}) * 16 + {nib(3)}) * 16 + {nib(4)})"


def _simhash_select() -> str:
    """Shared SQL text for the SimHash aggregation (valid in both dialects)."""
    bits = []
    for k in range(16):
        bit = f"CAST(floor(v / {2**k}.0) AS BIGINT) % 2"
        bits.append(
            f"CASE WHEN 2 * sum(cnt * ({bit})) >= sum(cnt) THEN {2**k} ELSE 0 END"
        )
    simhash = " + ".join(bits)
    return simhash


_SIMHASH_WORDCOUNT_SQL = """
    SELECT doc_id, w AS word, count(*) AS cnt
    FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents)
    GROUP BY doc_id, w
"""

_SIMHASH_ORACLE = f"""
WITH wc AS ({_SIMHASH_WORDCOUNT_SQL}),
hv AS (SELECT doc_id, cnt, {_hexval_sql('md5(word)')} AS v FROM wc)
SELECT doc_id, {_simhash_select()} AS simhash
FROM hv
GROUP BY doc_id
"""


@register("q_simhash", oracle=_SIMHASH_ORACLE, tags=("phase3", "dedup"))
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (tf-weighted bitwise majority)."""
    from ..functions.text import words

    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select("doc_id", F.explode(words(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )
    hv = wc.select("doc_id", "cnt", F.expr(_hexval_sql("md5(word)")).alias("v"))
    return hv.groupBy("doc_id").agg(
        F.expr(_simhash_select()).alias("simhash")
    )


# ---------------------------------------------------------------------------
# q_simhash_pairs — SimHash near-dup pair generation: band the signature,
# self-join on (band, band_value), keep pairs with Hamming distance <= 3.
# The banded join is the 100 TB shape (candidates come from equality
# buckets, never an all-pairs scan); Hamming via bit_count(xor) is exact
# integer arithmetic, so the oracle is a full value-hash check.
#
# Fixture-scale constants: the 16-bit SimHash splits into 2 bands x 8
# bits (256 values/band — bucket occupancy n/256). At production scale
# this becomes a 64-bit SimHash with band width >= log2(n_docs) bits so
# expected bucket size stays O(1); the plan shape is unchanged.
# ---------------------------------------------------------------------------

# Band extraction by portable arithmetic (floor-div / mod work in both
# dialects; bit-shift syntax does not): hi = simhash div 256, lo = mod.
_SIMHASH_PAIRS_ORACLE = f"""
WITH wc AS ({_SIMHASH_WORDCOUNT_SQL}),
hv AS (SELECT doc_id, cnt, {_hexval_sql('md5(word)')} AS v FROM wc),
sh AS (
    SELECT doc_id, {_simhash_select()} AS simhash
    FROM hv
    GROUP BY doc_id
),
banded AS (
    SELECT doc_id, simhash, 0 AS band,
           CAST(floor(simhash / 256.0) AS BIGINT) AS band_val FROM sh
    UNION ALL
    SELECT doc_id, simhash, 1, simhash % 256 FROM sh
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
           a.simhash AS h1, b.simhash AS h2
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.band_val = b.band_val
                 AND a.doc_id < b.doc_id
)
SELECT doc1, doc2, bit_count(xor(h1, h2)) AS hamming
FROM cand
WHERE bit_count(xor(h1, h2)) <= 3
"""


@register("q_simhash_pairs", oracle=_SIMHASH_PAIRS_ORACLE, tags=("phase3", "dedup"))
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded LSH candidates + Hamming <= 3."""
    sh = q_simhash(spark, sf_dir)
    # persist: both legs of the band self-join scan this table; without
    # the cache each leg re-runs the words-explode + 16-bit majority
    # aggregation over the full corpus (same rationale as
    # q_ngram_jaccard's shingle persist).
    banded = tracked_persist(
        sh.select(
            "doc_id",
            "simhash",
            F.posexplode(
                F.array(
                    F.floor(F.col("simhash") / 256.0).cast("bigint"),
                    F.col("simhash") % 256,
                )
            ).alias("band", "band_val"),
        )
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            F.col("a.simhash").alias("h1"),
            F.col("b.simhash").alias("h2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return cand.select("doc1", "doc2", hamming.alias("hamming")).filter(
        F.col("hamming") <= 3
    )


# ---------------------------------------------------------------------------
# q_dedup_clusters — connected components over the MinHash-LSH candidate
# graph: the canonical-assignment step of a full dedup pipeline
# (candidates -> clusters -> keep min doc_id). Spark side is iterative
# hash-min label propagation (operators/components.py); the oracle is a
# recursive-CTE transitive closure — both deterministic. Candidates are
# the 2-ROW-BAND pairs (banded_candidate_pairs): clustering transitively
# CHAINS edges, so the any-seed graph's corpus-quadratic background
# (single-seed collisions between unrelated docs) doesn't just add
# edges, it fuses unrelated clusters — precision matters twice here.
# ---------------------------------------------------------------------------

_CLUSTERS_ORACLE = f"""
WITH RECURSIVE sig AS ({_MINHASH_ORACLE}),
bands AS (
    SELECT doc_id, seed // 2 AS band,
           string_agg(CAST(minhash AS VARCHAR), ':' ORDER BY seed) AS band_key
    FROM sig GROUP BY doc_id, seed // 2
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
),
edges AS (
    SELECT doc1 AS src, doc2 AS dst FROM pairs
    UNION
    SELECT doc2 AS src, doc1 AS dst FROM pairs
),
reach(a, b) AS (
    SELECT src, src FROM edges
    UNION
    SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
comp AS (
    SELECT a AS doc_id, min(b) AS canonical_id FROM reach GROUP BY a
)
SELECT doc_id, canonical_id,
       count(*) OVER (PARTITION BY canonical_id) AS cluster_size
FROM comp
"""


@register("q_dedup_clusters", oracle=_CLUSTERS_ORACLE, tags=("phase3", "dedup", "components"))
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: LSH candidates -> connected components."""
    from ..operators.components import dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    sig = tracked_persist(DD.minhash_signatures(DD.word_shingles(d)))
    pairs = DD.banded_candidate_pairs(sig).select("doc1", "doc2")
    return dedup_clusters(pairs)


# ---------------------------------------------------------------------------
# q_minhash_banded_pairs — LSH with 2-row bands (b=4 bands x r=2 rows):
# the precision knob vs q_minhash_lsh_pairs's 1-row bands. A pair is a
# candidate only if BOTH minhashes of some band collide — candidate
# probability drops from 1-(1-s)^k to 1-(1-s^2)^4 (steeper S-curve).
# ---------------------------------------------------------------------------

_BANDED_ORACLE = f"""
WITH sig AS ({_MINHASH_ORACLE}),
banded AS (
    SELECT doc_id, seed // 2 AS band,
           string_agg(CAST(minhash AS VARCHAR), ':' ORDER BY seed) AS band_key
    FROM sig
    GROUP BY doc_id, seed // 2
)
SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_shared_bands
FROM banded a
JOIN banded b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


@register("q_minhash_banded_pairs", oracle=_BANDED_ORACLE, tags=("phase3", "dedup"))
def q_minhash_banded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH with 2-row bands (band key = joined minhash pair)."""
    d = load_table(spark, sf_dir, "documents")
    sig = DD.minhash_signatures(DD.word_shingles(d))
    return DD.banded_candidate_pairs(sig)


# ---------------------------------------------------------------------------
# q_minhash_estimate — sketch-quality evaluation: for every LSH candidate
# pair, the MinHash Jaccard ESTIMATE (fraction of agreeing signature
# slots) next to the EXACT shingle Jaccard and the signed error. All
# integer arithmetic until two final divisions -> exact oracle. This is
# the measurement loop a production dedup pipeline runs when tuning
# k/bands against recall.
# ---------------------------------------------------------------------------

_MH_EST_ORACLE = f"""
WITH sh AS ({_SHINGLE_CTE}),
sig AS ({DD.minhash_signatures_sql("sh_named")}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
cand AS (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           count(*) AS n_agree
    FROM sig a JOIN sig b ON a.seed = b.seed AND a.doc_id < b.doc_id
                          AND a.minhash = b.minhash
    GROUP BY a.doc_id, b.doc_id
),
exact AS (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT c.doc1, c.doc2,
       CAST(c.n_agree AS DOUBLE) / 8 AS jaccard_est,
       CAST(e.n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - e.n_common) AS jaccard_exact,
       CAST(c.n_agree AS DOUBLE) / 8
         - CAST(e.n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - e.n_common) AS est_error
FROM cand c
JOIN exact e ON e.doc1 = c.doc1 AND e.doc2 = c.doc2
JOIN sizes s1 ON s1.doc_id = c.doc1
JOIN sizes s2 ON s2.doc_id = c.doc2
""".replace("(sh_named)", "(SELECT * FROM sh)")


@register("q_minhash_estimate", oracle=_MH_EST_ORACLE, tags=("phase3", "dedup"))
def q_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard estimate vs exact Jaccard per LSH candidate pair.

    Scale: candidates come from the signature buckets (never all-pairs);
    the exact leg only runs on the candidate set — the standard
    verify-after-LSH pattern, here emitting the tuning metric.
    """
    d = load_table(spark, sf_dir, "documents")
    sh = tracked_persist(DD.word_shingles(d), StorageLevel.DISK_ONLY)
    # candidate pairs via the SAME operator production banding uses
    # (operators/dedup.py::lsh_candidate_pairs); n_shared_bands ==
    # count of agreeing seeds since signatures hold one row per seed
    cand = DD.lsh_candidate_pairs(DD.minhash_signatures(sh)).withColumnRenamed(
        "n_shared_bands", "n_agree"
    )
    est = F.col("n_agree").cast("double") / F.lit(8)
    ex = F.col("n_common").cast("double") / (
        F.col("n_sh1") + F.col("n_sh2") - F.col("n_common")
    )
    return (
        cand.join(DD.shingle_pair_stats(sh), ["doc1", "doc2"])
        .select(
            "doc1",
            "doc2",
            est.alias("jaccard_est"),
            ex.alias("jaccard_exact"),
            (est - ex).alias("est_error"),
        )
    )


# ---------------------------------------------------------------------------
# q_sentence_dedup — SUB-document dedup: drop duplicate sentences across
# the whole corpus, keep-first by (doc_id, sent_idx). The standard
# boilerplate-removal pass of a training pipeline (dedup at line/
# sentence granularity catches headers/footers exact-dedup misses).
# Sentences are synthesized with the same deterministic punctuation rule
# as q_sentence_chunks; identity is md5 of the sentence text; the kept
# residue is re-concatenated in order and md5'd so the oracle check is
# byte-exact on the surviving text, not just counts.
# ---------------------------------------------------------------------------

_SENT_DEDUP_ORACLE = r"""
WITH punct AS (
    SELECT doc_id,
           regexp_replace(text, '((?:\w+ ){7}\w+) ', '\1. ', 'g') AS ptext
    FROM documents
),
marked AS (
    SELECT doc_id,
           string_split(regexp_replace(ptext, '([.!?]) ', '\1' || chr(1), 'g'), chr(1)) AS sents
    FROM punct
),
s AS (
    SELECT doc_id, unnest(sents) AS sentence,
           unnest(generate_series(1, len(sents))) AS sent_idx
    FROM marked
),
ranked AS (
    SELECT doc_id, sent_idx, sentence,
           row_number() OVER (PARTITION BY md5(sentence)
                              ORDER BY doc_id, sent_idx) AS occ
    FROM s WHERE sentence <> ''
),
kept AS (
    SELECT doc_id,
           string_agg(CASE WHEN occ = 1 THEN sentence END, ' ' ORDER BY sent_idx) AS kept_text,
           count(*) AS n_sentences,
           CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM ranked GROUP BY doc_id
)
SELECT doc_id, n_sentences, n_kept, md5(coalesce(kept_text, '')) AS kept_md5
FROM kept
"""


@register("q_sentence_dedup", oracle=_SENT_DEDUP_ORACLE, tags=("phase3", "dedup"))
def q_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide sentence dedup, keep-first, byte-exact residue md5."""
    d = load_table(spark, sf_dir, "documents")
    ptext = F.regexp_replace("text", r"((?:\w+ ){7}\w+) ", "$1. ")
    marked = F.regexp_replace(ptext, r"([.!?]) ", "$1\x01")
    s = (
        d.select("doc_id", F.posexplode(F.split(marked, "\x01")).alias("pos", "sentence"))
        .withColumn("sent_idx", F.col("pos") + 1)
        .filter(F.col("sentence") != "")
    )
    occ_w = W.partitionBy(F.md5("sentence")).orderBy("doc_id", "sent_idx")
    ranked = s.withColumn("occ", F.row_number().over(occ_w))
    kept_sorted = F.array_sort(
        F.collect_list(
            F.when(F.col("occ") == 1, F.struct("sent_idx", "sentence"))
        )
    )
    kept = ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_sentences"),
        F.sum((F.col("occ") == 1).cast("bigint")).alias("n_kept"),
        F.array_join(
            F.transform(kept_sorted, lambda st: st["sentence"]), " "
        ).alias("kept_text"),
    )
    return kept.select(
        "doc_id",
        "n_sentences",
        "n_kept",
        F.md5(F.coalesce("kept_text", F.lit(""))).alias("kept_md5"),
    )


# ---------------------------------------------------------------------------
# q_decontaminate — benchmark-contamination scan: flag corpus documents
# sharing any 4-word shingle with a (deterministic fixture) benchmark
# set, excluding the benchmark docs themselves. The 100 TB shape is the
# point: benchmark shingle sets are tiny relative to the corpus, so the
# overlap test is a BROADCAST semi-join against the one corpus-wide
# shingle scan — no shuffle of the corpus by shingle. (Real pipelines
# decontaminate against eval suites exactly this way, typically with
# 8-13-gram windows; 4 here because the fixture corpus mutates often
# enough that longer windows rarely survive across documents.)
# ---------------------------------------------------------------------------

_DECON_ORACLE = f"""
WITH sh AS ({DD.word_shingles_sql('documents', n=4, max_df=None)}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0)
SELECT sh.doc_id, count(DISTINCT sh.shingle) AS n_hits
FROM sh JOIN bench ON sh.shingle = bench.shingle
WHERE sh.doc_id % 10 <> 0
GROUP BY sh.doc_id
"""


@register("q_decontaminate", oracle=_DECON_ORACLE, tags=("phase3", "dedup"))
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark 4-gram contamination flags via broadcast semi-join."""
    d = load_table(spark, sf_dir, "documents")
    sh = tracked_persist(
        DD.word_shingles(d, n=4, max_df=None), StorageLevel.DISK_ONLY
    )
    bench = (
        sh.filter(F.col("doc_id") % 10 == 0).select("shingle").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % 10 != 0)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_hits"))
    )


# ---------------------------------------------------------------------------
# q_corpus_filter — the corpus-curation FUNNEL: compose dedup, near-dup
# clustering, benchmark decontamination, and quality scoring into one
# keep/drop verdict per document with a priority-ordered reason code
# (benchmark > exact_dup > near_dup > contaminated > low_quality >
# kept). This is the final selection step of a training-data pipeline
# expressed as one DataFrame plan over the component queries; the
# oracle stitches the components' own oracle SQL as subqueries, so the
# verdicts hash-match end-to-end.
# ---------------------------------------------------------------------------


def _corpus_filter_oracle() -> str:
    # Imported here but evaluated eagerly at the @register call below,
    # i.e. .textstats loads during THIS module's import. That is safe
    # because textstats is a leaf (imports nothing from dedup); if that
    # ever changes, make the registry accept a lazy oracle instead.
    from .textstats import _QUALITY_ORACLE

    return f"""
WITH exact AS (SELECT doc_id, is_dup FROM ({_EXACT_ORACLE})),
clusters AS (
    SELECT doc_id, CAST(doc_id <> canonical_id AS INT) AS is_near
    FROM ({_CLUSTERS_ORACLE})
),
decon AS (SELECT doc_id, n_hits FROM ({_DECON_ORACLE})),
quality AS (SELECT doc_id, quality_score FROM ({_QUALITY_ORACLE}))
SELECT d.doc_id,
       CASE WHEN d.doc_id % 10 = 0 THEN 'benchmark'
            WHEN exact.is_dup = 1 THEN 'exact_dup'
            WHEN coalesce(clusters.is_near, 0) = 1 THEN 'near_dup'
            WHEN coalesce(decon.n_hits, 0) > 0 THEN 'contaminated'
            WHEN quality.quality_score < 0.45 THEN 'low_quality'
            ELSE 'kept' END AS verdict
FROM documents d
LEFT JOIN exact ON d.doc_id = exact.doc_id
LEFT JOIN clusters ON d.doc_id = clusters.doc_id
LEFT JOIN decon ON d.doc_id = decon.doc_id
LEFT JOIN quality ON d.doc_id = quality.doc_id
"""


@register("q_corpus_filter", oracle=_corpus_filter_oracle(), tags=("phase3", "dedup"))
def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-ordered keep/drop verdict per doc (curation funnel)."""
    from .textstats import q_text_quality

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    exact = q_exact_dedup(spark, sf_dir).select("doc_id", "is_dup")
    clusters = q_dedup_clusters(spark, sf_dir).select(
        "doc_id",
        (F.col("doc_id") != F.col("canonical_id")).cast("int").alias("is_near"),
    )
    decon = q_decontaminate(spark, sf_dir)
    qual = q_text_quality(spark, sf_dir).select("doc_id", "quality_score")
    joined = (
        d.join(exact, "doc_id", "left")
        .join(clusters, "doc_id", "left")
        .join(decon, "doc_id", "left")
        .join(qual, "doc_id", "left")
    )
    verdict = (
        F.when(F.col("doc_id") % 10 == 0, "benchmark")
        .when(F.col("is_dup") == 1, "exact_dup")
        .when(F.coalesce("is_near", F.lit(0)) == 1, "near_dup")
        .when(F.coalesce("n_hits", F.lit(0)) > 0, "contaminated")
        .when(F.col("quality_score") < 0.45, "low_quality")
        .otherwise("kept")
    )
    return joined.select("doc_id", verdict.alias("verdict"))


# ---------------------------------------------------------------------------
# q_dup_spans — exact-substring duplication detection at 8-word-shingle
# granularity (the candidate step of Lee et al. 2021's "Deduplicating
# Training Data Makes Language Models Better" suffix-array dedup,
# re-expressed relationally): every positional occurrence of an 8-gram
# that appears in two or more distinct documents, ready for span
# clipping/removal downstream.
# ---------------------------------------------------------------------------

_DUP_N = 8
_DUP_PARTS = " || ' ' || ".join(f"ws[i + {j}]" for j in range(_DUP_N))

_DUP_SPANS_ORACLE = f"""
WITH w AS (SELECT doc_id, {{ws}} AS ws FROM documents),
sp AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, greatest(len(ws) - {_DUP_N - 1}, 0)),
                                 i -> {{{{'pos': i, 'sh': {_DUP_PARTS}}}}})) AS u
    FROM w
),
occ AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.sh AS shingle FROM sp),
dup AS (
    SELECT shingle, count(DISTINCT doc_id) AS n_docs
    FROM occ GROUP BY shingle HAVING count(DISTINCT doc_id) >= 2
)
SELECT o.doc_id, o.pos, o.shingle, dup.n_docs
FROM occ o JOIN dup USING (shingle)
"""


@register(
    "q_dup_spans",
    oracle=_DUP_SPANS_ORACLE.format(ws=TX.words_sql("text")),
    tags=("phase3", "dedup", "substring"),
)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional occurrences of 8-grams shared across >=2 documents.

    Scale shape: one tokenize+posexplode pass (array built once per row
    via shifted-slice zip_with — never element_at, which would
    re-tokenize per shingle), a partial-agg distinct-doc count keyed by
    shingle, and one shuffle join of occurrences against the (small,
    HAVING-filtered) duplicate set. Boilerplate-heavy shingles are
    *exactly* what this query must surface, so no DF cap here — the
    count agg absorbs hot keys map-side, and the join fans out only
    true duplicates.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", F.col("text"))
    # Measured choice (sf0.1, local[32], min-of-2): documents.parquet
    # scans as ONE input split there, so without a repartition the
    # tokenize/shingle/posexplode chain runs on a single task (3.1 s vs
    # 0.9 s). The shuffle buys parallelism ONLY when the scan is
    # under-partitioned — at 100 TB the scan already has thousands of
    # splits and a corpus-wide text shuffle would be pure cost — so gate
    # it on the actual scan partition count (driver-side metadata, no
    # job). Round-robin, not keyed: downstream keys on shingle, so
    # doc_id co-location buys nothing.
    target = spark.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < target:
        base = base.repartition(target)
    ws_df = base.select("doc_id", TX.words(F.col("text")).alias("ws"))
    cnt = F.greatest(F.size("ws") - (_DUP_N - 1), F.lit(0))
    arr = F.slice("ws", 1, cnt)
    for j in range(1, _DUP_N):
        arr = F.zip_with(
            arr, F.slice("ws", j + 1, cnt), lambda a, b: F.concat_ws(" ", a, b)
        )
    # `occ` is every positional 8-gram — ~8x the token count, a corpus-scale
    # intermediate. It feeds two consumers (the dup-count agg and the
    # occurrence join), so recomputing would tokenize twice; but at 100 TB a
    # MEMORY_AND_DISK persist evicts pathologically, so pin it DISK_ONLY:
    # sequential parquet-speed re-reads, zero executor-memory pressure
    # (round-3 verdict, wrong #4).
    occ = tracked_persist(
        ws_df.select("doc_id", F.posexplode(arr).alias("pos0", "shingle"))
        .select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "shingle"),
        StorageLevel.DISK_ONLY,
    )
    dup = (
        occ.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    return occ.join(dup, "shingle").select("doc_id", "pos", "shingle", "n_docs")


# ---------------------------------------------------------------------------
# q_entity_match — rule-based entity resolution (record linkage): block
# candidates by (nation, market segment), score within blocks by
# Levenshtein edit distance on the entity name, keep pairs under the
# distance threshold. Blocking is what makes linkage tractable at scale:
# pair volume is sum of per-block squares, never corpus², and both
# engines implement the identical Wagner-Fischer distance so the scores
# are integer-exact.
# ---------------------------------------------------------------------------

_ENTITY_DIST = 2
# Third blocking key: name prefix. (nation, segment) alone is ~125 blocks at
# ANY corpus size, so per-block pair volume grows quadratically with the
# corpus — the round-3 verdict's one perf-weak item. The prefix key's
# cardinality grows with the corpus (digit entropy in generated names: 2
# distinct prefixes at sf0.01, 15 at sf0.1, ~n/1000 in general), holding
# per-block size roughly constant, so candidate pairs grow ~linearly.
# Recall is the standard blocking trade: a pair whose edit distance fits the
# threshold but whose first-{prefix} chars differ is not a candidate — the
# oracle applies the identical predicate, so the contract stays exact.
_ENTITY_PREFIX = 15

_ENTITY_ORACLE = f"""
SELECT a.c_custkey AS cust1, b.c_custkey AS cust2,
       a.c_name AS name1, b.c_name AS name2,
       levenshtein(a.c_name, b.c_name) AS dist
FROM customer a
JOIN customer b
  ON a.c_nationkey = b.c_nationkey
 AND a.c_mktsegment = b.c_mktsegment
 AND substring(a.c_name, 1, {_ENTITY_PREFIX}) = substring(b.c_name, 1, {_ENTITY_PREFIX})
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= {_ENTITY_DIST}
"""


@register("q_entity_match", oracle=_ENTITY_ORACLE, tags=("phase3", "dedup", "linkage"))
def q_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked entity matching: same (nation, segment, name-prefix),
    edit distance <= 2.

    The self-join shuffles once on the composite blocking key; edit
    distance runs JVM-side inside the join filter, so pruning happens
    before any result row materializes. The name-prefix key is what
    keeps this viable at 100 TB: without it the (nation, segment) block
    count is a constant ~125, so block size — and in-block pair volume,
    quadratically — grows with the corpus; with it, block cardinality
    scales with the corpus and block size stays bounded
    (tests/test_stress.py::test_entity_blocking_bounds_giant_segment).
    """
    return entity_match_pairs(load_table(spark, sf_dir, "customer"))


def entity_match_pairs(customer: DataFrame) -> DataFrame:
    """Blocked linkage core (shared by q_entity_match and the stress test):
    block on (nation, segment, first-{_ENTITY_PREFIX}-chars of name), score
    in-block pairs by Levenshtein, keep dist <= {_ENTITY_DIST}."""
    c = customer.select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment",
        F.substring("c_name", 1, _ENTITY_PREFIX).alias("name_block"),
    )
    a = c.select(
        F.col("c_custkey").alias("cust1"), F.col("c_name").alias("name1"),
        "c_nationkey", "c_mktsegment", "name_block",
    )
    b = c.select(
        F.col("c_custkey").alias("cust2"), F.col("c_name").alias("name2"),
        "c_nationkey", "c_mktsegment", "name_block",
    )
    dist = F.levenshtein("name1", "name2")
    return (
        a.join(b, ["c_nationkey", "c_mktsegment", "name_block"])
        .filter(F.col("cust1") < F.col("cust2"))
        .filter(dist <= _ENTITY_DIST)
        .select("cust1", "cust2", "name1", "name2", dist.alias("dist"))
    )


# ---------------------------------------------------------------------------
# q_dup_triangles — triangle census of the MinHash-LSH candidate graph:
# per-document triangle membership counts, the standard cohesion signal
# separating tight duplicate cliques from chainy false-positive paths.
# Compact-forward enumeration (a<b<c ordered joins) counts each triangle
# exactly once and never materializes a node's full neighborhood.
#
# The graph is the PRECISION-FILTERED candidate set: pairs sharing >= 2
# of the 8 minhash seeds. The 1-row-band any-seed graph has a QUADRATIC
# background term — two unrelated docs collide on some seed with a
# corpus-independent probability (1-(1-J)^8 over the background-Jaccard
# distribution), so its edge count grows ~n²: measured on the 10x
# key-remapped rehearsal corpus, 5k docs -> 82,655 edges but 50k docs ->
# 2,554,962 edges (31x for 10x data; hub degree 79 -> 407), and wedge
# work on the dense graph pushed the census to ~160 s cold. Requiring a
# SECOND independent seed agreement drops the background rate to the J²
# class (same precision move as q_minhash_banded_pairs' r=2 bands)
# while keeping duplicate-family structure: 2,502 edges / 2,296
# triangles at sf0.1 -> 150,805 edges at 10x (~60x from a deliberately
# dup-dense corpus, but 4 orders of magnitude below the any-seed graph's
# wedge volume; census cost is now candidate-generation-bound). Graph
# analytics over recall-max any-seed candidates is a scale-killer at
# 100 TB; the any-seed set remains available upstream via
# q_minhash_lsh_pairs where every pair is individually cheap to consume.
# ---------------------------------------------------------------------------

#: graph-analytic queries (triangles, PageRank) read the candidate graph
#: restricted to pairs sharing >= this many of the 8 minhash seeds
_GRAPH_MIN_SHARED = 2

_TRIANGLE_ORACLE = f"""
WITH sig AS ({_MINHASH_ORACLE}),
e AS (
    SELECT a.doc_id AS u, b.doc_id AS v
    FROM sig a
    JOIN sig b ON a.seed = b.seed AND a.minhash = b.minhash AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(DISTINCT a.seed) >= {_GRAPH_MIN_SHARED}
),
tri AS (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM e e1
    JOIN e e2 ON e2.u = e1.v
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
members AS (
    SELECT a AS doc_id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
)
SELECT doc_id, count(*) AS n_triangles
FROM members
GROUP BY doc_id
"""


@register("q_dup_triangles", oracle=_TRIANGLE_ORACLE, tags=("phase3", "dedup", "graph"))
def q_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc triangle counts in the precision-filtered LSH graph
    (pairs sharing >= _GRAPH_MIN_SHARED seeds — see the block comment
    above for the measured quadratic-background rationale).

    Compact-forward with DEGREE-ordered orientation: every edge points
    from its lower-(degree, id) endpoint to the higher one, so each
    triangle is enumerated exactly once from its lowest-ordered vertex
    and — the scale property — the maximum out-degree is O(sqrt(m)),
    bounding total wedge work at O(m^1.5) regardless of how hub-heavy
    the graph gets (orienting by raw doc_id leaves band-collision hubs
    with their full degree as out-degree). The two defenses are
    complementary: the >= 2-seed filter keeps m near-linear in the
    corpus, the degree orientation bounds wedge work in m.
    """
    d = load_table(spark, sf_dir, "documents")
    sig = tracked_persist(DD.minhash_signatures(DD.word_shingles(d)))
    # shared_seed_pairs == lsh_candidate_pairs filtered to
    # n_shared_bands >= 2 (the oracle's HAVING), but enumerated via
    # C(8,2) seed-combination buckets so the quadratic any-seed
    # intermediate never materializes (operators/dedup.py docstring).
    e = tracked_persist(
        DD.shared_seed_pairs(sig, min_shared=_GRAPH_MIN_SHARED)
        .select(F.col("doc1").alias("u"), F.col("doc2").alias("v"))
    )  # degree agg + three census legs read one materialization
    return _triangle_census(e)


def _triangle_census(e: DataFrame) -> DataFrame:
    """(doc_id, n_triangles) for an undirected simple edge set (u, v),
    u < v, via degree-ordered compact-forward wedges (see
    q_dup_triangles' docstring; unit-pinned against the id-oriented
    brute force on hub-heavy graphs in tests/test_properties.py)."""
    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
    )
    # no broadcast hint: the degree table is vertex-cardinality (corpus-
    # scale at 100 TB); AQE picks broadcast when it actually fits
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    ed = e.join(du, "u").join(dv, "v")
    # orient low (deg, id) -> high (deg, id); ids are unique so the
    # order is total and the orientation acyclic
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = tracked_persist(
        ed.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("du")).otherwise(F.col("dv")).alias("sd"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dd"),
        )
    )
    ab = o.select(
        F.col("src").alias("a"), F.col("dst").alias("b"),
        F.col("dd").alias("bd"),
    )
    ac = o.select(
        F.col("src").alias("a"), F.col("dst").alias("c"),
        F.col("dd").alias("cd"),
    )
    # wedge at the lowest-ordered vertex a: out-neighbors b < c by (deg, id)
    w = ab.join(ac, "a").filter(
        (F.col("bd") < F.col("cd"))
        | ((F.col("bd") == F.col("cd")) & (F.col("b") < F.col("c")))
    )
    close = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = w.join(close, ["b", "c"])
    # one explode, not a 3-way unionAll of tri projections: Spark does
    # not dedupe the common subplan across union branches, so the union
    # form executed the wedge+close joins THREE times (measured 3x the
    # census wall at sf0.1 — round-10 fix, values identical)
    members = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("doc_id")
    )
    return members.groupBy("doc_id").agg(F.count("*").alias("n_triangles"))


# ---------------------------------------------------------------------------
# q_simhash_eval — precision/recall of the SimHash banded candidates
# against exact shingle-Jaccard ground truth (threshold 0.5): the
# acceptance test every approximate dedup method needs before replacing
# the exact path at scale, same eval pattern as q_ivf_recall and
# q_minhash_estimate. Counts and ratios only — no FP drift possible.
# ---------------------------------------------------------------------------

_SIMHASH_EVAL_TAU = 0.5

_SIMHASH_EVAL_ORACLE = f"""
WITH sh AS ({_SHINGLE_CTE}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
allp AS (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
truth AS (
    SELECT doc1, doc2 FROM allp p
    JOIN sizes s1 ON s1.doc_id = p.doc1
    JOIN sizes s2 ON s2.doc_id = p.doc2
    WHERE CAST(n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - n_common) >= {_SIMHASH_EVAL_TAU}
),
cand AS (SELECT doc1, doc2 FROM ({_SIMHASH_PAIRS_ORACLE})),
hit AS (SELECT * FROM cand INTERSECT SELECT * FROM truth)
SELECT (SELECT count(*) FROM cand) AS n_cand,
       (SELECT count(*) FROM truth) AS n_truth,
       (SELECT count(*) FROM hit) AS n_hit,
       CAST((SELECT count(*) FROM hit) AS DOUBLE)
           / nullif((SELECT count(*) FROM cand), 0) AS precision,
       CAST((SELECT count(*) FROM hit) AS DOUBLE)
           / nullif((SELECT count(*) FROM truth), 0) AS recall
"""


@register("q_simhash_eval", oracle=_SIMHASH_EVAL_ORACLE, tags=("phase3", "dedup", "eval"))
def q_simhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of SimHash candidates vs Jaccard>=0.5 truth.

    Re-planned for scale (VERDICT r8 #2 — this was the slowest sf1
    query at 30 s), value-identical to the unchanged brute-force oracle:

    - CANDIDATE side: n_cand is a COUNT, so the 41M-at-sf1 banded pair
      set is never materialized. The 16-bit hash space caps the
      (simhash -> doc count) table at 65,536 rows no matter the corpus;
      band collisions are counted combinatorially over that table by
      inclusion-exclusion: with s_b = distinct-hash pairs sharing band
      b (hamming<=3, c1*c2 each) and same = identical-hash pairs
      (C(c,2) each, members of BOTH band counts),
      n_cand = (s0 + same) + (s1 + same) - same = s0 + s1 + same.
    - n_hit only needs candidacy tested ON the truth pairs (small):
      attach each side's simhash, test band-share + hamming<=3 — the
      exact membership predicate of the cand set.

    The truth side stays the DF-capped shingle inverted-index join
    (shingle_pair_stats): on these corpora no shingle approaches the
    cap (max df 136 at sf1 vs cap 1000), so its pair volume is bounded
    and it measurably beats the prefix-filtered path (4.1 s vs 17 s at
    sf1) — setsim_pairs is the exact uncapped alternative, exercised by
    q_setsim_join.
    """
    d = load_table(spark, sf_dir, "documents")
    sh = tracked_persist(DD.word_shingles(d), StorageLevel.DISK_ONLY)
    jac_truth = F.col("n_common").cast("double") / (
        F.col("n_sh1") + F.col("n_sh2") - F.col("n_common")
    )
    truth = tracked_persist(
        DD.shingle_pair_stats(sh)
        .filter(jac_truth >= _SIMHASH_EVAL_TAU)
        .select("doc1", "doc2"),
        StorageLevel.MEMORY_AND_DISK,
    )
    sh_doc = tracked_persist(
        q_simhash(spark, sf_dir), StorageLevel.MEMORY_AND_DISK
    )
    hi = F.floor(F.col("simhash") / 256.0).cast("bigint")
    lo = F.col("simhash") % 256
    hc = sh_doc.groupBy("simhash").agg(F.count("*").alias("c")).select(
        "simhash", "c", hi.alias("hi"), lo.alias("lo")
    )
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))

    def _cross_band(col: str) -> DataFrame:
        """1-row sum of c1*c2 over DISTINCT-hash pairs sharing band
        ``col`` with hamming <= 3 (same-hash pairs counted in _same)."""
        a, b = hc.alias("a"), hc.alias("b")
        return (
            a.join(
                b,
                (F.col(f"a.{col}") == F.col(f"b.{col}"))
                & (F.col("a.simhash") < F.col("b.simhash")),
            )
            .filter(ham <= 3)
            .agg(F.coalesce(F.sum(F.col("a.c") * F.col("b.c")), F.lit(0)))
        )

    s0 = _cross_band("hi").toDF("s0")
    s1 = _cross_band("lo").toDF("s1")
    same = hc.agg(
        F.coalesce(F.sum(F.expr("c * (c - 1) DIV 2")), F.lit(0)).alias("same")
    )
    h1 = sh_doc.select(F.col("doc_id").alias("doc1"), F.col("simhash").alias("h1"))
    h2 = sh_doc.select(F.col("doc_id").alias("doc2"), F.col("simhash").alias("h2"))
    is_cand = (
        (F.floor(F.col("h1") / 256.0) == F.floor(F.col("h2") / 256.0))
        | (F.col("h1") % 256 == F.col("h2") % 256)
    ) & (F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))) <= 3)
    hit = truth.join(h1, "doc1").join(h2, "doc2").filter(is_cand)
    # 1-row aggregates cross-joined: stays one distributed plan,
    # no driver-side counts
    nc = (
        s0.crossJoin(s1)
        .crossJoin(same)
        .select((F.col("s0") + F.col("s1") + F.col("same")).alias("n_cand"))
    )
    nt = truth.agg(F.count("*").alias("n_truth"))
    nh = hit.agg(F.count("*").alias("n_hit"))
    return (
        nc.crossJoin(nt)
        .crossJoin(nh)
        .select(
            "n_cand",
            "n_truth",
            "n_hit",
            F.when(
                F.col("n_cand") > 0, F.col("n_hit").cast("double") / F.col("n_cand")
            ).alias("precision"),
            F.when(
                F.col("n_truth") > 0, F.col("n_hit").cast("double") / F.col("n_truth")
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# q_setsim_join — exact set-similarity self-join (every pair with
# shingle-Jaccard >= tau) via PREFIX FILTERING (SSJoin/All-Pairs): the
# scale path for exact near-dup joins. The global token order is
# (document frequency ASC, token ASC), so ubiquitous shingles fall out
# of every prefix and no posting list in the candidate join grows with
# corpus size; each candidate is verified exactly (JVM array_intersect).
# The oracle is the brute-force inverted-index join — completeness of
# the prefix envelope is exactly what the hash check proves.
# ---------------------------------------------------------------------------

_SETSIM_TAU = 0.5

_SETSIM_ORACLE = f"""
WITH sh AS ({_SHINGLE_CTE}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
allp AS (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT p.doc1, p.doc2, p.n_common, s1.n_sh AS n_sh1, s2.n_sh AS n_sh2,
       CAST(p.n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - p.n_common) AS jaccard
FROM allp p
JOIN sizes s1 ON s1.doc_id = p.doc1
JOIN sizes s2 ON s2.doc_id = p.doc2
WHERE CAST(p.n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - p.n_common)
      >= {_SETSIM_TAU}
"""


@register("q_setsim_join", oracle=_SETSIM_ORACLE, tags=("phase3", "dedup"))
def q_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard>=tau pairs via the prefix-filtered set-sim join."""
    d = load_table(spark, sf_dir, "documents")
    sh = tracked_persist(DD.word_shingles(d), StorageLevel.DISK_ONLY)
    pairs = DD.setsim_pairs(sh, _SETSIM_TAU)
    jac = F.col("n_common").cast("double") / (
        F.col("n_sh1") + F.col("n_sh2") - F.col("n_common")
    )
    return pairs.select(
        "doc1", "doc2", "n_common", "n_sh1", "n_sh2", jac.alias("jaccard")
    )


# ---------------------------------------------------------------------------
# q_pagerank_dupgraph — PageRank centrality over the MinHash-LSH
# candidate graph (Page et al. 1999), the canonical-document selector: in
# a duplicate cluster, the member with the highest centrality is the one
# most connected to other near-dups, a better keeper than min(doc_id)
# when clusters are chainy. Three synchronous iterations, damping 17/20.
#
# Exactness: PR mass is integer micro-units (SCALE = 1e12) and every
# step is bigint floor-division (`DIV` in Spark, `//` in DuckDB — both
# truncate, and all operands are non-negative), so the result is
# bit-exact across engines with NO float summation anywhere. Total mass
# is conserved (<= SCALE), so 17*s never approaches bigint range at any
# corpus size.
#
# Scale: per iteration = one broadcast-join of contributions onto the
# edge list + one shuffle-agg on the destination key, O(edges); the
# candidate graph is band-bounded, not corpus²; 3 fixed iterations means
# a statically-unrollable plan — no driver-side convergence loop.
# ---------------------------------------------------------------------------

_PR_SCALE = 10**12
_PR_ITERS = 3

_PR_ORACLE = f"""
WITH sig AS ({_MINHASH_ORACLE}),
cand AS (
    SELECT a.doc_id AS u, b.doc_id AS v
    FROM sig a
    JOIN sig b ON a.seed = b.seed AND a.minhash = b.minhash AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(DISTINCT a.seed) >= {_GRAPH_MIN_SHARED}
),
edges AS (SELECT u, v FROM cand UNION SELECT v, u FROM cand),
deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
nn AS (SELECT count(*) AS n FROM deg),
pr0 AS (SELECT u, {_PR_SCALE} // n AS pr FROM deg, nn),
it1 AS (
    SELECT e.v AS u, (({_PR_SCALE} * 3) // 20) // nn.n + (17 * sum(p.pr // d.d)) // 20 AS pr
    FROM edges e JOIN pr0 p ON e.u = p.u JOIN deg d ON e.u = d.u, nn
    GROUP BY e.v, nn.n
),
it2 AS (
    SELECT e.v AS u, (({_PR_SCALE} * 3) // 20) // nn.n + (17 * sum(p.pr // d.d)) // 20 AS pr
    FROM edges e JOIN it1 p ON e.u = p.u JOIN deg d ON e.u = d.u, nn
    GROUP BY e.v, nn.n
),
it3 AS (
    SELECT e.v AS u, (({_PR_SCALE} * 3) // 20) // nn.n + (17 * sum(p.pr // d.d)) // 20 AS pr
    FROM edges e JOIN it2 p ON e.u = p.u JOIN deg d ON e.u = d.u, nn
    GROUP BY e.v, nn.n
)
SELECT i.u AS doc_id, d.d AS degree, CAST(i.pr AS BIGINT) AS pr_micro
FROM it3 i JOIN deg d ON i.u = d.u
"""


@register("q_pagerank_dupgraph", oracle=_PR_ORACLE, tags=("phase3", "dedup", "graph"))
def q_pagerank_dupgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact 3-iteration PageRank over the precision-filtered
    LSH graph (>= _GRAPH_MIN_SHARED shared seeds; the any-seed graph's
    edge count is quadratic in the corpus — see q_dup_triangles' block
    comment — and every PageRank iteration shuffles all of it)."""
    d = load_table(spark, sf_dir, "documents")
    sig = tracked_persist(DD.minhash_signatures(DD.word_shingles(d)))
    # combo-bucket enumeration of the >= 2-seed pair set — same rows as
    # the oracle's HAVING count(DISTINCT seed) >= 2, without ever
    # materializing the any-seed candidate volume (operators/dedup.py).
    cand = DD.shared_seed_pairs(sig, min_shared=_GRAPH_MIN_SHARED).select(
        F.col("doc1").alias("u"), F.col("doc2").alias("v")
    )
    # lazy persist, not an eager checkpoint: the unrolled plan replicates
    # the LSH-candidate lineage textually, but at runtime every replica
    # hits the cached edge blocks (measured: same wall time as a
    # checkpoint, without running jobs at plan-construction time).
    # Symmetrize via ONE explode, not cand.union(cand.select(v, u)):
    # only `edges` is persisted, so the union form recomputed the whole
    # combo-bucket candidate subtree twice when these blocks first
    # materialize. And no distinct: shared_seed_pairs is already
    # distinct with u < v, so the mirrored rows cannot collide (r10).
    edges = tracked_persist(
        cand.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("e")
        ).select("e.u", "e.v")
    )
    # deg feeds every iteration's contribution join plus the final select —
    # persist the one-shuffle aggregate instead of re-shuffling edges 5x
    deg = tracked_persist(edges.groupBy("u").agg(F.count("*").alias("d")))
    nn = deg.agg(F.count("*").alias("n"))
    base = F.expr(f"(({_PR_SCALE} * 3) DIV 20) DIV n")
    pr = (
        deg.crossJoin(F.broadcast(nn))
        .select("u", F.expr(f"{_PR_SCALE} DIV n").alias("pr"))
    )
    for _ in range(_PR_ITERS):
        contrib = pr.join(deg, "u").select("u", F.expr("pr DIV d").alias("c"))
        s = (
            edges.join(contrib, "u")
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        pr = (
            s.crossJoin(F.broadcast(nn))
            .select(
                F.col("v").alias("u"),
                (base + F.expr("(17 * s) DIV 20")).alias("pr"),
            )
        )
    return pr.join(deg, "u").select(
        F.col("u").alias("doc_id"), F.col("d").alias("degree"),
        F.col("pr").alias("pr_micro"),
    )


# ---------------------------------------------------------------------------
# q_keep_best — canonical selection by QUALITY over the dedup clusters:
# the last step of a curation pipeline. Every document joins its
# LSH-connected component (singletons form their own cluster), and the
# kept member is the one with the highest lexical-diversity score
# (distinct-word ratio; tie -> smaller doc_id) — "keep the best copy",
# not "keep the first copy" (q_dedup_clusters) nor "keep the most
# central" (q_pagerank_dupgraph). Scale: component labels come from the
# same pointer-doubling CC; the keeper choice is one window over the
# cluster key. The ratio is a single per-row division — deterministic
# across engines — and ordering ties break on doc_id.
# ---------------------------------------------------------------------------

_KEEP_BEST_ORACLE = f"""
WITH RECURSIVE sig AS ({_MINHASH_ORACLE}),
bands AS (
    SELECT doc_id, seed // 2 AS band,
           string_agg(CAST(minhash AS VARCHAR), ':' ORDER BY seed) AS band_key
    FROM sig GROUP BY doc_id, seed // 2
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
),
edges AS (
    SELECT doc1 AS src, doc2 AS dst FROM pairs
    UNION
    SELECT doc2 AS src, doc1 AS dst FROM pairs
),
reach(a, b) AS (
    SELECT src, src FROM edges
    UNION
    SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
comp AS (
    SELECT a AS doc_id, min(b) AS canonical_id FROM reach GROUP BY a
),
q AS (
    SELECT doc_id,
           CAST(len(list_distinct({TX.words_sql('text')})) AS DOUBLE)
             / greatest(len({TX.words_sql('text')}), 1) AS uniq_ratio
    FROM documents
),
labeled AS (
    SELECT q.doc_id, coalesce(c.canonical_id, q.doc_id) AS cluster_id, q.uniq_ratio
    FROM q LEFT JOIN comp c ON q.doc_id = c.doc_id
)
SELECT doc_id, cluster_id, uniq_ratio,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members,
       row_number() OVER (PARTITION BY cluster_id
                          ORDER BY uniq_ratio DESC, doc_id) = 1 AS keep
FROM labeled
"""


@register("q_keep_best", oracle=_KEEP_BEST_ORACLE, tags=("phase3", "dedup", "curation"))
def q_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the highest-quality member of every near-dup cluster."""
    from ..operators.components import dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    sig = tracked_persist(DD.minhash_signatures(DD.word_shingles(d)))
    pairs = DD.banded_candidate_pairs(sig).select("doc1", "doc2")
    comp = dedup_clusters(pairs).select("doc_id", "canonical_id")
    ws = TX.words(F.col("text"))
    q = d.select(
        "doc_id",
        (
            F.size(F.array_distinct(ws)).cast("double")
            / F.greatest(F.size(ws), F.lit(1))
        ).alias("uniq_ratio"),
    )
    labeled = q.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("canonical_id", "doc_id").alias("cluster_id"),
        "uniq_ratio",
    )
    wc = W.partitionBy("cluster_id")
    wr = W.partitionBy("cluster_id").orderBy(F.desc("uniq_ratio"), F.asc("doc_id"))
    return labeled.select(
        "doc_id", "cluster_id", "uniq_ratio",
        F.count("*").over(wc).cast("bigint").alias("n_members"),
        (F.row_number().over(wr) == 1).alias("keep"),
    )


# ---------------------------------------------------------------------------
# q_hard_negatives — contrastive-training triple mining: for every
# anchor document that has a near-dup (an LSH-banded candidate — the
# POSITIVE for embedding-model training), find the HARD NEGATIVE: the
# most lexically-overlapping document that the banded LSH did NOT flag.
# Pairs that share many shingles yet fall below the candidate threshold
# are exactly the confusable non-duplicates a contrastive objective
# needs — random negatives are trivially separable (Robinson et al.
# 2021, "Contrastive Learning with Hard Negative Samples", public).
#
# Scale: positives come from the J^2-background banded candidate set;
# the negative pool is the DF-capped co-shingle pair set anti-joined
# against the candidates (both corpus-linear under the cap); the
# per-anchor argmax is a min(struct(-n_common, partner)) hash-agg —
# map-side combined, no window sorts anywhere. Ties: smaller partner id.
#
# A/B (sf1, quiet loadavg<2, min-of-2) — why the pair join stays the
# SYMMETRIC self-join rather than an anchor-restricted directed join:
# only docs in the candidate set can emit a row, so restricting the
# probe side to them (co_shingle_pairs(sh, left=sh ⋉ anchors)) looks
# like a free cut — but at sf1 the dup-family set is 26,415 of 50,000
# docs (53%), and the directed join must keep BOTH orientations for
# anchor pairs, so it builds 42.9M grouped pairs vs the unordered
# self-join's 34.7M: measured 14.8 s vs 13.9 s END-TO-END — the
# "optimization" loses whenever anchors exceed ~half the corpus, which
# near-dup-heavy training corpora do. Decomposition of the 13.9 s:
# shingle materialization 6.2 s + banded candidates 5.7 s (both shared
# infra — the same round's word_shingles array_distinct change later
# cut the set build to ~1.5 s, see its docstring; post-change wall
# 13.2 s min-of-2) + pair join 4.1 s + anti-join/argmax/pos-join ~1 s.
# A second A/B:
# dropping the outer DISK_ONLY persist of the CAPPED shingle set (the
# raw set is persisted inside word_shingles) re-runs the cheap
# broadcast cap anti-join per consumer but re-reads the raw set three
# times: 16.3 s vs 13.6 s — the persist stays. The pair join is the
# irreducible ~30% of a wall dominated by shared build cost.
# ---------------------------------------------------------------------------

_HARDNEG_ORACLE = f"""
WITH sh AS ({_SHINGLE_CTE}),
cand AS (SELECT doc1, doc2 FROM ({_BANDED_ORACLE})),
pairs AS (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
negp AS (
    SELECT p.doc1, p.doc2, p.n_common FROM pairs p
    WHERE NOT EXISTS (SELECT 1 FROM cand c
                      WHERE c.doc1 = p.doc1 AND c.doc2 = p.doc2)
),
possym AS (
    SELECT doc1 AS anchor, doc2 AS partner FROM cand
    UNION ALL SELECT doc2, doc1 FROM cand
),
pos AS (SELECT anchor, min(partner) AS positive FROM possym GROUP BY anchor),
negsym AS (
    SELECT doc1 AS anchor, doc2 AS partner, n_common FROM negp
    UNION ALL SELECT doc2, doc1, n_common FROM negp
),
hard AS (
    SELECT anchor, partner AS hard_negative, n_common AS neg_common
    FROM (SELECT anchor, partner, n_common,
                 row_number() OVER (PARTITION BY anchor
                                    ORDER BY n_common DESC, partner) AS rn
          FROM negsym) WHERE rn = 1
)
SELECT p.anchor, p.positive,
       h.hard_negative,
       CAST(h.neg_common AS BIGINT) AS neg_common
FROM pos p LEFT JOIN hard h ON p.anchor = h.anchor
"""


@register(
    "q_hard_negatives", oracle=_HARDNEG_ORACLE, tags=("phase3", "dedup", "curation")
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, hard_negative, neg_common) contrastive triples
    — see the block comment for semantics, the scale argument, and the
    two committed losing A/Bs (anchor-restricted directed pair join;
    dropping the capped-shingle persist)."""
    from pyspark.storagelevel import StorageLevel

    d = load_table(spark, sf_dir, "documents")
    # the shingle set feeds the signature path AND the co-shingle pair
    # stats — one corpus-scale materialization (house DISK_ONLY policy)
    sh = tracked_persist(DD.word_shingles(d), StorageLevel.DISK_ONLY)
    # two consumers: the anti-join probe and the positive-partner agg
    cand = tracked_persist(
        DD.banded_candidate_pairs(DD.minhash_signatures(sh)).select("doc1", "doc2")
    )
    # the ONE pairs implementation (operators/dedup.co_shingle_pairs)
    negp = DD.co_shingle_pairs(sh).join(cand, ["doc1", "doc2"], "left_anti")

    def _sym(df: DataFrame, *extra: str) -> DataFrame:
        from ..operators.components import symmetrize_edges

        return symmetrize_edges(df, "doc1", "doc2", "anchor", "partner", *extra)

    pos = _sym(cand).groupBy("anchor").agg(F.min("partner").alias("positive"))
    # argmax by (n_common DESC, partner ASC) as a lexicographic struct
    # min — map-side combined, identical to the oracle's row_number
    hard = (
        _sym(negp, "n_common")
        .groupBy("anchor")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n_common")).alias("negn"),
                    F.col("partner").alias("p"),
                )
            ).alias("t")
        )
        .select(
            "anchor",
            F.col("t.p").alias("hard_negative"),
            (-F.col("t.negn")).cast("bigint").alias("neg_common"),
        )
    )
    return pos.join(hard, "anchor", "left").select(
        "anchor", "positive", "hard_negative", "neg_common"
    )


# ---------------------------------------------------------------------------
# q_incremental_dedup — dedup an arriving BATCH against the standing
# corpus (the production ingest shape: nobody re-pairs 100 TB for a 1 TB
# delta). Batch = doc_id % 10 == 7, corpus = the rest. Per batch doc:
# exact-dup flag (md5 membership in the corpus), LSH candidate census
# (corpus docs sharing >=1 of the 8 minhash bands), and a near-dup flag
# (some candidate shares >= 4/8 bands, i.e. estimated Jaccard >= 0.5).
# Scale: the band join is batch-sigs x corpus-sigs keyed by
# (seed, minhash) — the corpus NEVER self-joins — and the exact check
# is one keyed semi-join on the content hash; both sides scan once.
# The reference re-ingests whole folders (src/etl_processor.py) and
# skips by previous-metadata equality; this is that N1/N3 semantic
# upgraded to content + near-dup awareness.
# ---------------------------------------------------------------------------

_INC_TAU_BANDS = 4  # >= 4 of 8 shared minhash seeds ~ est. Jaccard >= 0.5

_INC_BATCH_SQL = "(SELECT * FROM documents WHERE doc_id % 10 = 7)"
_INC_CORPUS_SQL = "(SELECT * FROM documents WHERE doc_id % 10 <> 7)"

_INC_ORACLE = f"""
WITH bh AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 7),
ch AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 7),
bsig AS ({DD.minhash_signatures_sql(DD.word_shingles_sql(_INC_BATCH_SQL))}),
csig AS ({DD.minhash_signatures_sql(DD.word_shingles_sql(_INC_CORPUS_SQL))}),
cand AS (
    SELECT b.doc_id, c.doc_id AS c_doc, count(DISTINCT b.seed) AS n_shared
    FROM bsig b JOIN csig c ON b.seed = c.seed AND b.minhash = c.minhash
    GROUP BY b.doc_id, c.doc_id
),
census AS (
    SELECT doc_id,
           count(*) AS n_candidates,
           max(n_shared) AS best_shared
    FROM cand GROUP BY doc_id
)
SELECT bh.doc_id,
       CAST(ch.h IS NOT NULL AS INT) AS is_exact_dup,
       CAST(coalesce(census.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(census.best_shared, 0) AS BIGINT) AS best_shared,
       CAST(coalesce(census.best_shared, 0) >= {_INC_TAU_BANDS} AS INT) AS is_near_dup
FROM bh
LEFT JOIN ch ON bh.h = ch.h
LEFT JOIN census ON bh.doc_id = census.doc_id
"""


@register(
    "q_incremental_dedup", oracle=_INC_ORACLE, tags=("phase3", "dedup", "incremental")
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus dedup: exact hash + MinHash-LSH, no corpus self-join."""
    d = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 10 == 7
    batch = d.filter(is_batch)
    corpus = d.filter(~is_batch)
    bh = batch.select("doc_id", F.md5("text").alias("h"))
    ch = corpus.select(F.md5("text").alias("h")).distinct()
    exact = bh.join(
        ch.withColumn("__hit", F.lit(1)), "h", "left"
    ).select("doc_id", F.coalesce("__hit", F.lit(0)).alias("is_exact_dup"))
    bsig = DD.minhash_signatures(DD.word_shingles(batch))
    csig = DD.minhash_signatures(DD.word_shingles(corpus))
    cand = (
        bsig.join(
            csig.select(
                F.col("doc_id").alias("c_doc"), "seed", "minhash"
            ),
            ["seed", "minhash"],
        )
        .groupBy("doc_id", "c_doc")
        .agg(F.count_distinct("seed").alias("n_shared"))
    )
    census = cand.groupBy("doc_id").agg(
        F.count("*").alias("n_candidates"),
        F.max("n_shared").alias("best_shared"),
    )
    return (
        exact.join(census, "doc_id", "left")
        .select(
            "doc_id",
            F.col("is_exact_dup").cast("int").alias("is_exact_dup"),
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias("n_candidates"),
            F.coalesce("best_shared", F.lit(0)).cast("bigint").alias("best_shared"),
            (F.coalesce("best_shared", F.lit(0)) >= _INC_TAU_BANDS)
            .cast("int")
            .alias("is_near_dup"),
        )
    )


# ---------------------------------------------------------------------------
# q_shingle_containment — directed near-dup detection by shingle
# CONTAINMENT (|A∩B| / |A|), the asymmetric complement of Jaccard: a
# short document wholly embedded in a long one scores ~1.0 here while
# its Jaccard stays low (the union is dominated by the long doc), so
# symmetric dedup misses it. Standard in corpus curation for catching
# quote-expansion and boilerplate-wrapping duplicates. Same
# inverted-index pair generation as q_ngram_jaccard (DF-capped, never
# O(n²)); one a<b join emits both directions' containments per row.
# ---------------------------------------------------------------------------

_CONTAIN_ORACLE = f"""
WITH sh AS ({_SHINGLE_CTE}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc1, p.doc2, p.n_common,
       CAST(p.n_common AS DOUBLE) / s1.n_sh AS cont_1_in_2,
       CAST(p.n_common AS DOUBLE) / s2.n_sh AS cont_2_in_1
FROM pairs p
JOIN sizes s1 ON s1.doc_id = p.doc1
JOIN sizes s2 ON s2.doc_id = p.doc2
ORDER BY greatest(CAST(p.n_common AS DOUBLE) / s1.n_sh,
                  CAST(p.n_common AS DOUBLE) / s2.n_sh) DESC, p.doc1, p.doc2
LIMIT 50
"""


@register("q_shingle_containment", oracle=_CONTAIN_ORACLE, tags=("phase3", "dedup"))
def q_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 directed-containment pairs via the shingle inverted index."""
    d = load_table(spark, sf_dir, "documents")
    sh = tracked_persist(DD.word_shingles(d), StorageLevel.DISK_ONLY)
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
    c12 = F.col("n_common").cast("double") / F.col("n_sh1")
    c21 = F.col("n_common").cast("double") / F.col("n_sh2")
    return (
        # no broadcast hint: sizes is one row per document — unbounded at
        # corpus scale; let the planner pick (auto-broadcast below the
        # threshold, shuffle join above it), as q_ngram_jaccard does
        pairs.join(s1, "doc1")
        .join(s2, "doc2")
        .select(
            "doc1", "doc2", "n_common",
            c12.alias("cont_1_in_2"), c21.alias("cont_2_in_1"),
        )
        .orderBy(
            F.greatest(F.col("cont_1_in_2"), F.col("cont_2_in_1")).desc(),
            "doc1", "doc2",
        )
        .limit(50)
    )


# ---------------------------------------------------------------------------
# q_lsh_tuning_curve — the banding S-curve read before freezing an LSH
# config at scale: for every band-agreement threshold t in 1..8, how
# many candidate pairs survive "n_agree >= t", how many of those are
# TRUE near-dups (exact shingle Jaccard >= 0.5), and the resulting
# precision / recall. Truth is candidate-restricted (exact Jaccard is
# only ever computed on the banded candidate set — the verify-after-LSH
# pattern; corpus-wide truth would be O(n²)), so recall here means
# "recall among band>=1 candidates", which is exactly the quantity the
# threshold choice trades against precision. One signature pass + one
# candidate-confined exact pass feed all 8 thresholds.
# ---------------------------------------------------------------------------

_TUNE_TAU = 0.5

_TUNE_ORACLE = f"""
WITH sh AS ({_SHINGLE_CTE}),
sig AS ({DD.minhash_signatures_sql("sh_named")}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
cand AS (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_agree
    FROM sig a JOIN sig b ON a.seed = b.seed AND a.doc_id < b.doc_id
                          AND a.minhash = b.minhash
    GROUP BY a.doc_id, b.doc_id
),
exact AS (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
scored AS (
    SELECT c.doc1, c.doc2, c.n_agree,
           CAST(CAST(e.n_common AS DOUBLE)
                / (s1.n_sh + s2.n_sh - e.n_common) >= {_TUNE_TAU} AS INT) AS is_true
    FROM cand c
    JOIN exact e ON e.doc1 = c.doc1 AND e.doc2 = c.doc2
    JOIN sizes s1 ON s1.doc_id = c.doc1
    JOIN sizes s2 ON s2.doc_id = c.doc2
),
tot AS (SELECT sum(is_true) AS n_true_total FROM scored)
SELECT CAST(t AS BIGINT) AS band_threshold,
       count(*) AS n_candidates,
       CAST(sum(is_true) AS BIGINT) AS n_true,
       CAST(sum(is_true) AS DOUBLE) / count(*) AS precision,
       CAST(sum(is_true) AS DOUBLE) / greatest(tot.n_true_total, 1) AS recall
FROM scored, unnest(generate_series(1, 8)) AS u(t), tot
WHERE n_agree >= t
GROUP BY t, tot.n_true_total
""".replace("(sh_named)", "(SELECT * FROM sh)")


@register("q_lsh_tuning_curve", oracle=_TUNE_ORACLE, tags=("phase3", "dedup", "eval"))
def q_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall per band-agreement threshold (LSH calibration)."""
    d = load_table(spark, sf_dir, "documents")
    sh = tracked_persist(DD.word_shingles(d), StorageLevel.DISK_ONLY)
    # candidate pairs via the SAME operator production banding uses
    # (operators/dedup.py::lsh_candidate_pairs); n_shared_bands ==
    # count of agreeing seeds since signatures hold one row per seed
    cand = DD.lsh_candidate_pairs(DD.minhash_signatures(sh)).withColumnRenamed(
        "n_shared_bands", "n_agree"
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_sh1") + F.col("n_sh2") - F.col("n_common")
    )
    scored = tracked_persist(
        cand.join(DD.shingle_pair_stats(sh), ["doc1", "doc2"])
        .select("n_agree", (jac >= _TUNE_TAU).cast("int").alias("is_true"))
    )  # candidate-pair-sized; feeds the total and all 8 thresholds
    tot = scored.agg(F.sum("is_true").alias("n_true_total"))
    return (
        scored.select(
            "n_agree", "is_true",
            F.explode(F.sequence(F.lit(1), F.lit(8))).alias("band_threshold"),
        )
        .filter(F.col("n_agree") >= F.col("band_threshold"))
        .crossJoin(F.broadcast(tot))
        .groupBy("band_threshold")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum("is_true").cast("bigint").alias("n_true"),
            (F.sum("is_true").cast("double") / F.count("*")).alias("precision"),
            (
                F.sum("is_true").cast("double")
                / F.greatest(F.first("n_true_total"), F.lit(1))
            ).alias("recall"),
        )
        .withColumn("band_threshold", F.col("band_threshold").cast("bigint"))
    )


# ---------------------------------------------------------------------------
# q_dedup_auto — third cost-gated planner rule (after q_knn_auto's
# exact-vs-IVF and q_lsh_adaptive's band width): candidate-generation
# strategy for near-dup pairs chosen from corpus cardinality. Below the
# threshold, the exact shingle inverted index scores every co-shingled
# pair (complete answer); above it, MinHash bands nominate candidates
# and exact Jaccard verifies the survivors only — the shingle index is
# semi-joined down to candidate-adjacent docs before any pairing, so
# the quadratic step never touches the full corpus. The oracle
# reproduces the gate as a scalar-count subquery over the two UNION ALL
# branches, exactly like q_knn_auto's. The threshold (1024) puts the
# driver corpora (500 docs at sf0.001/0.01) on the exact branch and the
# bench corpus (5000 at sf0.1) on the banded branch, so both physical
# paths get exercised every round.
# ---------------------------------------------------------------------------

_DEDUP_AUTO_N = 1024
_DEDUP_AUTO_TAU = 0.5

_DEDUP_AUTO_ORACLE = f"""
WITH sh AS ({_SHINGLE_CTE}),
nn AS (SELECT count(*) AS c FROM documents),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
ap AS (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
scored AS (
    SELECT p.doc1, p.doc2, p.n_common,
           CAST(p.n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - p.n_common) AS jaccard
    FROM ap p
    JOIN sizes s1 ON s1.doc_id = p.doc1
    JOIN sizes s2 ON s2.doc_id = p.doc2
),
sig AS ({_MINHASH_ORACLE}),
banded AS (
    SELECT doc_id, seed // 2 AS band,
           string_agg(CAST(minhash AS VARCHAR), ':' ORDER BY seed) AS band_key
    FROM sig GROUP BY doc_id, seed // 2
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
)
SELECT doc1, doc2, n_common, jaccard, 'exact' AS strategy
FROM scored
WHERE jaccard >= {_DEDUP_AUTO_TAU} AND (SELECT c FROM nn) <= {_DEDUP_AUTO_N}
UNION ALL
SELECT s.doc1, s.doc2, s.n_common, s.jaccard, 'banded' AS strategy
FROM scored s JOIN cand USING (doc1, doc2)
WHERE s.jaccard >= {_DEDUP_AUTO_TAU} AND (SELECT c FROM nn) > {_DEDUP_AUTO_N}
"""


@register(
    "q_dedup_auto",
    oracle=_DEDUP_AUTO_ORACLE,
    tags=("phase3", "dedup", "planner"),
)
def q_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-gated near-dup pairs: exact inverted index or banded-verify."""
    from ..operators.planner import auto_dedup

    d = load_table(spark, sf_dir, "documents")
    return auto_dedup(d, threshold=_DEDUP_AUTO_N, tau=_DEDUP_AUTO_TAU)


# ---------------------------------------------------------------------------
# q_dedup_auto_dense — the BANDED side of auto_dedup's gate under the
# driver's eye (VERDICT r8 #8): the driver corpora (500 docs at
# sf0.001/0.01) sit on the exact branch of q_dedup_auto, so the banded
# subtree was hash-checked only by the local oracle suite. This variant
# runs the SAME auto_dedup on a density-tripled corpus — each document
# plus an identical-text clone (exact dups the bands MUST recall:
# identical shingles => identical signatures => always candidates) and
# a suffix-reworded clone (near-dups below 1.0) — 1,500 docs at sf0.01,
# above the unchanged 1,024 threshold. Together with q_dedup_auto
# (exact at the same SF) both physical branches carry driver hash rows.
#
# The base slice is SF-CAPPED (doc_id < 600): this query's job is gate-
# BRANCH correctness, not scale measurement (the banded machinery's
# scale behavior is benched by the minhash/LSH family at full SF), and
# an uncapped density-tripled corpus at sf1 costs 170 s for no extra
# coverage. Capped: ~2 s at every SF, banded at all of them.
# ---------------------------------------------------------------------------

_DENSE_OFF = 10_000_000
_DENSE_CAP = 600
_DENSE_SUFFIX = " shared trailing rewording tail words"

_DENSE_DOCS_CTE = f"""
    SELECT doc_id, text FROM documents WHERE doc_id < {_DENSE_CAP}
    UNION ALL
    SELECT doc_id + {_DENSE_OFF}, text FROM documents WHERE doc_id < {_DENSE_CAP}
    UNION ALL
    SELECT doc_id + {2 * _DENSE_OFF}, text || '{_DENSE_SUFFIX}'
    FROM documents WHERE doc_id < {_DENSE_CAP}
"""

_DENSE_SHINGLE_CTE = DD.word_shingles_sql(f"({_DENSE_DOCS_CTE})")

_DEDUP_AUTO_DENSE_ORACLE = f"""
WITH sh AS ({_DENSE_SHINGLE_CTE}),
nn AS (SELECT count(*) AS c FROM ({_DENSE_DOCS_CTE})),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
ap AS (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
scored AS (
    SELECT p.doc1, p.doc2, p.n_common,
           CAST(p.n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - p.n_common) AS jaccard
    FROM ap p
    JOIN sizes s1 ON s1.doc_id = p.doc1
    JOIN sizes s2 ON s2.doc_id = p.doc2
),
sig AS ({DD.minhash_signatures_sql(_DENSE_SHINGLE_CTE)}),
banded AS (
    SELECT doc_id, seed // 2 AS band,
           string_agg(CAST(minhash AS VARCHAR), ':' ORDER BY seed) AS band_key
    FROM sig GROUP BY doc_id, seed // 2
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
)
SELECT doc1, doc2, n_common, jaccard, 'exact' AS strategy
FROM scored
WHERE jaccard >= {_DEDUP_AUTO_TAU} AND (SELECT c FROM nn) <= {_DEDUP_AUTO_N}
UNION ALL
SELECT s.doc1, s.doc2, s.n_common, s.jaccard, 'banded' AS strategy
FROM scored s JOIN cand USING (doc1, doc2)
WHERE s.jaccard >= {_DEDUP_AUTO_TAU} AND (SELECT c FROM nn) > {_DEDUP_AUTO_N}
"""


register_cap(
    "q_dedup_auto_dense", "doc_id", _DENSE_CAP, "_DENSE_CAP",
    "gate-BRANCH correctness on a density-tripled corpus: uncapped, the "
    "tripled corpus costs 170 s at sf1 for no extra branch coverage — "
    "the banded machinery's scale behavior is benched by the "
    "minhash/LSH family at full SF",
)


@register(
    "q_dedup_auto_dense",
    oracle=_DEDUP_AUTO_DENSE_ORACLE,
    tags=("phase3", "dedup", "planner"),
)
def q_dedup_auto_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """auto_dedup's banded branch on the density-tripled corpus."""
    from ..operators.planner import auto_dedup

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _DENSE_CAP)
        .select("doc_id", "text")
    )
    dense = d.unionAll(
        d.select((F.col("doc_id") + _DENSE_OFF).alias("doc_id"), "text")
    ).unionAll(
        d.select(
            (F.col("doc_id") + 2 * _DENSE_OFF).alias("doc_id"),
            F.concat(F.col("text"), F.lit(_DENSE_SUFFIX)).alias("text"),
        )
    )
    return auto_dedup(dense, threshold=_DEDUP_AUTO_N, tau=_DEDUP_AUTO_TAU)


# ---------------------------------------------------------------------------
# q_source_overlap — cross-source duplication matrix: for every source
# pair, how many near-dup (banded LSH candidate) pairs span it. The
# curation view behind "which feeds duplicate each other" decisions —
# drop-order, licensing exposure, and per-source dedup budgets all read
# this matrix; within-source rows (source_a = source_b) measure
# internal redundancy. Pairs are normalized to source_a <= source_b so
# the matrix is upper-triangular; share = the pair count's fraction of
# all candidate pairs (1-row scalar joined in, never a window over the
# corpus).
#
# Scale: the candidate set comes from the banded signature buckets
# (J^2-background, never all-pairs); the two source lookups are keyed
# joins against the narrow (doc_id, source) projection; the final agg
# is bounded by the source-domain square, not the corpus.
# ---------------------------------------------------------------------------

_SRC_OVERLAP_ORACLE = f"""
WITH cand AS (SELECT doc1, doc2 FROM ({_BANDED_ORACLE})),
src AS (SELECT doc_id, source FROM documents),
tagged AS (
    SELECT least(s1.source, s2.source) AS source_a,
           greatest(s1.source, s2.source) AS source_b
    FROM cand c
    JOIN src s1 ON c.doc1 = s1.doc_id
    JOIN src s2 ON c.doc2 = s2.doc_id
),
tot AS (SELECT count(*) AS n FROM tagged)
SELECT source_a, source_b,
       CAST(count(*) AS BIGINT) AS n_dup_pairs,
       CAST(source_a = source_b AS INT) AS within_source,
       round(CAST(count(*) AS DOUBLE) / tot.n, 6) AS share
FROM tagged, tot
GROUP BY source_a, source_b, tot.n
"""


@register(
    "q_source_overlap",
    oracle=_SRC_OVERLAP_ORACLE,
    tags=("phase3", "dedup", "curation"),
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source_a, source_b, n_dup_pairs, within_source, share)
    cross-source duplication matrix — see the block comment."""
    d = load_table(spark, sf_dir, "documents")
    cand = DD.banded_candidate_pairs(
        DD.minhash_signatures(DD.word_shingles(d))
    ).select("doc1", "doc2")
    src = d.select("doc_id", "source")
    tagged = (
        cand.join(src.select(F.col("doc_id").alias("doc1"),
                             F.col("source").alias("__s1")), "doc1")
        .join(src.select(F.col("doc_id").alias("doc2"),
                         F.col("source").alias("__s2")), "doc2")
        .select(
            F.least("__s1", "__s2").alias("source_a"),
            F.greatest("__s1", "__s2").alias("source_b"),
        )
    )
    counts = tracked_persist(
        tagged.groupBy("source_a", "source_b").agg(
            F.count("*").cast("bigint").alias("n_dup_pairs")
        )
    )
    tot = counts.agg(F.sum("n_dup_pairs").alias("__n"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "source_a",
        "source_b",
        "n_dup_pairs",
        (F.col("source_a") == F.col("source_b")).cast("int").alias("within_source"),
        F.round(F.col("n_dup_pairs").cast("double") / F.col("__n"), 6).alias("share"),
    )


# ---------------------------------------------------------------------------
# q_kcore_peel — bounded k-core peeling of the near-dup graph (Seidman
# 1983 "Network structure and minimum degree"; Batagelj-Zaversnik is
# the sequential peel this parallelizes round-wise): repeatedly remove
# nodes with fewer than K live neighbors. Survivors form the dense
# redundancy CORE of the corpus (template farms, boilerplate families —
# the stuff doc-pair dedup underestimates because every member has many
# partners); removed_round is each node's peel depth, a redundancy-
# severity score curation can threshold on.
#
# BOUNDED-PEEL CONTRACT: both engines run EXACTLY _KCORE_ROUNDS
# synchronized peel rounds (the Pregel/superstep formulation — each
# round one degree agg + two anti-joins), so the pair is deterministic
# and hash-checkable regardless of whether the graph has converged;
# cascades deeper than _KCORE_ROUNDS (a >R-link chain of hanging
# pendants — not observed on any driver corpus, where round 3 already
# removes nothing) would leave some sub-K nodes unpeeled IDENTICALLY
# on both sides. Scale: per round the degree agg is map-side combined
# and the removal set is the only thing broadcast; live-edge tables
# rotate through cache.CheckpointRotation (each round references the
# previous edge table twice, so a lazy chain doubles Catalyst analysis
# per round).
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    # every e{r} is referenced three times by round r+1 (degree agg +
    # the two NOT INs via r{r+1}); DuckDB INLINES plain CTEs, so an
    # unhinted chain re-expands the banded-candidate subtree 3^R times
    # (measured 82 s at sf0.01) — MATERIALIZED pins each round to one
    # evaluation (0.9 s)
    parts = [f"""
cand AS MATERIALIZED (SELECT doc1, doc2 FROM ({_BANDED_ORACLE})),
e0 AS MATERIALIZED (SELECT doc1 AS src, doc2 AS dst FROM cand
       UNION ALL SELECT doc2, doc1 FROM cand),
n0 AS (SELECT DISTINCT src AS node FROM e0)"""]
    removed_out = []
    for r in range(1, _KCORE_ROUNDS + 1):
        prev = f"e{r - 1}"
        parts.append(f"""
d{r} AS (SELECT src, count(*) AS deg FROM {prev} GROUP BY src),
r{r} AS MATERIALIZED (SELECT src AS node FROM d{r} WHERE deg < {_KCORE_K}),
e{r} AS MATERIALIZED (SELECT src, dst FROM {prev}
         WHERE src NOT IN (SELECT node FROM r{r})
           AND dst NOT IN (SELECT node FROM r{r}))""")
        removed_out.append(
            f"SELECT node, {r} AS rr FROM r{r}"
        )
    return f"""
WITH {",".join(parts)},
removed AS ({" UNION ALL ".join(removed_out)}),
core AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         FROM e{_KCORE_ROUNDS} GROUP BY src),
conv AS (SELECT count(*) = 0 AS converged FROM r{_KCORE_ROUNDS})
SELECT n0.node AS doc_id,
       CAST(removed.rr AS INT) AS removed_round,
       core.deg AS core_deg,
       conv.converged AS converged
FROM n0
LEFT JOIN removed ON n0.node = removed.node
LEFT JOIN core ON n0.node = core.node
CROSS JOIN conv
"""


@register(
    "q_kcore_peel", oracle=_kcore_oracle(), tags=("phase3", "dedup", "graph")
)
def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, removed_round, core_deg, converged) bounded k-core peel
    of the banded dup graph — see the block comment for the superstep
    contract and scale shape. ``converged`` (constant per run, VERDICT
    r11 #7) is true iff the FINAL round's removal set is empty — an
    empty round is a fixpoint, so every deeper round would also remove
    nothing; false means the bounded peel truncated a deeper cascade
    and the result is the round-R partial peel (still deterministic and
    identical on both engines)."""
    from ..cache import CheckpointRotation, tracked_local_checkpoint, tracked_persist

    d = load_table(spark, sf_dir, "documents")
    sh = tracked_persist(DD.word_shingles(d), StorageLevel.DISK_ONLY)
    cand = DD.banded_candidate_pairs(DD.minhash_signatures(sh)).select(
        "doc1", "doc2"
    )
    from ..operators.components import symmetrize_edges

    # the round-0 edge table stays resident: ``nodes`` reads it
    e = tracked_local_checkpoint(symmetrize_edges(cand, "doc1", "doc2"))
    nodes = e.select(F.col("src").alias("doc_id")).distinct()
    ckpt = CheckpointRotation()

    removed = None
    last_rem_n = -1
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = e.groupBy("src").agg(F.count("*").alias("deg"))
        # the final round's count doubles as the convergence signal (an
        # empty removal round is a fixpoint)
        rem, last_rem_n = ckpt.keep(
            deg.filter(F.col("deg") < _KCORE_K).select(F.col("src").alias("node"))
        )
        rem_out = rem.select(
            "node", F.lit(r).cast("int").alias("removed_round")
        )
        removed = rem_out if removed is None else removed.unionAll(rem_out)
        live = (
            e.join(rem.select(F.col("node").alias("src")), "src", "left_anti")
            .join(rem.select(F.col("node").alias("dst")), "dst", "left_anti")
            .select("src", "dst")
        )
        e = ckpt.checkpoint(live)

    core = e.groupBy("src").agg(F.count("*").cast("bigint").alias("core_deg"))
    return (
        nodes.join(removed, nodes["doc_id"] == removed["node"], "left")
        .drop("node")
        .join(core, nodes["doc_id"] == core["src"], "left")
        .drop("src")
        .select(
            "doc_id",
            "removed_round",
            "core_deg",
            # the final removal count is already materialized above
            # (each round's removal set is filled before its parent
            # rotates away), so convergence is a plan-time constant —
            # no extra job, no driver pull beyond the existing scalar
            F.lit(last_rem_n == 0).alias("converged"),
        )
    )
