"""Parameterized stage-level profiler — the one home for plan A/B
measurement recipes (VERDICT r10 #5: consolidates the four
profile_setsim*.py scratch scripts; their committed sf1 numbers live in
the operator docstrings they informed, `operators/dedup.setsim_pairs`
and `plans/dedup.q_setsim_join`).

Usage: python scripts/profile_plan.py EXPERIMENT [sf_dir]

Experiments (each prints per-stage wall + row counts):
  setsim-stages     shingle build / prefix build / candidate join /
                    exact verification of the PPJoin pipeline
  setsim-verify-ab  verification shapes: per-doc arrays+array_intersect
                    (A, shipped) vs candidate-restricted token join (B)
                    — r10 measured A 4.5 s vs B 11.1 s at sf1
  setsim-prefix-ab  token-DF shapes: groupBy+join (A) vs window count
                    over partitionBy(shingle) (B, shipped) — r10
                    measured B one agg+join cheaper, same exchanges
  hardneg-pairs-ab  co-shingle pair shapes for q_hard_negatives:
                    symmetric self-join (A, shipped) vs anchor-
                    restricted directed join (B) — r11 measured A 34.7M
                    grouped pairs vs B 42.9M (53% of sf1 docs are
                    dup-family anchors; B loses, see the
                    q_hard_negatives block comment)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, ".")

from pyspark import StorageLevel  # noqa: E402
from pyspark.sql import Window as W  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from _harness import best_of, timed, warm_up  # noqa: E402
from data_etl_spark.cache import release_tracked, tracked_persist  # noqa: E402
from data_etl_spark.operators import dedup as DD  # noqa: E402
from data_etl_spark.sources import load_table  # noqa: E402
from data_etl_spark.session import build_session  # noqa: E402

TAU = 0.5
KEY = "doc_id"


def _stage(label: str, fn):
    t0 = time.perf_counter()
    n = fn()
    print(f"{label}: {time.perf_counter() - t0:.2f}s  ({n})", flush=True)


def _shingles(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    sh = tracked_persist(DD.word_shingles(d), StorageLevel.DISK_ONLY)
    _stage("shingles build+persist", sh.count)
    return sh


def _prefix(sh):
    """PPJoin prefix via the shipped window-count DF shape."""
    order = W.partitionBy(KEY).orderBy("__df", "shingle")
    ranked = sh.select(
        KEY, "shingle", F.count("*").over(W.partitionBy("shingle")).alias("__df")
    ).select(
        KEY, "shingle",
        F.row_number().over(order).alias("__rk"),
        F.count("*").over(W.partitionBy(KEY)).alias("n_sh"),
    )
    return ranked.filter(
        F.col("__rk") <= F.col("n_sh") - F.floor(F.lit(TAU) * F.col("n_sh")) + 1
    )


def _cand(prefix):
    a = prefix.select(F.col(KEY).alias("doc1"), "shingle",
                      F.col("n_sh").alias("n_sh1"), F.col("__rk").alias("__rk1"))
    b = prefix.select(F.col(KEY).alias("doc2"), "shingle",
                      F.col("n_sh").alias("n_sh2"), F.col("__rk").alias("__rk2"))
    size_ok = (F.least("n_sh1", "n_sh2").cast("double")
               >= F.lit(TAU) * F.greatest("n_sh1", "n_sh2") - F.lit(1e-9))
    pos_ok = (1 + F.least(F.col("n_sh1") - F.col("__rk1"),
                          F.col("n_sh2") - F.col("__rk2"))).cast("double") \
        >= F.lit(TAU / (1.0 + TAU)) * (F.col("n_sh1") + F.col("n_sh2")) - F.lit(1e-9)
    return (
        a.join(b, "shingle")
        .filter((F.col("doc1") < F.col("doc2")) & size_ok & pos_ok)
        .select("doc1", "doc2")
        .distinct()
    )


def _jac():
    return F.col("n_common").cast("double") / (
        F.col("n_sh1") + F.col("n_sh2") - F.col("n_common")
    )


def setsim_stages(spark, sf_dir):
    sh = _shingles(spark, sf_dir)
    prefix = tracked_persist(_prefix(sh), StorageLevel.DISK_ONLY)
    _stage("prefix build (window df + rank)", prefix.count)
    cand = tracked_persist(_cand(prefix))
    _stage("candidate join (size+positional prunes)", cand.count)
    members = cand.select(F.explode(F.array("doc1", "doc2")).alias(KEY)).distinct()
    arrs = (
        sh.join(members, KEY, "left_semi")
        .groupBy(KEY)
        .agg(F.collect_list("shingle").alias("__arr"), F.count("*").alias("n_sh"))
    )
    verified = (
        cand.join(arrs.select(F.col(KEY).alias("doc1"), F.col("__arr").alias("__a1"),
                              F.col("n_sh").alias("n_sh1")), "doc1")
        .join(arrs.select(F.col(KEY).alias("doc2"), F.col("__arr").alias("__a2"),
                          F.col("n_sh").alias("n_sh2")), "doc2")
        .select("doc1", "doc2",
                F.size(F.array_intersect("__a1", "__a2")).alias("n_common"),
                "n_sh1", "n_sh2")
    )
    _stage("verification (arrays)", verified.filter(_jac() >= F.lit(TAU)).count)


def setsim_verify_ab(spark, sf_dir):
    sh = _shingles(spark, sf_dir)
    prefix = tracked_persist(_prefix(sh), StorageLevel.DISK_ONLY)
    cand = tracked_persist(_cand(prefix))
    _stage("shared prefix+cand", cand.count)
    members = cand.select(F.explode(F.array("doc1", "doc2")).alias(KEY)).distinct()
    shm = sh.join(members, KEY, "left_semi")

    arrs = tracked_persist(
        shm.groupBy(KEY).agg(F.collect_list("shingle").alias("__arr"),
                             F.count("*").alias("n_sh")),
        StorageLevel.DISK_ONLY,
    )
    vA = (
        cand.join(arrs.select(F.col(KEY).alias("doc1"), F.col("__arr").alias("__a1"),
                              F.col("n_sh").alias("n_sh1")), "doc1")
        .join(arrs.select(F.col(KEY).alias("doc2"), F.col("__arr").alias("__a2"),
                          F.col("n_sh").alias("n_sh2")), "doc2")
        .select("doc1", "doc2",
                F.size(F.array_intersect("__a1", "__a2")).alias("n_common"),
                "n_sh1", "n_sh2")
    )
    _stage("verify A (arrays, shipped)", vA.filter(_jac() >= F.lit(TAU)).count)

    sizes = shm.groupBy(KEY).agg(F.count("*").alias("n_sh"))
    common = (
        cand.join(shm.select(F.col(KEY).alias("doc1"), "shingle"), "doc1")
        .join(shm.select(F.col(KEY).alias("doc2"), "shingle"), ["doc2", "shingle"])
        .groupBy("doc1", "doc2")
        .agg(F.count("*").alias("n_common"))
    )
    vB = (
        common
        .join(sizes.select(F.col(KEY).alias("doc1"),
                           F.col("n_sh").alias("n_sh1")), "doc1")
        .join(sizes.select(F.col(KEY).alias("doc2"),
                           F.col("n_sh").alias("n_sh2")), "doc2")
    )
    _stage("verify B (token join)", vB.filter(_jac() >= F.lit(TAU)).count)


def setsim_prefix_ab(spark, sf_dir):
    sh = _shingles(spark, sf_dir)
    order = W.partitionBy(KEY).orderBy("__df", "shingle")

    def pred(c):
        return c.filter(
            F.col("__rk") <= F.col("n_sh") - F.floor(F.lit(TAU) * F.col("n_sh")) + 1
        )

    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    rankedA = sh.join(df_counts, "shingle").select(
        KEY, "shingle",
        F.row_number().over(order).alias("__rk"),
        F.count("*").over(W.partitionBy(KEY)).alias("n_sh"),
    )
    _stage("prefix A (groupBy+join)", pred(rankedA).count)
    _stage("prefix B (window df, shipped)", pred(_prefix(sh)).count)


def hardneg_pairs_ab(spark, sf_dir):
    sh = _shingles(spark, sf_dir)
    cand = tracked_persist(
        DD.banded_candidate_pairs(DD.minhash_signatures(sh)).select("doc1", "doc2")
    )
    _stage("banded candidates", cand.count)
    anchors = cand.select(
        F.explode(F.array("doc1", "doc2")).alias(KEY)
    ).distinct()
    _stage("anchors (dup-family members)", anchors.count)
    _stage("pairs A (symmetric self-join, shipped)",
           DD.co_shingle_pairs(sh).count)
    sh_a = sh.join(anchors, KEY, "semi")
    _stage("pairs B (anchor-restricted directed)",
           DD.co_shingle_pairs(sh, left=sh_a).count)


def shingles_distinct_ab(spark, sf_dir):
    """A/B the (doc, shingle) set-dedup shape in word_shingles: the
    shipped post-explode DataFrame .distinct() (a full corpus-scale
    exchange) vs array_distinct BEFORE the explode (per-row, no
    shuffle). Semantics identical: DISTINCT per (doc, shingle) == the
    per-doc shingle-array dedup, because doc_id rides every row."""
    from pyspark.sql import functions as F
    from data_etl_spark.functions import text as TX

    d = load_table(spark, sf_dir, "documents")

    def shingled(dd):
        ws_df = dd.select("doc_id", F.col("text")).repartition(
            F.col("doc_id")
        ).select("doc_id", TX.words(F.col("text")).alias("__ws"))
        n = 3
        cnt = F.greatest(F.size(F.col("__ws")) - (n - 1), F.lit(0))
        slices = [F.slice(F.col("__ws"), j + 1, cnt) for j in range(n)]
        z = slices[0]
        for sl in slices[1:]:
            z = F.zip_with(z, sl, lambda a, b: F.concat_ws(" ", a, b))
        return ws_df.select("doc_id", z.alias("__z"))

    shA = shingled(d).select(
        "doc_id", F.explode("__z").alias("shingle")
    ).distinct()
    _stage("A: explode + .distinct() (shipped)", shA.count)
    shB = shingled(d).select(
        "doc_id", F.explode(F.array_distinct(F.col("__z"))).alias("shingle")
    )
    _stage("B: array_distinct + explode", shB.count)
    # and through the DF-cap consumer shape (groupBy shingle count):
    _stage("A->df_counts", shA.groupBy("shingle").count().count)
    _stage("B->df_counts", shB.groupBy("shingle").count().count)


def banded_stages(spark, sf_dir):
    """Marginal cost of each leg of the banded-candidate subtree
    (minhash_signatures -> banded band keys -> pair self-join) that
    underlies the five slowest sf1 rows (VERDICT r11 #5). Each stage
    persists its input so timings are marginal, not cumulative."""
    sh = _shingles(spark, sf_dir)
    sig = tracked_persist(DD.minhash_signatures(sh))
    _stage("signatures (groupBy key,seed)", sig.count)
    banded = (
        sig.withColumn("band", F.expr("seed div 2"))
        .groupBy(KEY, "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("seed"),
                                F.col("minhash").cast("string").alias("minhash"),
                            )
                        )
                    ),
                    lambda s: s.minhash,
                ),
                ":",
            ).alias("band_key")
        )
    )
    banded_p = tracked_persist(banded)
    _stage("band keys (groupBy key,band)", banded_p.count)
    a = banded_p.select(F.col(KEY).alias("doc1"), "band", "band_key")
    b = banded_p.select(F.col(KEY).alias("doc2"), "band", "band_key")
    pairs = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.count("*").alias("n_shared_bands"))
    )
    _stage("pair self-join + group", pairs.count)
    # the whole operator end-to-end, lazily rebuilt (no persisted
    # inputs): what q_dedup_auto's banded branch actually pays
    _stage(
        "end-to-end banded_candidate_pairs",
        DD.banded_candidate_pairs(DD.minhash_signatures(DD.word_shingles(
            load_table(spark, sf_dir, "documents")
        ))).count,
    )


def banded_bandkey_ab(spark, sf_dir):
    """A/B the band-key build: (A, shipped) a SECOND corpus shuffle
    groupBy(key, band) over the signature rows vs (B) ONE groupBy(key)
    folding all seeds, then deriving every band key per doc with array
    expressions and exploding — same output, one wide row per doc on
    the wire instead of k/r narrow rows, and the downstream join's
    build side arrives pre-grouped."""
    sh = _shingles(spark, sf_dir)
    sig = tracked_persist(DD.minhash_signatures(sh))
    _stage("signatures (shared input)", sig.count)

    bandedA = (
        sig.withColumn("band", F.expr("seed div 2"))
        .groupBy(KEY, "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("seed"),
                                F.col("minhash").cast("string").alias("minhash"),
                            )
                        )
                    ),
                    lambda s: s.minhash,
                ),
                ":",
            ).alias("band_key")
        )
    )
    _stage("A: groupBy(key, band) (shipped)", bandedA.count)

    folded = sig.groupBy(KEY).agg(
        F.array_sort(
            F.collect_list(F.struct("seed", "minhash"))
        ).alias("sm")
    )
    bandedB = folded.select(
        KEY,
        F.explode(
            F.expr(
                "transform(sequence(0, 3), band -> struct(band, "
                "concat_ws(':', cast(sm[band * 2].minhash AS string), "
                "cast(sm[band * 2 + 1].minhash AS string)) AS band_key))"
            )
        ).alias("bb"),
    ).select(KEY, F.col("bb.band").alias("band"), F.col("bb.band_key").alias("band_key"))
    _stage("B: groupBy(key) + array band derive", bandedB.count)
    # sanity: identical band-key sets
    nA = bandedA.select(KEY, "band", "band_key")
    nB = bandedB.select(KEY, "band", "band_key")
    _stage("A minus B (must be 0)", nA.exceptAll(nB).count)
    _stage("B minus A (must be 0)", nB.exceptAll(nA).count)


def tfidf_stages_ab(spark, sf_dir):
    """Decompose q_tfidf, the registry's worst sf1 scaler two rounds
    running (6.09x at 10x data — VERDICT r12 #3), and A/B the join +
    window shape:

      A (shipped): explode -> groupBy(doc_id,term) -> join df_ on term
                   (optimizer's choice) -> window partitionBy(doc_id)
      B: A with an explicit F.broadcast(df_) hint
      C: repartition(documents by doc_id) BEFORE the explode, then
         broadcast(df_) — hash(doc_id) satisfies the (doc_id,term)
         grouping clustering AND the final window's distribution, so
         the postings never shuffle at all; the only exchange is the
         raw documents table (tiny next to exploded tokens).
    """
    from data_etl_spark.functions import text as TX

    d = load_table(spark, sf_dir, "documents")

    def wc_of(dd):
        return (
            dd.select("doc_id", F.explode(TX.words(F.col("text"))).alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"))
        )

    def topk(wc, df_, hint):
        n = d.agg(F.count("*").alias("n_docs"))
        side = F.broadcast(df_) if hint else df_
        scored = (
            wc.join(side, "term")
            .crossJoin(F.broadcast(n))
            .select(
                "doc_id", "term", "tf", "doc_freq",
                (
                    (F.col("tf").cast("double") * (F.col("n_docs") + 1))
                    / (F.col("doc_freq") + 1)
                ).alias("tfidf"),
            )
        )
        w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .select("doc_id", "term", "tf", "doc_freq", "tfidf")
        )

    # marginal stage costs of the shipped shape
    wc = wc_of(d)
    _stage("stage: wc = explode+groupBy(doc,term)", wc.count)
    df_ = wc.groupBy("term").agg(F.count("*").alias("doc_freq"))
    _stage("stage: df_ = groupBy(term)  (wc recomputed)", df_.count)
    _stage("stage: join+window top-5    (both recomputed)",
           topk(wc, df_, hint=False).count)

    for label, dd, hint in (
        ("A: shipped (optimizer join)", d, False),
        ("B: broadcast(df_) hint", d, True),
        ("C: repartition(doc_id) + broadcast", d.repartition(F.col("doc_id")), True),
    ):
        wc_v = wc_of(dd)
        df_v = wc_v.groupBy("term").agg(F.count("*").alias("doc_freq"))
        q = topk(wc_v, df_v, hint)
        (t1, _), (t2, _) = timed(lambda: q, 2)
        nx = len([x for x in q._jdf.queryExecution().executedPlan().toString().split("\n")
                  if "Exchange" in x])
        print(f"{label}: {t1:.2f}s / {t2:.2f}s (min {min(t1, t2):.2f})  rows={q.count()}  exchanges={nx}",
              flush=True)


def scan_opencost_sweep(spark, sf_dir):
    """The r13 scan-width decision recipe: sweep
    spark.sql.files.openCostInBytes over {64 KB, 256 KB, 512 KB, 4 MB}
    on one map-heavy documents query per SF of interest. Split size is
    min(maxPartitionBytes, max(openCostInBytes, totalBytes/parallelism));
    snappy text compresses ~10x so the 4 MB default floor caps a
    6 MB/50k-doc corpus at 2 scan tasks, while 64 KB over-slices small
    single-row-group files into mostly-empty byte ranges that still pay
    a footer read each. r13 measured (min-of-2): 512 KB keeps sf0.1 at
    parity with 4 MB AND the sf1 win (q_char_entropy 1.54 s -> 0.64 s)
    — the committed session.py value. Re-run after any testdata
    regeneration: the right floor depends on row-group layout."""
    from data_etl_spark.plans import REGISTRY

    probes = ["q_char_entropy", "q_ngram_jaccard", "q_knn_exact"]
    for oc in (64 * 1024, 256 * 1024, 512 * 1024, 4 * 1024 * 1024):
        spark.conf.set("spark.sql.files.openCostInBytes", str(oc))
        for q in probes:
            best = best_of(lambda: REGISTRY[q].fn(spark, sf_dir))
            print(f"oc={oc // 1024}KB {q}: {best:.2f}s", flush=True)
    spark.conf.set("spark.sql.files.openCostInBytes", str(512 * 1024))


def rp_dedup_ab(spark, sf_dir):
    """r14 q_rp_lsh_pairs A/B: cross-band dropDuplicates exchange (OLD)
    vs s1-leg band-exclusion filter (NEW, shipped) — the union is
    duplicate-free by construction because a pair is double-emitted iff
    BOTH band signatures match. Interleaved min-of-N in one JVM (the
    only valid timing instrument on this host); also runs on
    q_embed_dedup_clusters-equivalent CC input volume via the pair
    count. NEW is the registry shape; OLD is reconstructed inline."""
    from pyspark.sql import DataFrame
    from data_etl_spark.functions import vectors as V
    from data_etl_spark.plans.similarity import (
        _RP_TAU,
        _band_sigs,
        _embeddings,
    )
    from data_etl_spark.plans import REGISTRY

    def old_pairs() -> DataFrame:
        e = _embeddings(spark, sf_dir).select(
            "vec_id", V.as_double(F.col("embedding")).alias("emb")
        )
        sig = tracked_persist(
            e.withColumn("sg", _band_sigs("emb")).select(
                "vec_id", "emb", "sg.s0", "sg.s1", V.l2_norm(F.col("emb")).alias("nrm")
            )
        )

        def pairs_on(key):
            a = sig.select(
                F.col(key).alias("k"), F.col("vec_id").alias("vec1"),
                F.col("emb").alias("emb1"), F.col("nrm").alias("n1"),
            )
            b = sig.select(
                F.col(key).alias("k"), F.col("vec_id").alias("vec2"),
                F.col("emb").alias("emb2"), F.col("nrm").alias("n2"),
            )
            j = a.join(b, "k").filter(F.col("vec1") < F.col("vec2"))
            cos = V.seq_cosine_pre(
                F.col("emb1"), F.col("emb2"), F.col("n1"), F.col("n2")
            )
            return j.select("vec1", "vec2", cos.alias("cos_sim")).filter(
                F.col("cos_sim") >= F.lit(_RP_TAU)
            )

        return (
            pairs_on("s0").unionByName(pairs_on("s1"))
            .dropDuplicates(["vec1", "vec2"])
        )

    warm_up(spark, ["q_rp_lsh_pairs"])
    for rep in range(3):  # interleave old/new per repetition
        o = best_of(old_pairs, 5)
        n = best_of(lambda: REGISTRY["q_rp_lsh_pairs"].fn(spark, sf_dir), 5)
        print(f"rep{rep} q_rp_lsh_pairs old={o:.2f}s new={n:.2f}s", flush=True)
        oc = best_of(lambda: REGISTRY["q_embed_dedup_clusters"].fn(spark, sf_dir), 3)
        print(f"rep{rep} q_embed_dedup_clusters (new pairs subtree)={oc:.2f}s", flush=True)


def census_stages_ab(spark, sf_dir):
    """r14 q_dup_triangles/q_pagerank_dupgraph census decomposition
    (VERDICT r13 #6): stage the >=2-shared-seed candidate census —
    signature build, combo build, bucket self-join, triangle census —
    and A/B the combo build: (A, shipped) the (m-1)-fold ascending-seed
    self-join of the signature table vs (B) one groupBy(doc).
    collect_list + map-side combo explode via nested array transforms
    (one exchange instead of two join legs; seeds are distinct ints so
    sort_array(struct(seed, minhash)) reproduces the s0<s1 enumeration
    exactly). Interleaved min-of-3 per rep, one JVM."""
    from data_etl_spark.plans.dedup import _GRAPH_MIN_SHARED, _triangle_census

    # the shared input is staged as parquet, not persisted: every timed
    # rep drains the tracked persists
    with tempfile.TemporaryDirectory(prefix="census-sig-") as staged:
        d = load_table(spark, sf_dir, "documents")
        DD.minhash_signatures(DD.word_shingles(d)).write.mode("overwrite").parquet(staged)
        sig = spark.read.parquet(staged)
        _stage("sig rows (staged as parquet)", sig.count)

        def combos_join():
            return (
                sig.select(KEY, F.col("seed").alias("s0"), F.col("minhash").alias("m0"))
                .join(
                    sig.select(KEY, F.col("seed").alias("s1"), F.col("minhash").alias("m1")),
                    KEY,
                )
                .filter(F.col("s0") < F.col("s1"))
            )

        def combos_arr():
            g = sig.groupBy(KEY).agg(
                F.sort_array(F.collect_list(F.struct("seed", "minhash"))).alias("sm")
            )
            pair = F.explode(
                F.flatten(
                    F.transform(
                        "sm",
                        lambda x, i: F.transform(
                            F.slice(F.col("sm"), i + 2, F.size("sm")),
                            lambda y: F.struct(
                                x["seed"].alias("s0"),
                                x["minhash"].alias("m0"),
                                y["seed"].alias("s1"),
                                y["minhash"].alias("m1"),
                            ),
                        ),
                    )
                )
            )
            return g.select(KEY, pair.alias("p")).select(KEY, "p.*")

        def edges_of(combos):
            bucket = ["s0", "m0", "s1", "m1"]
            a = combos.select(F.col(KEY).alias("doc1"), *bucket)
            b = combos.select(F.col(KEY).alias("doc2"), *bucket)
            return (
                a.join(b, bucket)
                .filter(F.col("doc1") < F.col("doc2"))
                .select("doc1", "doc2")
                .distinct()
            )

        # parity first: identical combo sets and edge sets
        n_a = combos_join().count()
        n_b = combos_arr().count()
        ea = edges_of(combos_join())
        eb = edges_of(combos_arr())
        diff = ea.exceptAll(eb).count() + eb.exceptAll(ea).count()
        print(f"parity: combos A={n_a} B={n_b}, edge symdiff={diff}", flush=True)

        for rep in range(3):
            ca = best_of(combos_join, 3)
            cb = best_of(combos_arr, 3)
            print(f"rep{rep} combos join={ca:.2f}s arr={cb:.2f}s", flush=True)
            fa = best_of(lambda: edges_of(combos_join()), 3)
            fb = best_of(lambda: edges_of(combos_arr()), 3)
            print(f"rep{rep} edges  join={fa:.2f}s arr={fb:.2f}s", flush=True)
        e = tracked_persist(
            edges_of(combos_join()).select(F.col("doc1").alias("u"), F.col("doc2").alias("v"))
        )
        _stage("edges persist", e.count)
        [(sec, _)] = timed(lambda: _triangle_census(e))
        print(f"triangle census over persisted edges: {sec:.2f}s", flush=True)


EXPERIMENTS = {
    "setsim-stages": setsim_stages,
    "rp-dedup-ab": rp_dedup_ab,
    "census-stages-ab": census_stages_ab,
    "tfidf-stages-ab": tfidf_stages_ab,
    "scan-opencost-sweep": scan_opencost_sweep,
    "setsim-verify-ab": setsim_verify_ab,
    "setsim-prefix-ab": setsim_prefix_ab,
    "hardneg-pairs-ab": hardneg_pairs_ab,
    "shingles-distinct-ab": shingles_distinct_ab,
    "banded-stages": banded_stages,
    "banded-bandkey-ab": banded_bandkey_ab,
}


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in EXPERIMENTS:
        print(__doc__)
        raise SystemExit(f"pick an experiment: {', '.join(EXPERIMENTS)}")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"
    spark = build_session(f"profile-{sys.argv[1]}")
    try:
        EXPERIMENTS[sys.argv[1]](spark, sf_dir)
    finally:
        release_tracked()


if __name__ == "__main__":
    main()
