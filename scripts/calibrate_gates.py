"""Calibrate the planner cost-gate thresholds from ~sf1 measurements
(VERDICT r7, next #3): for each gate, time BOTH physical branches at
input sizes straddling the current threshold on the 10x corpus
(/tmp/sf1), locate the crossover, and write CALIBRATION_r{N}.json with
the measured table. The thresholds in operators/planner.py /
operators/rank.py are then set from this data, and
tests/test_planner.py pins that each gate flips where configured.

Gates measured:
- auto_rank   (window row_number vs two-pass bucketed exact_global_rank)
- auto_knn    (broadcast exact kNN vs IVF cells)
- auto_dedup  (exact inverted-index pairs vs MinHash-banded + verify)
- lsh band    (8-bit vs 16-bit band mask at growing corpus size —
               q_lsh_adaptive's width rule)
- auto_join   (plain vs salted equi-join at growing hot-key share)
- kernel      (JVM expression vs Arrow UDF similarity kernel at growing
               pair counts, dim 8 and dim 64: where functions/vectors.py's
               two paths win)

Usage: python scripts/calibrate_gates.py [round_no] [kernel]
With ``kernel`` only the kernel section runs. Each cell is min-of-2
after a warmup pass; sizes are deterministic limits/samples of the sf1
tables.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from _harness import best_of
from data_etl_spark.functions import vectors as V
from data_etl_spark.session import build_session
from data_etl_spark.sources import load_table

SF1 = os.environ.get("SF1_DIR", "/tmp/sf1")

#: probe rows of the kernel section: one ETLPipeline.search batch
KERNEL_QUERIES = 32


def kernel_rows(spark) -> dict[str, dict]:
    """Both similarity kernel paths at growing pair counts: 32 queries x
    n corpus vectors scored by ``cosine`` (three folds per pair: the
    in-cell kernel's) and by ``cosine_pre`` over per-vector norms (one
    fold: exact kNN's), each cut to a top-5. dim 64 is the registry's
    ``embeddings``; dim 8 is the pipeline's ``fake_embedding`` of the
    ``documents`` text, measured one size further (1,048,576 pairs) to
    look for a crossover. Each arm names its kernel: the expression twin
    (``V.cosine``, ``V.cosine_pre``) or its Arrow UDF (``V.seq_cosine``,
    ``V.seq_cosine_pre``), over the same crossJoin."""
    from data_etl_spark.etl import fake_embedding
    from data_etl_spark.operators.knn import top_k

    sources = {
        64: load_table(spark, SF1, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(F.col("vec_id").alias("id"), V.as_double(F.col("embedding")).alias("emb")),
        8: load_table(spark, SF1, "documents")
        .select(F.col("doc_id").alias("id"), fake_embedding(F.col("text")).alias("emb")),
    }
    q_emb, c_emb, q_n, c_n = F.col("q_emb"), F.col("c_emb"), F.col("q_n"), F.col("c_n")
    arms = {
        "cosine_expr": V.cosine(q_emb, c_emb),
        "cosine_arrow": V.seq_cosine(q_emb, c_emb),
        "cosine_pre_expr": V.cosine_pre(q_emb, c_emb, q_n, c_n),
        "cosine_pre_arrow": V.seq_cosine_pre(q_emb, c_emb, q_n, c_n),
    }
    rows: dict[str, dict] = {}
    for dim, vecs in sources.items():
        q = vecs.orderBy("id").limit(KERNEL_QUERIES).select(
            F.col("id").alias("q_vec_id"), F.col("emb").alias("q_emb")
        ).withColumn("q_n", V.l2_norm(q_emb))
        for n in (64, 256, 512, 1024, 2048, 4096, 16384, *((32768,) if dim == 8 else ())):
            c = vecs.orderBy(F.desc("id")).limit(n).select(
                F.col("id").alias("c_vec_id"), F.col("emb").alias("c_emb")
            ).withColumn("c_n", V.l2_norm(c_emb))
            pairs = F.broadcast(q).crossJoin(c)

            def build(arm):
                return top_k(pairs.select("q_vec_id", "c_vec_id", arms[arm].alias("score")), 5)

            for arm in arms:  # warm every arm
                best_of(lambda: build(arm), 1)
            cell = {"pairs": KERNEL_QUERIES * n}
            cell.update({arm: best_of(lambda: build(arm)) for arm in arms})
            rows[f"d{dim}_n{n}"] = cell
            print(f"kernel dim={dim} pairs={cell['pairs']}: {cell}", flush=True)
    return rows


def main() -> None:
    round_no = sys.argv[1] if len(sys.argv) > 1 else "08"
    spark = build_session("calibrate-gates")
    out: dict[str, dict] = {}
    if sys.argv[2:] == ["kernel"]:
        out["kernel"] = kernel_rows(spark)
        return _write(out, round_no)

    # ---- auto_rank: window vs bucketed --------------------------------
    from data_etl_spark.operators.rank import exact_global_rank

    li = load_table(spark, SF1, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    rank_rows = {}
    for n in (50_000, 100_000, 200_000, 400_000, 800_000, 1_600_000):
        sub = li.limit(n)
        order = [F.asc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")]
        t_win = best_of(
            lambda: sub.withColumn(
                "rank", F.row_number().over(W.orderBy(*order))
            )
        )
        t_bkt = best_of(
            lambda: exact_global_rank(
                sub, order, F.col("l_extendedprice"), rank_name="rank"
            )
        )
        rank_rows[n] = {"window": t_win, "bucketed": t_bkt}
        print(f"rank n={n}: window {t_win}s bucketed {t_bkt}s", flush=True)
    out["auto_rank"] = rank_rows

    # ---- auto_knn: exact broadcast vs IVF -----------------------------
    from data_etl_spark.operators.knn import exact_knn
    from data_etl_spark.operators.planner import auto_knn

    emb = load_table(spark, SF1, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    emb = emb.select(
        F.col("vec_id").alias("c_vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("c_emb"),
    )
    probes = emb.limit(64).select(
        F.col("c_vec_id").alias("q_vec_id"), F.col("c_emb").alias("q_emb")
    )
    knn_rows = {}
    for n in (512, 1024, 2048, 4096, 8192, 16384):
        corpus = emb.limit(n)
        t_exact = best_of(lambda: exact_knn(F.broadcast(probes), corpus, k=5))
        t_ivf = best_of(
            lambda: auto_knn(probes, corpus, k=5, threshold=0)  # force IVF
        )
        knn_rows[n] = {"exact": t_exact, "ivf": t_ivf}
        print(f"knn n={n}: exact {t_exact}s ivf {t_ivf}s", flush=True)
    out["auto_knn"] = knn_rows

    # ---- auto_dedup: exact inverted index vs banded -------------------
    from data_etl_spark.operators.planner import auto_dedup

    docs = load_table(spark, SF1, "documents").select("doc_id", "text")
    dd_rows = {}
    for n in (512, 1024, 2048, 4096, 8192):
        sub = docs.limit(n)
        t_exact = best_of(lambda: auto_dedup(sub, threshold=10**9))  # force exact
        t_band = best_of(lambda: auto_dedup(sub, threshold=0))  # force banded
        dd_rows[n] = {"exact": t_exact, "banded": t_band}
        print(f"dedup n={n}: exact {t_exact}s banded {t_band}s", flush=True)
    out["auto_dedup"] = dd_rows

    # ---- lsh band width: 8-bit vs 16-bit mask -------------------------
    from data_etl_spark.plans.similarity import _band_sigs

    lsh_rows = {}
    for n in (256, 512, 1024, 4096, 16384):
        sub = emb.limit(n).select(
            F.col("c_vec_id").alias("vec_id"), F.col("c_emb").alias("emb")
        )
        def banded(mask: int):
            sig = sub.withColumn("sg", _band_sigs("emb")).select(
                "vec_id",
                "emb",
                V.l2_norm(F.col("emb")).alias("nrm"),
                (
                    F.col("sg.s0").bitwiseAND(F.lit(mask))
                    if mask
                    else F.col("sg.s0")
                ).alias("s"),
            )
            a = sig.select(
                F.col("s").alias("k"), F.col("vec_id").alias("v1"),
                F.col("emb").alias("e1"), F.col("nrm").alias("n1"),
            )
            b = sig.select(
                F.col("s").alias("k"), F.col("vec_id").alias("v2"),
                F.col("emb").alias("e2"), F.col("nrm").alias("n2"),
            )
            cos = V.seq_cosine_pre(F.col("e1"), F.col("e2"), F.col("n1"), F.col("n2"))
            return (
                a.join(b, "k")
                .filter(F.col("v1") < F.col("v2"))
                .select("v1", "v2", cos.alias("c"))
                .filter(F.col("c") >= 0.9)
            )

        t8 = best_of(lambda: banded(255))
        t16 = best_of(lambda: banded(0))
        lsh_rows[n] = {"band8": t8, "band16": t16}
        print(f"lsh n={n}: 8-bit {t8}s 16-bit {t16}s", flush=True)
    out["lsh_band"] = lsh_rows

    # ---- auto_join: plain vs salted at growing hot-key share ----------
    from data_etl_spark.operators.joins import salted_join

    ev = load_table(spark, SF1, "events").select(
        "event_id", "user_id", "event_type"
    )
    join_rows = {}
    for hot_pct in (0, 10, 30, 50, 80):
        hk = F.when(
            (F.col("event_id") % 100) < hot_pct, F.lit(-1).cast("bigint")
        ).otherwise(F.col("user_id"))
        fact = ev.select("event_id", "event_type", hk.alias("k"))
        dim = fact.groupBy("k").agg(F.count("*").alias("c"))
        agg = lambda j: j.groupBy("event_type").agg(
            F.count("*").alias("n"), F.sum("c").alias("s")
        )
        t_plain = best_of(lambda: agg(fact.join(dim, ["k"])))
        t_salt = best_of(
            lambda: agg(salted_join(fact, dim, keys=["k"], salt_src="event_id"))
        )
        # the measured ratio this hot share produces (gate input)
        sizes = (
            fact.filter(F.col("k").isNotNull())
            .groupBy("k").agg(F.count("*").alias("cnt"))
            .agg(F.max("cnt").alias("mx"), F.count("*").alias("nk"), F.sum("cnt").alias("tot"))
            .collect()[0]
        )
        ratio = round(float(sizes.mx) * sizes.nk / sizes.tot, 1)
        join_rows[hot_pct] = {"plain": t_plain, "salted": t_salt, "skew_ratio": ratio}
        print(f"join hot={hot_pct}%: plain {t_plain}s salted {t_salt}s ratio {ratio}", flush=True)
    out["auto_join"] = join_rows
    out["kernel"] = kernel_rows(spark)
    _write(out, round_no)


def _write(out: dict, round_no: str) -> None:
    path = os.path.join(
        os.path.dirname(__file__), "..", f"CALIBRATION_r{round_no}.json"
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", path)


if __name__ == "__main__":
    main()
