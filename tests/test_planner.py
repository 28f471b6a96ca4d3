"""Cost-gated kNN planner (operators/planner.py): the gate must change
the PHYSICAL plan, not just the result — exact brute force below the
threshold, IVF cell-join above it — and the IVF rewrite must return the
true top-k whenever cells are well separated."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_etl_spark.functions import vectors as V
from data_etl_spark.operators.knn import exact_knn
from data_etl_spark.operators.planner import auto_knn


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "id bigint, emb array<double>")


def _corpus(spark, n, base):
    """n vectors in two well-separated clusters around +/-base."""
    rows = [
        (
            i,
            [
                (base if i % 2 == 0 else -base) + (i % 7) * 0.01,
                (base if i % 2 == 0 else -base) - (i % 5) * 0.01,
                1.0,
            ],
        )
        for i in range(n)
    ]
    return _vecs(spark, rows).select(
        F.col("id").alias("c_vec_id"), F.col("emb").alias("c_emb")
    )


def _probes(spark):
    return _vecs(
        spark, [(0, [10.0, 10.0, 1.0]), (1, [-10.0, -10.0, 1.0])]
    ).select(F.col("id").alias("q_vec_id"), F.col("emb").alias("q_emb"))


def test_below_threshold_plans_broadcast_nl(spark):
    out = auto_knn(_probes(spark), _corpus(spark, 50, 10.0), k=3, threshold=1024)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    # no cell machinery below the gate
    assert "cell" not in plan


def test_above_threshold_plans_cell_equijoin(spark):
    out = auto_knn(
        _probes(spark), _corpus(spark, 1100, 10.0), k=3, threshold=1024, n_centroids=4
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the probe-corpus pairing is a keyed join on cell, never a full
    # cross of probes x corpus
    assert "cell" in plan
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_ivf_branch_exact_when_cells_separate(spark):
    """With two far-apart clusters, each probe's cell contains its true
    top-k, so the IVF rewrite must equal brute force exactly."""
    corpus = _corpus(spark, 1100, 10.0)
    probes = _probes(spark)
    ivf = auto_knn(probes, corpus, k=3, threshold=1024, n_centroids=4)
    exact = exact_knn(F.broadcast(probes), corpus, k=3)
    assert sorted(map(tuple, ivf.collect())) == sorted(map(tuple, exact.collect()))


def test_gate_is_count_driven(spark):
    """Same data, different thresholds -> different physical strategies."""
    corpus = _corpus(spark, 200, 10.0)
    probes = _probes(spark)
    lo = auto_knn(probes, corpus, k=3, threshold=100, n_centroids=4)
    hi = auto_knn(probes, corpus, k=3, threshold=1000)
    assert "cell" in lo._jdf.queryExecution().executedPlan().toString()
    assert "cell" not in hi._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# auto_dedup — the cost-gated exact-vs-banded near-dup rule. The fuzz
# corpora (<=120 docs) and driver corpora (500 docs) all sit on the
# exact branch, so these tests force the banded branch with a tiny
# threshold and pin its contract: banded == exact restricted to the
# MinHash-band candidate set (the documented recall trade), never new
# pairs, never different scores.
# ---------------------------------------------------------------------------


def _docs(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),     # exact dup of 0
        (2, "alpha beta gamma delta epsilon zeta eta iota"),      # near dup of 0
        (3, "one two three four five six seven eight nine ten"),
        (4, "one two three four five six seven eight nine cow"),  # near dup of 3
        (5, "completely different text with other words inside"),
        (6, "unrelated content again nothing shared here at all"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_auto_dedup_gate_flips_strategy(spark):
    from data_etl_spark.operators.planner import auto_dedup

    d = _docs(spark)
    lo = auto_dedup(d, threshold=3, tau=0.5)    # 7 docs > 3 -> banded
    hi = auto_dedup(d, threshold=100, tau=0.5)  # 7 docs <= 100 -> exact
    assert {r.strategy for r in lo.collect()} <= {"banded"}
    assert {r.strategy for r in hi.collect()} <= {"exact"}


def test_auto_dedup_banded_is_candidate_restricted_exact(spark):
    """Banded pairs = exact pairs ∩ band candidates, scores identical."""
    from data_etl_spark.operators import dedup as DD
    from data_etl_spark.operators.planner import auto_dedup

    d = _docs(spark)
    exact = {
        (r.doc1, r.doc2): (r.n_common, round(r.jaccard, 9))
        for r in auto_dedup(d, threshold=100, tau=0.5).collect()
    }
    banded = {
        (r.doc1, r.doc2): (r.n_common, round(r.jaccard, 9))
        for r in auto_dedup(d, threshold=3, tau=0.5).collect()
    }
    cand = {
        (r.doc1, r.doc2)
        for r in DD.banded_candidate_pairs(
            DD.minhash_signatures(DD.word_shingles(d))
        ).collect()
    }
    assert set(banded) == set(exact) & cand
    for k in banded:
        assert banded[k] == exact[k]
    # the exact dup pair shares every band: it must survive the gate
    assert (0, 1) in banded


def test_shared_seed_pairs_matches_filtered_any_seed(spark):
    """Combo-bucket enumeration == any-seed pairs filtered to >= 2
    shared seeds (the graph queries' edge set) — same rows, computed
    without materializing the quadratic any-seed intermediate."""
    from data_etl_spark.operators import dedup as DD

    d = _docs(spark)
    sig = DD.minhash_signatures(DD.word_shingles(d))
    combo = {(r.doc1, r.doc2) for r in DD.shared_seed_pairs(sig).collect()}
    anyseed = {
        (r.doc1, r.doc2)
        for r in DD.lsh_candidate_pairs(sig)
        .filter("n_shared_bands >= 2")
        .collect()
    }
    assert combo == anyseed
    assert (0, 1) in combo  # identical docs agree on every seed
    # the generalized C(k, m) enumeration (VERDICT r9 #8): m = 1 and
    # m = 3 against the same brute-force shared-seed census
    agree = {}
    for r in sig.collect():
        agree.setdefault(r.doc_id, {})[r.seed] = r.minhash
    docs = sorted(agree)
    for m in (1, 3):
        got = {
            (r.doc1, r.doc2)
            for r in DD.shared_seed_pairs(sig, min_shared=m).collect()
        }
        want = {
            (d1, d2)
            for i, d1 in enumerate(docs)
            for d2 in docs[i + 1:]
            if sum(
                agree[d1].get(s) == agree[d2][s] for s in agree[d2]
            ) >= m
        }
        assert got == want, f"min_shared={m}"
    import pytest

    with pytest.raises(ValueError):
        DD.shared_seed_pairs(sig, min_shared=0)


def test_shared_seed_pairs_rejects_a_repeated_seed(spark):
    """Both docs agree on ONE distinct seed, each listed twice: counted
    by array position that would be a 2-seed combo and pair them, so the
    operator raises instead of pairing equal seeds."""
    import pytest

    from data_etl_spark.operators import dedup as DD

    sig = spark.createDataFrame(
        [(0, 0, 7), (0, 0, 7), (0, 1, 3), (1, 0, 7), (1, 0, 7), (1, 1, 5)],
        "doc_id long, seed int, minhash long",
    )
    with pytest.raises(Exception, match="DUPLICATED_MAP_KEY|[Dd]uplicate map key"):
        DD.shared_seed_pairs(sig).collect()


def test_auto_dedup_single_driver_action(spark):
    """Building the plan runs only the gate's count() action (AQE may
    split one count into several jobs; measure against a plain count
    baseline instead of assuming 1 job == 1 action)."""
    from data_etl_spark.operators.planner import auto_dedup

    d = _docs(spark)
    sc = spark.sparkContext

    def jobs(group, run):
        # a job group of its own, so a job another thread issues (a
        # previous test's trailing stage) is not counted, and the
        # listener bus drained, so every job of ``run`` is
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    baseline = jobs("auto-dedup-baseline", d.count)
    assert baseline >= 1
    assert jobs("auto-dedup-gate", lambda: auto_dedup(d, threshold=3, tau=0.5)) <= baseline, (
        "auto_dedup ran more driver jobs than its one count gate"
    )


def test_auto_join_branches_result_equal_and_gate_flips(spark):
    """auto_join (VERDICT r7 #6): the salted and plain branches produce
    identical rows on a skewed corpus, and the measured-skew gate picks
    salted for a hot-key fact side but plain for a uniform one."""
    import pyspark.sql.functions as F

    from data_etl_spark.operators.joins import salted_join
    from data_etl_spark.operators.planner import auto_join

    # hot key 0 owns half the fact rows; keys 1..200 one row each
    rows = [(i, 0 if i % 2 == 0 else 1 + (i % 200), f"t{i % 3}") for i in range(800)]
    fact = spark.createDataFrame(rows, "event_id long, k long, tag string")
    dim = fact.groupBy("k").agg(F.count("*").alias("c"))

    salted = auto_join(
        fact, dim, ["k"], "event_id", skew_threshold=16.0, strategy_name="s"
    )
    assert salted.select("s").distinct().collect()[0].s == "salted"
    plain = fact.join(dim, ["k"]).withColumn("s", F.lit("x"))
    key = lambda r: (r.event_id, r.k, r.tag, r.c)
    assert sorted(map(key, salted.collect())) == sorted(map(key, plain.collect()))

    # uniform fact side: the gate stays plain (no salting overhead)
    uni = spark.createDataFrame(
        [(i, i % 100, "t") for i in range(500)], "event_id long, k long, tag string"
    )
    udim = uni.groupBy("k").agg(F.count("*").alias("c"))
    out = auto_join(uni, udim, ["k"], "event_id", skew_threshold=16.0, strategy_name="s")
    assert out.select("s").distinct().collect()[0].s == "plain"

    # NULL fact keys neither join nor skew the measurement
    nulled = spark.createDataFrame(
        [(i, None if i % 2 == 0 else 1 + (i % 10), "t") for i in range(400)],
        "event_id long, k long, tag string",
    )
    ndim = nulled.groupBy("k").agg(F.count("*").alias("c"))
    out2 = auto_join(nulled, ndim, ["k"], "event_id", skew_threshold=16.0, strategy_name="s")
    got = out2.collect()
    assert all(r.k is not None for r in got)
    assert out2.select("s").distinct().collect()[0].s == "plain"


def test_gate_defaults_match_calibration():
    """VERDICT r7 #3: the library defaults sit on the measured-winner
    side of the ~sf1 calibration table (CALIBRATION_r08.json) — if the
    data is re-measured and the winners move, this fails until the
    defaults (or the documented reasoning) are updated."""
    import inspect
    import json
    import os

    from data_etl_spark.operators import planner

    path = os.path.join(os.path.dirname(__file__), "..", "CALIBRATION_r08.json")
    with open(path) as f:
        cal = json.load(f)

    def default_of(fn, name):
        return inspect.signature(fn).parameters[name].default

    # auto_rank: the window branch must have WON at every measured size
    # up to the default threshold (the default may exceed the measured
    # range only on the documented task-memory argument)
    thr = default_of(planner.auto_rank, "threshold")
    for n, t in cal["auto_rank"].items():
        if int(n) <= thr:
            assert t["window"] <= t["bucketed"], (n, t)
    assert thr == 1_000_000

    # auto_knn: exact wins at the default, IVF wins at the next measured
    # size up
    thr = default_of(planner.auto_knn, "threshold")
    sizes = sorted(int(n) for n in cal["auto_knn"])
    assert thr in sizes
    at = cal["auto_knn"][str(thr)]
    assert at["exact"] <= at["ivf"], at
    above = cal["auto_knn"][str(sizes[sizes.index(thr) + 1])]
    assert above["ivf"] <= above["exact"], above

    # auto_dedup: exact won at every measured size through the default
    thr = default_of(planner.auto_dedup, "threshold")
    for n, t in cal["auto_dedup"].items():
        if int(n) <= thr:
            assert t["exact"] <= t["banded"], (n, t)

    # lsh band width: 8-bit within 10% of 16-bit at the adaptive cut,
    # 16-bit strictly better at the next measured size
    from data_etl_spark.plans.similarity import _ADAPT_N

    sizes = sorted(int(n) for n in cal["lsh_band"])
    assert _ADAPT_N in sizes
    at = cal["lsh_band"][str(_ADAPT_N)]
    assert at["band8"] <= at["band16"] * 1.10, at
    above = cal["lsh_band"][str(sizes[sizes.index(_ADAPT_N) + 1])]
    assert above["band16"] <= above["band8"], above
