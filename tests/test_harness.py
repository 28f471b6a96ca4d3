"""scripts/_harness.py drains plan-internal persists after every timed rep
and every warm-up run: a rep that read the previous rep's cached blocks
would run fewer tasks and time a different plan."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

from _harness import sweep, timed, warm_up  # noqa: E402
from _stage_metrics import StageMetricsTracker  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from data_etl_spark import cache  # noqa: E402
from data_etl_spark.plans.registry import REGISTRY, register  # noqa: E402

STUB = "q_harness_stub"


def _persisted(spark) -> set[int]:
    return cache.persistent_rdd_ids(spark.sparkContext)


def _tasks(spark, group: str) -> int:
    """Tasks the group's jobs ran. Skipped stages count none: past
    spark.ui.retainedStages the status store evicts them first (their
    completion time is -1), so counting their numTasks would depend on
    when an eviction lands in a long session."""
    st = spark.sparkContext.statusTracker()
    return sum(
        st.getStageInfo(sid).numCompletedTasks
        for jid in st.getJobIdsForGroup(group)
        for sid in st.getJobInfo(jid).stageIds
        if st.getStageInfo(sid) is not None
    )


def _register_stub():
    def stub(spark, sf_dir):
        agg = spark.range(0, 2000, numPartitions=4).groupBy(
            (F.col("id") % 7).alias("k")
        ).agg(F.count("*").alias("n"))
        return cache.tracked_persist(agg).select("k", (F.col("n") * 2).alias("n2"))

    register(STUB)(stub)


def test_every_rep_drains_and_reruns_the_full_plan(spark, sf_dir):
    _register_stub()
    sc = spark.sparkContext
    cache.release_tracked()  # earlier tests' persists: the drain is global
    # persistent RDD ids: none may be added; the context cleaner may drop
    # older ones meanwhile
    baseline = _persisted(spark)
    groups = []

    def build():
        # called at the start of each rep: the previous rep is drained
        assert cache._TRACKED == []
        assert _persisted(spark) <= baseline
        groups.append(f"harness-rep-{len(groups)}")
        sc.setJobGroup(groups[-1], "harness rep")
        return REGISTRY[STUB].fn(spark, sf_dir)

    try:
        reps = timed(build, 2, StageMetricsTracker(spark))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        del REGISTRY[STUB]
    assert cache._TRACKED == []
    assert _persisted(spark) <= baseline
    assert [sec > 0 and isinstance(m, dict) for sec, m in reps] == [True, True]
    counts = [_tasks(spark, g) for g in groups]
    assert counts[0] > 0 and counts[0] == counts[1], counts


def test_warm_up_and_sweep_drain_and_report_failures(spark, sf_dir):
    _register_stub()
    register("q_harness_broken")(lambda spark, sf_dir: spark.table("no_such_table"))
    cache.release_tracked()
    baseline = _persisted(spark)
    try:
        warm_up(spark, [STUB])
        assert cache._TRACKED == []
        assert _persisted(spark) <= baseline
        runs = list(sweep(spark, ["q_harness_broken", STUB], sf_dir, passes=2))
    finally:
        del REGISTRY[STUB]
        del REGISTRY["q_harness_broken"]
    assert cache._TRACKED == []
    assert _persisted(spark) <= baseline
    assert [(name, err is None) for name, _, _, err in runs] == [
        ("q_harness_broken", False), (STUB, True)
    ] * 2
    assert all("no_such_table" in err for _, _, _, err in runs if err)
