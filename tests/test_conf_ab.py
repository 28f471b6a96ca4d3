"""The conf A/B tools must build the arm they name: the registry
wrapper's prep() resets keys like advisoryPartitionSizeInBytes,
shuffle.partitions and AQE, so a tool that set a key before calling the
wrapper built every arm with the shipped value."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

import config_sweep  # noqa: E402
from _harness import build_arm  # noqa: E402

from data_etl_spark.plans.registry import REGISTRY, register  # noqa: E402

KEY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
PARTS = "spark.sql.shuffle.partitions"
AQE = "spark.sql.adaptive.enabled"


def test_build_arm_sees_the_arms_value(spark, sf_dir):
    seen = []

    def stub(spark, sf_dir):
        seen.append(spark.conf.get(KEY))
        return spark.range(1)

    before = spark.conf.get(KEY)
    register("q_conf_ab_stub")(stub)
    try:
        for value in ("1m", "3m"):
            build_arm(spark, "q_conf_ab_stub", {KEY: value}, sf_dir)
            assert spark.conf.get(KEY) == value
    finally:
        del REGISTRY["q_conf_ab_stub"]
        spark.conf.set(KEY, before)
    assert seen == ["1m", "3m"]


def test_config_sweep_runs_each_arm(spark, ddb, sf_dir):
    """Each config_sweep arm builds and runs its query under both of its
    confs, and the run still compares against the oracle."""
    seen = []

    def stub(spark, sf_dir):
        seen.append((spark.conf.get(PARTS), spark.conf.get(AQE)))
        return spark.range(1)

    before = (spark.conf.get(PARTS), spark.conf.get(AQE))
    register("q_config_sweep_stub", oracle="SELECT 0::BIGINT AS id")(stub)
    try:
        for parts, aqe in (("7", "true"), ("64", "false")):
            confs = {PARTS: parts, AQE: aqe}
            assert config_sweep._run(spark, ddb, sf_dir, ["q_config_sweep_stub"], confs, "t") == []
    finally:
        del REGISTRY["q_config_sweep_stub"]
        spark.conf.set(PARTS, before[0])
        spark.conf.set(AQE, before[1])
    assert seen == [("7", "true"), ("64", "false")]
