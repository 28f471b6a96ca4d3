"""scripts/conf_ab.py must measure the arm it names: the registry
wrapper's prep() resets keys like advisoryPartitionSizeInBytes, so an
A/B that set the key before calling the wrapper built both arms with
the shipped value."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

import conf_ab  # noqa: E402

from data_etl_spark.plans.registry import REGISTRY, register  # noqa: E402

KEY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def test_build_arm_sees_the_arms_value(spark, sf_dir):
    seen = []

    def stub(spark, sf_dir):
        seen.append(spark.conf.get(KEY))
        return spark.range(1)

    before = spark.conf.get(KEY)
    register("q_conf_ab_stub")(stub)
    try:
        for value in ("1m", "3m"):
            conf_ab.build_arm(spark, "q_conf_ab_stub", KEY, value, sf_dir)
            assert spark.conf.get(KEY) == value
    finally:
        del REGISTRY["q_conf_ab_stub"]
        spark.conf.set(KEY, before)
    assert seen == ["1m", "3m"]
