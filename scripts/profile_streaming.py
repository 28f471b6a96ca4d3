"""Profile the two slowest streaming benches (VERDICT r6, next #7):
q_streaming_interval_join / q_streaming_outer_join ran ~6.5 s each in
BENCH_FULL_r06. Question: fixed AvailableNow/RocksDB checkpoint
overhead, or per-row state churn?

Method: time each at sf0.01 (10k events) and sf0.1 (100k events),
min-of-2 through the noop sink after an sf0.001 warmup
(scripts/_harness.py). If wall is ~flat across the 10x data step, the
cost is fixed machinery (micro-batch setup + state-store checkpoint
commits); the data-linear component is the difference.

  python scripts/profile_streaming.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from _harness import best_of, warm_up  # noqa: E402
from data_etl_spark.plans import REGISTRY  # noqa: E402
from data_etl_spark.session import build_session  # noqa: E402

NAMES = ["q_streaming_interval_join", "q_streaming_outer_join"]
SFS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def main() -> int:
    spark = build_session("streaming-profile")
    warm_up(spark, NAMES)

    results: dict[str, dict[str, float]] = {}
    for name in NAMES:
        results[name] = {}
        for sf in SFS:
            results[name][sf] = round(best_of(lambda: REGISTRY[name].fn(spark, sf)), 2)

    for name, r in results.items():
        small, big = r[SFS[0]], r[SFS[1]]
        fixed = min(small, big)
        linear = max(0.0, big - small)
        print(
            f"{name}: sf0.01={small}s sf0.1={big}s -> "
            f"~{fixed}s fixed machinery, ~{linear}s data-linear "
            f"({100 * linear / big:.0f}% of the sf0.1 wall scales with data)"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
