"""Time one registry query bench-style: sf0.001 warmup, then min-of-N
at the target SF with release_tracked between runs.

Usage: python scripts/profile_q.py q_name [sf_dir] [n_runs]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from _harness import timed, warm_up  # noqa: E402
from data_etl_spark.plans import REGISTRY  # noqa: E402
from data_etl_spark.session import build_session  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    spark = build_session("profile-q")
    warm_up(spark, [name])
    times = [sec for sec, _ in timed(lambda: REGISTRY[name].fn(spark, sf_dir), n)]
    print(f"{name} @ {sf_dir}: runs={[round(t, 2) for t in times]} min={min(times):.2f}s")


if __name__ == "__main__":
    main()
