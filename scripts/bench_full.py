"""One-off full-registry bench: time EVERY registry query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and write
BENCH_FULL_r{N}.json next to the repo's other bench artifacts.

The headline bench (bench.py) audits the expensive families each round;
this sweep exists to make sure no pathological plan hides in the
untimed tail (VERDICT r5, next #6). Single timed pass after a JVM
warmup run at sf0.001; queries that moved > RETIME_AT x vs the most
recent prior BENCH_FULL artifact are re-timed and scored min-of-2
(VERDICT r9 next #5: the r9 single-run tail turned a GC/noisy-neighbor
straggler into a phantom 4x "regression" — q_dup_triangles 9.01 s tail
vs 4.68 s min-of-2 headline under loadavg 6-17).

Usage: python scripts/bench_full.py [round_no]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from data_etl_spark.plans import REGISTRY  # noqa: E402
from data_etl_spark.session import build_session  # noqa: E402
from _harness import (  # noqa: E402
    host_gate,
    host_gate_end,
    latest_bench_full,
    retime_movers,
    sf_value,
    sweep,
    warm_up,
)
from _stage_metrics import StageMetricsTracker  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: re-time (min-of-2) any query > this ratio vs the prior BENCH_FULL
RETIME_AT = 2.0


def main() -> None:
    round_no = sys.argv[1] if len(sys.argv) > 1 else "06"
    _, prior_artifact = latest_bench_full(exclude=f"BENCH_FULL_r{round_no}.json")
    prior = prior_artifact.get("queries", {})
    gate = host_gate()
    spark = build_session("data-etl-spark-bench-full")
    names = sorted(REGISTRY)
    warm_up(spark, names)

    tracker = StageMetricsTracker(spark)
    timings: dict[str, float] = {}
    metrics: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name, sec, m, err in sweep(spark, names, SF_DIR, tracker=tracker):
        if err:
            errors[name] = err
            continue
        timings[name] = sec
        metrics[name] = m
        print(f"{sec:8.3f}s  {name}", file=sys.stderr)

    # movers vs the prior artifact: re-time min-of-2 before recording
    retimed = retime_movers(
        spark, timings, SF_DIR, lambda n, t: bool(prior.get(n)) and t / prior[n] > RETIME_AT
    )

    out = {
        "metric": "full_registry_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "timing": "single_run_after_warmup; movers >2x vs prior artifact re-timed min-of-2",
        "retimed": retimed,
        "n_queries": len(timings),
        "queries": timings,
        "stage_metrics": metrics,
        "sf": sf_value(SF_DIR),
        # host health at go and at the end (scripts/_harness.py::host_gate):
        # external load inflates wall times 1.1-2x (stragglers on tiny
        # queries can hit 10x)
        **gate,
        **host_gate_end(),
    }
    if errors:
        out["errors"] = errors
    path = os.path.join(
        os.path.dirname(__file__), "..", f"BENCH_FULL_r{round_no}.json"
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({"written": os.path.abspath(path), "total_sec": out["value"], "n": len(timings)}))


if __name__ == "__main__":
    main()
