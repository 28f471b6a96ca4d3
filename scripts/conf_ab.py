"""In-process per-query conf A/B over the 51 headline queries — the only
timing instrument that is valid on this host (OPTIMIZATION_r13.md
environment section: cross-process wall timing measures the host's
page-fault drift, not the plan; alternating a RUNTIME-SETTABLE conf per
query inside one JVM hits both arms with the same drift).

Usage:
  python scripts/conf_ab.py KEY VALUE_A VALUE_B [--sf DIR] [--n N] [--out FILE]

Example (the r13 washes, re-run r14 behind a probed-good window):
  python scripts/conf_ab.py spark.sql.adaptive.advisoryPartitionSizeInBytes 64m 256m
  python scripts/conf_ab.py spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold 0 64m

For each query: build it with conf=A (``_harness.build_arm``), min-of-N
noop-sink runs; the same with conf=B; next query. Reports per-query
(a_sec, b_sec, ratio b/a), median ratio, win counts, and the
fault-probe readings bracketing the run so a drift-contaminated pass is
self-labelling.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from _harness import best_of, build_arm, error_text, host_gate, host_gate_end, warm_up  # noqa: E402

from data_etl_spark.session import build_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("key")
    ap.add_argument("value_a")
    ap.add_argument("value_b")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--out", default="/tmp/conf_ab.json")
    args = ap.parse_args()

    from bench import HEADLINE  # noqa: E402

    gate = host_gate()
    spark = build_session("conf-ab")
    warm_up(spark, HEADLINE)

    def timed(name: str, value: str) -> float:
        return best_of(lambda: build_arm(spark, name, {args.key: value}, args.sf), args.n)

    rows: dict[str, dict] = {}
    for name in HEADLINE:
        try:
            a = timed(name, args.value_a)
            b = timed(name, args.value_b)
        except Exception as exc:
            rows[name] = {"err": error_text(exc)}
            continue
        rows[name] = {"a": a, "b": b, "ratio": round(b / a, 3) if a else None}

    ratios = [r["ratio"] for r in rows.values() if r.get("ratio")]
    out = {
        "what": (
            f"in-process per-query A/B: {args.key} = {args.value_a} (a) vs "
            f"{args.value_b} (b), min-of-{args.n} noop sink, {args.sf}"
        ),
        "median_ratio_b_over_a": round(statistics.median(ratios), 3) if ratios else None,
        "wins_b": sum(1 for r in ratios if r < 1.0),
        "n": len(ratios),
        "total_a": round(sum(r["a"] for r in rows.values() if "a" in r), 2),
        "total_b": round(sum(r["b"] for r in rows.values() if "b" in r), 2),
        "queries": rows,
        **gate,
        **host_gate_end(),
    }
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({k: out[k] for k in (
        "median_ratio_b_over_a", "wins_b", "n", "total_a", "total_b",
        "fault_probe_go", "fault_probe_end")}))
    spark.stop()


if __name__ == "__main__":
    main()
