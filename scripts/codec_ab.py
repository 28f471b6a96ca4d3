"""Shuffle-codec A/B: lz4 (default) vs zstd (guide §2.3/§6), one leg.

``spark.io.compression.codec`` is NOT runtime-settable (core conf, fixed
at JVM start), so the r13 in-process alternation instrument cannot
measure it; the only valid design on this host is PAIRED COLD-JVM legs
behind the page-fault gate (VERDICT r13 next #4). This script runs ONE
leg: gate on the fault probe, start the session with the given codec
(through PYSPARK_SUBMIT_ARGS), warm at sf0.001, then time the 51
headline queries min-of-2 with per-query shuffle-byte accounting, and
append one JSON line to the output file.
A wrapper (or the operator) alternates codecs across legs so slow host
drift hits both codecs symmetrically:

    for i in 1 2 3; do
      python scripts/codec_ab.py lz4  /tmp/sf_dir CODEC_AB.jsonl
      python scripts/codec_ab.py zstd /tmp/sf_dir CODEC_AB.jsonl
    done

Ship zstd only on a reproduced shuffle-byte-weighted win (per-query
deltas weighted by that query's shuffle bytes — a codec can only earn
its CPU where bytes actually cross the shuffle).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from _harness import host_gate, host_gate_end, sweep, warm_up  # noqa: E402
from _stage_metrics import StageMetricsTracker  # noqa: E402

from data_etl_spark.session import build_session  # noqa: E402


def main() -> None:
    codec = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out_path = sys.argv[3] if len(sys.argv) > 3 else "/tmp/codec_ab.jsonl"

    from bench import HEADLINE  # noqa: E402  (same 51-query set as the bench)

    gate = host_gate()
    # a core conf: it must reach the JVM at launch, before build_session()
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--conf spark.io.compression.codec={codec} pyspark-shell"
    spark = build_session(f"codec-ab-{codec}")
    assert spark.conf.get("spark.io.compression.codec") == codec
    warm_up(spark, HEADLINE)

    tracker = StageMetricsTracker(spark)
    timings: dict[str, float] = {}
    shuffle: dict[str, int] = {}
    for name, sec, m, err in sweep(spark, HEADLINE, sf_dir, passes=2, tracker=tracker):
        if err:
            continue
        timings[name] = min(sec, timings.get(name, sec))
        shuffle[name] = max(shuffle.get(name, 0), int(m.get("shuffle_write_bytes", 0)))

    row = {
        "codec": codec,
        "sf_dir": sf_dir,
        "total": round(sum(timings.values()), 3),
        "queries": timings,
        "shuffle_write_bytes": shuffle,
        **gate,
        **host_gate_end(),
    }
    with open(out_path, "a") as fh:
        fh.write(json.dumps(row) + "\n")
    print(json.dumps({k: row[k] for k in ("codec", "total", "fault_probe_go", "fault_probe_end")}))
    spark.stop()


if __name__ == "__main__":
    main()
