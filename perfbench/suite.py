"""Run every workload once and print one row of metrics per workload.

Usage, from the root of the repository:

    python3 perfbench/suite.py --seed 1 --seconds 8

Each workload runs in its own process (``run.py``), which also checks the
program's outputs; the suite exits non-zero if any run fails a check.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest_cold", "retrieval")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    rc = 0
    rows = []
    for w in WORKLOADS:
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        named = next((l for l in lines if l.startswith(f"{w}: ")), f"{w}: no result")
        for l in lines:
            if l.startswith(("CHECK FAILED", "host degraded")):
                print(f"[{w}] {l}")
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            result = {"correct": False}
        if proc.returncode != 0 or not result.get("correct"):
            rc = 1
            sys.stderr.write(proc.stderr[-2000:])
        rows.append((named, result))
    for named, result in rows:
        print(named)
    for (named, result), w in zip(rows, WORKLOADS):
        metrics = result.get("metrics", {})
        print(
            f"{w:12s} correct={result.get('correct')} attempted={result.get('attempted')} "
            f"failed={result.get('failed')} "
            + " ".join(f"{k}={m['value']:.4g}{m['unit']}" for k, m in metrics.items())
        )
    return rc


if __name__ == "__main__":
    sys.exit(main())
