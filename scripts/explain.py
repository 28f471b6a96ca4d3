"""Print the physical plan of any registry query — the plan-audit loop
(`.explain("formatted")`) as a one-liner.

Usage:
  python scripts/explain.py q_shipping_priority
  python scripts/explain.py q_interval_sweep --sf /root/testdata/sf0.01
  python scripts/explain.py q_exact_dedup --mode simple

Greppable follow-ups: `PushedFilters` (scan pushdown), `ReadSchema`
(column pruning), `BroadcastHashJoin` vs `SortMergeJoin`,
`WholeStageCodegen` spans, and the two anti-patterns the test suite
bans registry-wide — `CartesianProduct` and a partition-free `Window`.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from data_etl_spark.plans import REGISTRY  # noqa: E402
from data_etl_spark.session import build_session  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("name", help="registry query name (q_...)")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "formatted", "cost", "codegen"],
    )
    args = ap.parse_args()

    if args.name not in REGISTRY:
        import difflib

        close = difflib.get_close_matches(args.name, REGISTRY, n=5)
        print(f"unknown query {args.name!r}; close: {close}", file=sys.stderr)
        return 2

    spark = build_session("explain")
    df = REGISTRY[args.name].fn(spark, args.sf)
    df.explain(args.mode)
    return 0


if __name__ == "__main__":
    sys.exit(main())
