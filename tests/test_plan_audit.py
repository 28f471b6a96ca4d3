"""Unit tests for the plan-audit BNLJ boundedness classifier
(VERDICT r13 what's-wrong #3 / next #5): the parser must survive the
formatted plan's mixed indentation units (InMemoryRelation subtrees
indent by 6, everything else by 3 — the bug that misparented build
sides on first cut), and the classifier must prove global-aggregate
builds while refusing corpus-scale ones."""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

from plan_audit import _parse_tree, bnl_boundedness  # noqa: E402

_SCALAR_BUILD = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- BroadcastNestedLoopJoin Cross BuildRight (8)
   :- Project (2)
   :  +- Scan parquet  (1)
   +- BroadcastExchange (7)
      +- HashAggregate (6)
         +- Exchange (5)
            +- HashAggregate (4)
               +- Scan parquet  (3)

(1) Scan parquet
Output [1]: [a#1L]

(3) Scan parquet
Output [1]: [b#2L]

(4) HashAggregate
Keys: []
Functions [1]: [partial_count(1)]

(6) HashAggregate
Keys: []
Functions [1]: [count(1)]

(8) BroadcastNestedLoopJoin
Join type: Cross
Join condition: None
"""

_CORPUS_BUILD = _SCALAR_BUILD.replace("Keys: []", "Keys: [k#9L]")

# the build side behind an InMemoryRelation, whose subtree indents by 6:
# the naive depth = len(prefix)//3 rule misparents the sibling that
# follows it
_CACHED_BUILD = """== Physical Plan ==
AdaptiveSparkPlan (12)
+- BroadcastNestedLoopJoin Cross BuildRight (11)
   :- Project (2)
   :  +- Scan parquet  (1)
   +- BroadcastExchange (10)
      +- InMemoryTableScan (3)
            +- InMemoryRelation (4)
                  +- AdaptiveSparkPlan (9)
                     +- HashAggregate (8)
                        +- Exchange (7)
                           +- HashAggregate (6)
                              +- Scan parquet  (5)

(6) HashAggregate
Keys: []
Functions [1]: [partial_count(1)]

(8) HashAggregate
Keys: []
Functions [1]: [count(1)]

(11) BroadcastNestedLoopJoin
Join type: Cross
Join condition: None
"""


def test_parse_tree_handles_mixed_indent_units():
    nodes = _parse_tree(_CACHED_BUILD)
    by_id = {n["id"]: n for n in nodes}
    bnlj = by_id[11]
    # the build side must be the BroadcastExchange, NOT a misparented
    # grandchild of the probe-side scan
    assert [c["id"] for c in bnlj["children"]] == [2, 10]
    assert by_id[4]["children"][0]["id"] == 9


def test_global_aggregate_build_is_bounded():
    assert bnl_boundedness(_SCALAR_BUILD) == (1, 0)


def test_keyed_aggregate_build_is_unproven():
    assert bnl_boundedness(_CORPUS_BUILD) == (0, 1)


def test_cached_global_aggregate_build_is_bounded():
    assert bnl_boundedness(_CACHED_BUILD) == (1, 0)


# an explode over a global collect_list: the aggregate is one row, but
# the Generate above it re-expands that row to the whole input
_EXPLODED_GLOBAL_LIST_BUILD = """== Physical Plan ==
AdaptiveSparkPlan (10)
+- BroadcastNestedLoopJoin Cross BuildRight (9)
   :- Project (2)
   :  +- Scan parquet  (1)
   +- BroadcastExchange (8)
      +- Generate (7)
         +- ObjectHashAggregate (6)
            +- Exchange (5)
               +- ObjectHashAggregate (4)
                  +- Scan parquet  (3)

(4) ObjectHashAggregate
Keys: []
Functions [1]: [partial_collect_list(b#2L, 0, 0)]

(6) ObjectHashAggregate
Keys: []
Functions [1]: [collect_list(b#2L, 0, 0)]

(7) Generate
Input [1]: [bs#5]
Arguments: explode(bs#5), false, [b#6L]

(9) BroadcastNestedLoopJoin
Join type: Cross
Join condition: None
"""


def test_explode_of_global_aggregate_build_is_unproven():
    assert bnl_boundedness(_EXPLODED_GLOBAL_LIST_BUILD) == (0, 1)


# the tree of q_bpe_encode's formatted plan after collect() (sf0.001):
# codegen markers (`* `), query stages with a `, Statistics(...)` suffix,
# and Final/Initial sections, nested under InMemoryRelation at columns
# unrelated to their owner's; one BNLJ ran, drawn in the final plan
_EXECUTED = (Path(__file__).parent / "data" / "executed_plan_q_bpe_encode.txt").read_text()


def test_executed_adaptive_plan_is_read_from_its_final_plan():
    nodes = _parse_tree(_EXECUTED)
    by_id = {n["id"]: n for n in nodes}
    bnlj = [n for n in nodes if n["name"].startswith("BroadcastNestedLoopJoin")]
    # the one that ran, once, with its probe and its query-stage build side
    assert [(n["id"], [c["id"] for c in n["children"]]) for n in bnlj] == [(38, [13, 37])]
    assert [c["id"] for c in by_id[39]["children"]] == [38]
    # the cached plan's final root hangs under its AdaptiveSparkPlan
    assert [c["id"] for c in by_id[33]["children"]] == [26]
    assert bnl_boundedness(_EXECUTED) == (1, 0)
    # and the bound is proven from that build side: without its limit
    # the same tree is unproven
    unbounded = _EXECUTED.replace("TakeOrderedAndProject (25)", "Project (25)")
    assert bnl_boundedness(unbounded) == (0, 1)
