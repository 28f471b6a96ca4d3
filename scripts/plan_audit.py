"""Registry-wide physical-plan audit — the round-13 checklist backstop.

For EVERY registry query, builds the DataFrame (plan only, no job) and
records the shape counters the optimization guide says to look for
(guide §7.2): Exchange count, join strategies, Python-boundary nodes
(BatchEvalPython / ArrowEvalPython — row-at-a-time UDFs are banned on
query paths), CartesianProduct, partition-free windows, and whether the
scan carries PushedFilters. One JSON line per query to the output file,
plus a summary to stdout.

Usage: python scripts/plan_audit.py [out.json] [--sf DIR]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from data_etl_spark.cache import release_tracked  # noqa: E402
from data_etl_spark.plans import REGISTRY  # noqa: E402
from data_etl_spark.session import build_session  # noqa: E402


#: operators that forward their single child's row bound unchanged (or
#: shrink it): classification looks through these
_PASS_THROUGH = (
    "BroadcastExchange",
    "Exchange",
    "AQEShuffleRead",
    "Project",
    "Filter",
    "Sort",
    "ColumnarToRow",
    "WholeStageCodegen",
    "InputAdapter",
    "Coalesce",
    "AdaptiveSparkPlan",
    "InMemoryTableScan",  # cached: cardinality = the cached child plan's
    "InMemoryRelation",
    "ResultQueryStage",
    "BroadcastQueryStage",
    "ShuffleQueryStage",
    "TableCacheQueryStage",
    # not Generate: an explode multiplies its input by the array length,
    # and one row holding a collect_list of the corpus explodes back to
    # the corpus
    "Expand",
    "Window",
)
#: operators that bound their output at O(1)/O(k) rows regardless of input
_BOUNDING = ("GlobalLimit", "CollectLimit", "LocalLimit", "TakeOrderedAndProject")
_AGGS = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")


#: a tree line's drawing prefix, and the node after it: ``* `` marks a
#: codegen'd node of an executed plan, and text after the id (a query
#: stage's ``, Statistics(...)``, a scan's ``(columnarIn=...)``) is dropped
_TREE_LINE = re.compile(r"^([ :+|-]*)(?:\* )?([A-Za-z][\w .]*?)\s*\((\d+)\)(?:[ ,].*)?$")
_SECTION = re.compile(r"^\s*\+- == (Final|Current|Initial) Plan ==")


def _may_parent(parent: dict, node: dict) -> bool:
    """Operator ids number a plan in post-order, so a child's id is below
    its parent's; a cached relation and its plan are numbered on their
    own."""
    return node["id"] < parent["id"] or parent["name"].startswith("InMemory")


def _parse_tree(plan: str) -> list[dict]:
    """Parse the formatted plan's tree section into nodes with
    (id, name, depth, children). Depth derives from the 3-char
    tree-drawing prefix (`+- `, `:- `, `:  `, `   `).

    An executed adaptive plan draws its ``AdaptiveSparkPlan`` node
    followed by two sections, ``== Final Plan ==`` (what ran) and
    ``== Initial Plan ==``, each a tree drawn from its own column. A
    section nested in another (an executed plan cached under an
    ``InMemoryRelation``) starts from a column unrelated to its owner's,
    so lines are read in frames: the final section's root becomes the
    ``AdaptiveSparkPlan``'s child, the initial section is skipped (every
    operator counts once, under the parent it ran under), and a line
    belongs to the innermost frame whose column it is indented to with
    blanks only and that holds a node that can be its parent: drawn 3
    columns left (6 under an ``InMemoryRelation``), with a higher id."""
    nodes: list[dict] = []
    frames: list[dict] = []
    for line in plan.splitlines():
        # tree sections: the main plan plus one per subquery (subquery
        # trees host BNLJs too — bounded scalar subqueries); each runs
        # until its first blank line
        if line.startswith("== Physical Plan ==") or re.match(r"^Subquery:\d+", line):
            frames = [{"base": 0, "stack": [], "owner": None, "skip": False}]
            continue
        if not line.strip():
            frames = []
            continue
        if not frames:
            continue
        sec = _SECTION.match(line)
        if sec:
            base = line.index("==")
            if sec.group(1) == "Initial":
                # the owner's final section is done: close it and what it held
                while len(frames) > 1 and frames[-1]["base"] != base:
                    frames.pop()
                if len(frames) > 1:
                    frames[-1].update(stack=[], skip=True)
                else:
                    frames.append({"base": base, "stack": [], "owner": None, "skip": True})
            else:
                owner = frames[-1]["stack"][-1] if frames[-1]["stack"] else None
                frames.append({"base": base, "stack": [], "owner": owner, "skip": frames[-1]["skip"]})
            continue
        m = _TREE_LINE.match(line)
        if not m:
            continue
        plen = len(m.group(1))
        node = {"id": int(m.group(3)), "name": m.group(2).strip(), "plen": plen, "children": []}
        while len(frames) > 1:
            f = frames[-1]
            kept = [n for n in f["stack"] if n["plen"] < plen]
            if not line[: f["base"]].strip() and (
                (not f["stack"] and plen == f["base"])
                or (kept and plen - kept[-1]["plen"] in (3, 6) and _may_parent(kept[-1], node))
            ):
                break
            frames.pop()
        f = frames[-1]
        # indentation units are NOT uniform (InMemoryRelation subtrees
        # indent by 6, everything else by 3), so depth cannot be
        # prefix//3; parent = nearest stack entry with a strictly
        # shorter prefix
        while f["stack"] and f["stack"][-1]["plen"] >= plen:
            f["stack"].pop()
        parent = f["stack"][-1] if f["stack"] else f["owner"]
        f["stack"].append(node)
        if f["skip"]:
            continue
        if parent is not None:
            parent["children"].append(node)
        nodes.append(node)
    return nodes


def _details(plan: str) -> dict[int, str]:
    """Map operator id -> its details block from the formatted plan."""
    out: dict[int, str] = {}
    cur_id = None
    buf: list[str] = []
    for line in plan.splitlines():
        m = re.match(r"^\((\d+)\) ", line)
        if m:
            if cur_id is not None:
                out[cur_id] = "\n".join(buf)
            cur_id = int(m.group(1))
            buf = [line]
        elif cur_id is not None:
            buf.append(line)
    if cur_id is not None:
        out[cur_id] = "\n".join(buf)
    return out


def _subtree_bounded(node: dict, details: dict[int, str], by_id: dict[int, dict]) -> bool:
    """True iff the subtree provably emits O(1)/O(k) rows: a keyless
    (global) aggregate, an explicit limit, a tiny local relation, or a
    join/union ALL of whose inputs are such. Conservative: any operator
    not recognized (scans, keyed aggregates, cached corpus relations)
    classifies the subtree UNBOUNDED."""
    name = node["name"]
    if name.startswith(_BOUNDING):
        return True
    if name.startswith(_AGGS):
        det = details.get(node["id"], "")
        if "Keys: []" in det:
            return True  # global aggregate: exactly one row
        # keyed aggregate: cardinality follows the key domain -> not provable
        return all(_subtree_bounded(c, details, by_id) for c in node["children"])
    if name.startswith("ReusedExchange"):
        det = details.get(node["id"], "")
        m = re.search(r"Reuses operator id: (\d+)", det)
        ref = by_id.get(int(m.group(1))) if m else None
        return _subtree_bounded(ref, details, by_id) if ref else False
    if name.startswith("LocalTableScan") or name.startswith("Scan OneRowRelation"):
        return True
    if name.startswith("Range"):
        det = details.get(node["id"], "")
        m = re.search(r"Range \(0, (\d+)", det)
        return bool(m and int(m.group(1)) <= 10000)
    if name.startswith(_PASS_THROUGH):
        return all(_subtree_bounded(c, details, by_id) for c in node["children"])
    if "Join" in name or name.startswith("CartesianProduct") or name.startswith("Union"):
        # bounded x bounded stays bounded (k*k rows); anything touching
        # an unbounded side is unbounded
        return all(_subtree_bounded(c, details, by_id) for c in node["children"])
    return False  # scans, Python/Arrow evals, windows over corpus, unknown ops


#: BNLJ build sides that are k-row BY DATA CONTRACT rather than provable
#: from plan text alone (the classifier proves global aggregates, limits
#: and local relations; these builds are bounded by a registered cap or
#: a key domain that only the code knows). Audited by hand r14 — each
#: entry names the bounding construct; an unproven BNLJ in a query NOT
#: listed here fails the audit.
BNL_DOCUMENTED_BOUNDED = {
    # kNN family: the build is the registered QUERY set — a constant-id
    # range pushed into the scan (vec_id<10 / doc_id<5 / the IVF probe
    # id window), <= 10 rows by the fixture contract.
    "q_knn_exact": "query set: PushedFilters LessThan(vec_id,10)",
    "q_knn_auto": "query set: PushedFilters LessThan(vec_id,10)",
    "q_ivf_knn": "query set: PushedFilters LessThan(vec_id,10)",
    "q_ivf_multiprobe": "probe set: constant vec_id id-window filter",
    "q_ivf_recall": "probe set: constant vec_id id-window filter",
    "q_pq_knn": "probe set: constant vec_id id-window filter",
    "q_sq_knn": "query set: PushedFilters LessThan(vec_id,10)",
    "q_hybrid_rrf": "query sets: LessThan(vec_id,10) + LessThan(doc_id,5)",
    # bucketed two-pass rank/cumsum family (operators/rank.py): the
    # build is the bucket-boundary sketch — a keyed aggregate whose key
    # domain is n_buckets (= shuffle.partitions) by construction.
    "q_equidepth_bins": "bucket-boundary sketch: <= n_buckets rows",
    "q_rfm_segments": "bucket-boundary sketch: <= n_buckets rows",
    "q_quality_percentiles": "bucket-boundary sketch: <= n_buckets rows",
    "q_zone_map_eval": "bucket-boundary sketch: <= n_buckets rows",
    "q_pack_global": "bucket-boundary sketch: <= n_buckets rows",
    "q_interval_sweep": "shared boundary sketch: <= n_buckets rows",
    # others, audited individually
    "q_semantic_dedup": "IVF centroid table: k-means k rows (operators/kmeans.py)",
    "q_survival_curve": "life table: <= horizon+1 = 15 rows",
    "q_locf_backfill": "hour spine: explode(sequence(min ts, max ts, 1 h)), one row per hour of the event time span",
}


def bnl_boundedness(plan: str) -> tuple[int, int]:
    """(bounded, unbounded) BroadcastNestedLoopJoin node counts — the
    machine check behind the checklist claim 'every BNLJ build side is a
    bounded scalar/k-row relation' (VERDICT r13 what's-wrong #3: the
    string count in earlier audits counted tree+details lines and
    nothing verified the build side)."""
    nodes = _parse_tree(plan)
    details = _details(plan)
    by_id = {n["id"]: n for n in nodes}
    bounded = unbounded = 0
    for n in nodes:
        if not n["name"].startswith("BroadcastNestedLoopJoin"):
            continue
        # build side: 'BuildRight' -> second child, 'BuildLeft' -> first;
        # a Cross BNLJ with no marker broadcasts the right side
        det = details.get(n["id"], "") + " " + n["name"]
        side = 0 if "BuildLeft" in det else 1
        kids = n["children"]
        build = kids[side] if len(kids) > side else (kids[0] if kids else None)
        # the BUILD side must be bounded: it is collected to the driver
        # and replicated to every task, and the nested loop costs
        # |probe| x |build| — a corpus-scale build side is the 100 TB
        # scale-killer this check exists to catch
        ok = build is not None and _subtree_bounded(build, details, by_id)
        if ok:
            bounded += 1
        else:
            unbounded += 1
    return bounded, unbounded


def shape(plan: str) -> dict:
    bnl = bnl_boundedness(plan)
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcast_hash_join": plan.count("BroadcastHashJoin"),
        "sort_merge_join": plan.count("SortMergeJoin"),
        "shuffled_hash_join": plan.count("ShuffledHashJoin"),
        "batch_eval_python": plan.count("BatchEvalPython"),
        "arrow_eval_python": plan.count("ArrowEvalPython"),
        "map_in_arrow": plan.count("MapInArrow") + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas") + plan.count("FlatMapGroupsInArrow"),
        "cartesian": plan.count("CartesianProduct"),
        "bnl_join": plan.count("BroadcastNestedLoopJoin"),
        # node-level boundedness check (the string count above counts
        # tree+details lines, i.e. ~2x the node count)
        "bnl_bounded": bnl[0],
        "bnl_unbounded": bnl[1],
        "window_unpartitioned": len(
            re.findall(r"Window \[[^\]]*\], \[\]", plan)
        ),
        "pushed_filters": bool(
            re.search(r"PushedFilters: \[(?!\])", plan)
        ),
        "codegen_spans": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
    }


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "/tmp/plan_audit.json"
    sf_dir = "/root/testdata/sf0.001"
    if "--sf" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf") + 1]
    spark = build_session("plan-audit")
    rows = {}
    errors = {}
    for name in sorted(REGISTRY):
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # audit must cover the whole registry
            errors[name] = repr(exc)[:200]
            continue
        finally:
            # each query's own plan: an earlier query's materialized
            # persists would otherwise be substituted into it
            release_tracked()
        rows[name] = shape(plan)
    with open(out_path, "w") as fh:
        json.dump(
            {
                "sf_dir": sf_dir,
                "queries": rows,
                "errors": errors,
                "bnl_documented_bounded": BNL_DOCUMENTED_BOUNDED,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
    # summary: the anti-pattern lines the checklist needs
    n = len(rows)
    flat = [k for k, v in rows.items() if v["exchanges"] == 0]
    py_rowwise = {k: v["batch_eval_python"] for k, v in rows.items() if v["batch_eval_python"]}
    arrow = {k: v["arrow_eval_python"] + v["map_in_arrow"] for k, v in rows.items() if v["arrow_eval_python"] or v["map_in_arrow"]}
    cart = [k for k, v in rows.items() if v["cartesian"]]
    bnl_documented = {
        k: v["bnl_unbounded"]
        for k, v in rows.items()
        if v["bnl_unbounded"] and k in BNL_DOCUMENTED_BOUNDED
    }
    bnl_unbounded = {
        k: v["bnl_unbounded"]
        for k, v in rows.items()
        if v["bnl_unbounded"] and k not in BNL_DOCUMENTED_BOUNDED
    }
    bnl_stale_allow = sorted(
        k for k in BNL_DOCUMENTED_BOUNDED
        if k in rows and not rows[k]["bnl_unbounded"]
    )
    bnl_bounded_n = sum(v["bnl_bounded"] for v in rows.values())
    nowin = [k for k, v in rows.items() if v["window_unpartitioned"]]
    heavy = sorted(rows.items(), key=lambda kv: -kv[1]["exchanges"])[:15]
    print(f"audited {n} queries, {len(errors)} errors -> {out_path}")
    print(f"zero-exchange plans: {len(flat)}")
    print(f"BatchEvalPython (row-at-a-time Python): {py_rowwise or 'NONE'}")
    print(f"Arrow-boundary queries: {len(arrow)}: {sorted(arrow)}")
    print(f"Cartesian joins: {cart or 'NONE'}")
    print(
        f"BroadcastNestedLoopJoin nodes: {bnl_bounded_n} proven-bounded, "
        f"{sum(bnl_documented.values())} documented-bounded "
        f"({sorted(bnl_documented)}), UNBOUNDED: {bnl_unbounded or 'NONE'}"
    )
    if bnl_stale_allow:
        print(f"stale BNL allowlist entries (no unproven BNLJ left): {bnl_stale_allow}")
    print(f"partition-free windows: {nowin or 'NONE'}")
    print("most exchanges:")
    for k, v in heavy:
        print(f"  {v['exchanges']:3d}  {k}  (smj={v['sort_merge_join']} bhj={v['broadcast_hash_join']})")
    if errors:
        print("ERRORS:", json.dumps(errors, indent=1))
        return 1
    if bnl_unbounded:
        print("FAIL: BroadcastNestedLoopJoin with unproven build-side bound")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
