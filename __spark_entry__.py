"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over ``data_etl_spark.plans.REGISTRY`` — every operator
implemented from SURVEY.md §2 registers itself there with both a PySpark
DataFrame callable and (when SQL-expressible) a DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_etl_spark.plans import REGISTRY  # noqa: E402

FLAGSHIP = "q_chunk_pipeline"

# The driver records correctness rows for at most 50 queries per round;
# the full registry (len(data_etl_spark.plans.REGISTRY); 194 as of round
# 5) is every one oracle-tested locally in tests/test_oracle.py
# (sf0.001 exact values) and scripts/driver_sim.py (sf0.01 driver
# replica). The <=50-name window rotates automatically
# (see _driver_window): unchecked names first, then this round's touched
# queries, then alphabetical re-verification refill.

_WINDOW_CAP = 50
#: refill slots reserved for least-recently-verified rotation even when
#: a wide helper edit drifts much of the registry (see _driver_window)
_LRV_FLOOR = 10
#: max rounds a green name may sit outside the window before its
#: evidence counts as stale (WINDOW_STALENESS.json's enforced bound).
#: Any green whose staleness would EXCEED this if skipped gets a
#: mandatory "urgent" refill slot ahead of the drift tier — the bound
#: is a contract the build enforces, not a report it hopes about.
_STALENESS_BOUND = 6

# Per-round rotation budgets (VERDICT r11 #2, re-derived r13): with
# 222 names cycling through a 50-slot window, staleness feasibility is
# arithmetic, not luck. Steady-state LRV throughput must cover
# ~(N-50)/bound ≈ 29 names/round; the round-12 budgets (15 touched,
# 6 new) left only 28 refill slots in the adversarial case and the
# REAL r13 window build projected 19 names at staleness 7 — so r13
# cuts both budgets and adds the urgent tier. The simulator in
# tests/test_entry_contract.py seeds from the real evidence and steps
# the worst case forward (touched slots to the youngest greens, the
# post-floor drift tier also adversarially young, urgent tier honored);
# at (10 touched, 2 new) the <=6 bound holds across the horizon, and
# these budgets are ENFORCED per round: a 3rd new query or an 11th
# touched green fails the feasibility test before the driver ever
# builds the window. Consequence adopted from VERDICT r12 #2: the
# registry is feature-frozen to <=2 net new names/round; operator
# budget goes to consolidation and scale work instead.
_TOUCHED_GREENS_BUDGET = 10
_NEW_QUERIES_BUDGET = 2

# Queries whose Spark plan or oracle changed, KEYED BY ROUND: the window
# refill re-verifies the current round's entries before alphabetically-
# fresh greens. The key is the round being built (max recorded round + 1),
# so entries auto-expire when the next CORRECTNESS_r*.json lands — no
# manual reset needed; just add a new key each round. Only the round
# being built is read, so expired keys are deleted (git history keeps
# them).
_TOUCHED_BY_ROUND: dict[int, frozenset] = {}
_TOUCHED_BY_ROUND[15] = frozenset({
    # r15: one top-k retrieval kernel (operators/knn.py). q_hybrid_rrf
    # now runs the RRF operator ETLPipeline.hybrid_search shares; its
    # dense leg is exact_knn (per-vector norms + cosine_pre, bit-
    # identical to cosine). Rows identical (sf0.001 + sf0.01
    # oracle-exact), optimized plan changed, re-verify:
    "q_hybrid_rrf",
    # r15: operators/dedup.py::shared_seed_pairs builds its per-doc seed
    # array through map_from_entries, so a repeated (doc, seed) row
    # raises instead of pairing equal seeds. Rows identical (sf0.01),
    # optimized plan changed (the array fields are key/value), re-verify:
    "q_dup_triangles",
    "q_pagerank_dupgraph",
    # r15: the retrieval operators (operators/knn.py, ivf.py, planner.py)
    # score only with the JVM expression kernels; each plan below swaps
    # an ArrowEvalPython node for the expression fold, rows identical
    # (oracle-exact at sf0.01 and sf0.1), re-verify:
    "q_knn_exact",  # exact_knn: cosine_pre instead of seq_cosine_pre
    "q_ivf_knn",  # assign_cells: l2sq; cell_knn: cosine
    "q_ivf_multiprobe",  # the same two kernels, nprobe=2
    "q_ivf_recall",  # exact_knn and q_ivf_knn's kernels
    "q_sq_knn",  # both exact_knn legs: cosine_pre
    "q_pq_knn",  # inline codeword argmin: l2sq; both exact_knn legs
    "q_knn_auto",  # auto_knn: cosine_pre (exact), l2sq and cosine (IVF)
})


def _current_touched() -> frozenset:
    import glob as _glob
    import re as _re

    repo_dir = os.path.dirname(os.path.abspath(__file__))
    recorded = [
        int(m.group(1))
        for p in _glob.glob(os.path.join(repo_dir, "CORRECTNESS_r*.json"))
        if (m := _re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    building = (max(recorded) + 1) if recorded else 1
    return _TOUCHED_BY_ROUND.get(building, frozenset())


#: the round-in-progress's touched set (empty once its round is recorded)
_TOUCHED_THIS_ROUND = _current_touched()


def _driver_rows(repo_dir: str) -> dict[str, tuple[int, bool]]:
    """Per-name driver evidence from CORRECTNESS_r*.json files:
    name -> (last round with any recorded row, ever checked).

    "Checked" = hash-green in some round, or recorded rows-only while
    the registry STILL has no oracle for it (a query upgraded to
    oracle-backed since its rows-only row — e.g. q_bm25 after round 1 —
    counts as unchecked so its new hash check gets driver-exposed).
    Hash MISMATCHES stay unchecked so a fixed query re-enters."""
    import glob
    import json
    import re

    rows_by_name: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(repo_dir, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        round_no = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            ok = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and name in REGISTRY
                and REGISTRY[name].oracle is None
            )
            last, was_ok = rows_by_name.get(name, (0, False))
            rows_by_name[name] = (max(last, round_no), was_ok or ok)
    return rows_by_name


#: manifest recording each query's helper fingerprint when it last held
#: a window slot (VERDICT r7, next #5): {name: {"round": N, "fp": hex}}
_FP_MANIFEST = ".driver_fingerprints.json"


def _query_fingerprint_map() -> dict[str, str]:
    """name -> md5 over the query module's source PLUS the package
    modules it imports (one static-import hop into data_etl_spark.*,
    which covers the functions/ and operators/ helpers every plan leans
    on). A changed helper flips the fingerprint of every query whose
    module imports it, so the refill can re-verify exactly the greens
    whose code paths moved — without a Spark session at window-build
    time."""
    import ast
    import hashlib
    import importlib.util
    import sys as _sys

    spec_cache: dict[str, str | None] = {}

    def _spec_path(mod: str) -> str | None:
        if mod not in spec_cache:
            try:
                spec = importlib.util.find_spec(mod)
                spec_cache[mod] = spec.origin if spec else None
            except (ImportError, ValueError, AttributeError):
                spec_cache[mod] = None
        return spec_cache[mod]

    file_hash: dict[str, str] = {}

    def _hash_file(path: str) -> str:
        if path not in file_hash:
            try:
                with open(path, "rb") as f:
                    file_hash[path] = hashlib.md5(f.read()).hexdigest()
            except OSError:
                file_hash[path] = "?"
        return file_hash[path]

    mod_deps: dict[str, list[str]] = {}

    def _deps(mod_name: str) -> list[str]:
        if mod_name in mod_deps:
            return mod_deps[mod_name]
        mod = _sys.modules.get(mod_name)
        path = getattr(mod, "__file__", None)
        if not path:
            mod_deps[mod_name] = []
            return []
        files = [path]
        try:
            with open(path, "rb") as f:
                tree = ast.parse(f.read())
        except (OSError, SyntaxError):
            tree = None
        if tree is not None:
            pkg = mod_name.rsplit(".", 1)[0] if "." in mod_name else mod_name
            for node in ast.walk(tree):
                target = None
                if isinstance(node, ast.ImportFrom) and node.module is not None:
                    if node.level:  # relative: resolve against the package
                        base = mod_name.split(".")
                        target = ".".join(base[: -node.level] + [node.module])
                    elif node.module.startswith("data_etl_spark"):
                        target = node.module
                elif isinstance(node, ast.ImportFrom) and node.level:
                    target = pkg
                if target:
                    # find_spec, not sys.modules: lazily-imported helpers
                    # (the `from ..operators.x import y` inside query
                    # bodies) are not imported at window-build time
                    dep_path = _spec_path(target)
                    if dep_path:
                        files.append(dep_path)
                    # `from ..operators import dedup` names the MODULE in
                    # the alias list, not in node.module — resolving only
                    # the package hashed operators/__init__.py and missed
                    # operators/dedup.py entirely, so helper edits there
                    # never drifted their plans/ consumers (round-10 hole,
                    # same class as the r8 q_dup_triangles gap). Try each
                    # alias as a submodule; non-module names just miss.
                    for alias in node.names:
                        if alias.name == "*":
                            continue
                        sub_path = _spec_path(f"{target}.{alias.name}")
                        if sub_path:
                            files.append(sub_path)
        mod_deps[mod_name] = sorted(set(files))
        return mod_deps[mod_name]

    out = {}
    for name, q in REGISTRY.items():
        h = hashlib.md5()
        for path in _deps(q.fn.__module__):
            h.update(_hash_file(path).encode())
        out[name] = h.hexdigest()
    return out


def _load_fp_manifest(repo_dir: str) -> dict:
    import json

    try:
        with open(os.path.join(repo_dir, _FP_MANIFEST)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _record_fp_manifest(repo_dir: str, window: list[str], fps: dict[str, str], building: int) -> None:
    import json

    # Local simulations (driver_sim, ad-hoc imports) set this to build
    # the window WITHOUT persisting it: recording fingerprints consumes
    # the drift signal, so a mid-round driver_sim run would mark drifted
    # queries round-N-verified before the real driver ever hashed them —
    # the round-10 rediscovery of the r8 q_dup_triangles gap, this time
    # caused by tooling instead of timing.
    if os.environ.get("SPARK_GRAFT_WINDOW_READONLY"):
        return

    manifest = _load_fp_manifest(repo_dir)
    for n in window:
        manifest[n] = {"round": building, "fp": fps.get(n, "?")}
    # Names never yet windowed get a round-0 baseline fingerprint NOW:
    # without one, _helper_drifted can never fire for them, so a plan
    # rewritten between two window builds could silently dodge
    # re-verification forever (the r8 q_dup_triangles gap — VERDICT r8
    # #5). With the baseline, the next code change flips the drift bit.
    for n in REGISTRY:
        if n not in manifest:
            manifest[n] = {"round": 0, "fp": fps.get(n, "?")}
    tmp = os.path.join(repo_dir, _FP_MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=0, sort_keys=True)
    os.replace(tmp, os.path.join(repo_dir, _FP_MANIFEST))
    _write_staleness_report(repo_dir, window, manifest, building)


#: per-round window-staleness audit (VERDICT r8 #5): name -> last
#: driver-green round, last window slot, whether this build re-exposes
#: it; summary block carries the max/percentile staleness so a human
#: (or the contract test) can see rotation health at a glance.
_STALENESS_REPORT = "WINDOW_STALENESS.json"


def _write_staleness_report(
    repo_dir: str, window: list[str], manifest: dict, building: int
) -> None:
    import json

    evidence = _driver_rows(repo_dir)
    rows = {}
    for n in sorted(REGISTRY):
        last_round, ever_green = evidence.get(n, (0, False))
        green_round = last_round if ever_green else 0
        rows[n] = {
            "last_green_round": green_round,
            "green_staleness": (building - green_round) if ever_green else None,
            "last_window_round": manifest.get(n, {}).get("round", 0),
            "in_this_window": n in set(window),
        }
    stales = sorted(
        r["green_staleness"] for r in rows.values()
        if r["green_staleness"] is not None and not r["in_this_window"]
    )
    report = {
        "building_round": building,
        "n_registry": len(REGISTRY),
        "n_window": len(window),
        "max_green_staleness_outside_window": stales[-1] if stales else 0,
        "queries": rows,
    }
    tmp = os.path.join(repo_dir, _STALENESS_REPORT + ".tmp")
    with open(tmp, "w") as f:
        json.dump(report, f, indent=0, sort_keys=True)
    os.replace(tmp, os.path.join(repo_dir, _STALENESS_REPORT))


_WINDOW_CACHE: dict[str, list[str]] = {}


def _load_persisted_window(repo_dir: str, recorded: list[int]) -> list[str] | None:
    """The committed WINDOW_STALENESS.json's window, iff it was built
    for the SAME round this build would target over the SAME registry —
    else None (fresh build). See the reuse note in _driver_window."""
    import json

    building = (max(recorded) + 1) if recorded else 1
    try:
        with open(os.path.join(repo_dir, _STALENESS_REPORT)) as f:
            report = json.load(f)
    except (OSError, ValueError):
        return None
    if report.get("building_round") != building:
        return None
    rows = report.get("queries", {})
    if set(rows) != set(REGISTRY):
        return None  # registry changed since the persisted build
    window = sorted(n for n, r in rows.items() if r.get("in_this_window"))
    if not window or len(window) > _WINDOW_CAP or FLAGSHIP not in window:
        return None
    return window


def _driver_window() -> list[str]:
    """This round's <=50-name exposure: registry names without a
    driver-green row first, least-recently-attempted order
    (never-attempted names before persistent failures, so a >cap backlog
    drains across rounds instead of the same leading names re-occupying
    every slot), topped up with already-green names for re-verification —
    this round's touched queries, then greens whose evidence would
    breach _STALENESS_BOUND if skipped (urgent tier, mandatory), then
    the _LRV_FLOOR stalest greens, then greens whose HELPER code
    changed since their last window slot (fingerprint drift), then
    least-recently-verified freshness.

    Memoized per (process, repo dir): the build RECORDS fingerprints
    into the manifest (consuming the drift signal), so a second uncached
    call could compute a DIFFERENT refill — and the driver calls
    queries() and oracle_sql() separately, which must agree.
    """
    import glob
    import re

    repo_dir = os.path.dirname(os.path.abspath(__file__))
    if repo_dir in _WINDOW_CACHE:
        return _WINDOW_CACHE[repo_dir]
    recorded = [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo_dir, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    # Persisted-window reuse (r13): building the refill CONSUMES the
    # drift signal (_record_fp_manifest records current fingerprints),
    # so a second build on the same tree selects the NEXT drifted batch
    # — the end-of-round sync commit and the driver's own build would
    # expose DIFFERENT windows, and the sync-recorded names would dodge
    # driver verification (the r8 stale-evidence class, process
    # edition). Instead the first build of a round persists its window
    # in WINDOW_STALENESS.json and every later build of the SAME
    # building round (same registry) reuses it verbatim; the reuse
    # auto-expires when the round's CORRECTNESS file lands and
    # `building` advances.
    persisted = _load_persisted_window(repo_dir, recorded)
    if persisted is not None:
        _WINDOW_CACHE[repo_dir] = persisted
        return persisted
    evidence = _driver_rows(repo_dir) if recorded else {}
    unchecked = [n for n in sorted(REGISTRY) if not evidence.get(n, (0, False))[1]]
    # Priority: (0) names that FAILED in the most recent recorded
    # round — fresh driver-visible regressions, likely just fixed,
    # whose red rows must clear before anything else; (1) never-
    # attempted names (alphabetical); (2) older failures last, so a
    # persistently-failing name cannot starve the backlog.
    latest = max(recorded) if recorded else 0

    def prio(n: str) -> tuple:
        last = evidence.get(n, (0, False))[0]
        if recorded and last == latest:
            bucket = 0
        elif last == 0:
            bucket = 1
        else:
            bucket = 2
        return (bucket, last, n)

    unchecked.sort(key=prio)
    window = unchecked[: _WINDOW_CAP - 1]
    if FLAGSHIP not in window:
        window.append(FLAGSHIP)
    # Refill the remaining slots with already-green names for
    # re-verification — (1) queries whose PLANS changed this round
    # (listed in _TOUCHED_THIS_ROUND), so a modified-but-previously-
    # green query can't ride stale evidence through a round (VERDICT
    # r3, next #6); (2) greens whose helper FINGERPRINT drifted since
    # the round they last held a slot — a shared functions/ or
    # operators/ edit re-verifies its consumers even when nobody listed
    # them (VERDICT r7, next #5); (3) LEAST-RECENTLY-VERIFIED greens,
    # so with ~200 names and ~50 slots every green eventually cycles
    # back (VERDICT r5, next #1). Name is the final tiebreak.
    window_set = set(window)
    fps = _query_fingerprint_map()
    manifest = _load_fp_manifest(repo_dir)

    def _helper_drifted(n: str) -> bool:
        rec = manifest.get(n)
        return bool(rec) and rec.get("fp") != fps.get(n)

    greens = [n for n in REGISTRY if n not in window_set]
    remaining = _WINDOW_CAP - len(window)

    def age_key(n: str) -> tuple:
        return (evidence.get(n, (0, False))[0], n)

    building = (max(recorded) + 1) if recorded else 1
    touched = sorted((n for n in greens if n in _TOUCHED_THIS_ROUND), key=age_key)
    rest = sorted((n for n in greens if n not in _TOUCHED_THIS_ROUND), key=age_key)

    # URGENT tier (r13, VERDICT r12 #1): any green that would BREACH
    # _STALENESS_BOUND if left outside this window gets a mandatory
    # slot ahead of the drift tier. Round 12 showed why this must be
    # structural: a wide helper edit drifted 33 recently-green names,
    # the age-sorted drift tier soaked every refill slot past the
    # floor, and the r13 build projected 19 names at staleness 7 > 6.
    # Drift re-verification is best-effort; the staleness bound is a
    # contract, so bound-breaching names preempt it.
    def _stale_if_skipped(n: str) -> int:
        last, ok = evidence.get(n, (0, False))
        return (building - last) if ok else 0

    urgent = [n for n in rest if _stale_if_skipped(n) > _STALENESS_BOUND]
    urgent_set = set(urgent)
    lrv_pool = [n for n in rest if n not in urgent_set]
    # LRV floor: even below the bound, the STALEST untouched greens get
    # reserved slots irrespective of drift status — a drift wave cannot
    # starve rotation, and drifted-but-unpicked names keep their old
    # manifest fingerprint, so they drain over later rounds.
    floor_n = min(_LRV_FLOOR, max(0, remaining - len(touched) - len(urgent)))
    floor_names = lrv_pool[:floor_n]
    floor_set = set(floor_names)
    drifted = [n for n in lrv_pool if n not in floor_set and _helper_drifted(n)]
    others = [n for n in lrv_pool if n not in floor_set and not _helper_drifted(n)]
    window += (touched + urgent + floor_names + drifted + others)[:remaining]
    window = sorted(window)
    _record_fp_manifest(repo_dir, window, fps, building)
    _WINDOW_CACHE[repo_dir] = window
    return window


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The Phase-0 slice (SURVEY.md §7): documents -> normalize (T-chain) ->
    overlapping chunks -> token counts -> per-doc aggregate.
    """
    return REGISTRY[FLAGSHIP].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """This round's driver window (<=50 names; see rotation note above).

    The complete query surface is ``data_etl_spark.plans.REGISTRY`` —
    every entry there is exact-value oracle-tested in tests/test_oracle.py.
    """
    return {name: REGISTRY[name].fn for name in _driver_window()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query in the window.

    Keys absent here (q.oracle is None) are non-SQL-expressible ops —
    the driver records a weaker rows-only check for those.
    """
    return {
        name: REGISTRY[name].oracle
        for name in _driver_window()
        if REGISTRY[name].oracle is not None
    }
