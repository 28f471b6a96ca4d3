"""Driver-contract guards for __spark_entry__: entry() smoke, registry
consistency, and oracle-key discipline (every oracle key exists in
queries(); rows-only queries are the documented minority)."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"doc_id", "n_chunks", "total_tokens"}


def test_queries_and_oracles_consistent():
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
    # rows-only checks stay a small, documented minority
    rows_only = set(qs) - set(os_)
    assert len(rows_only) <= 8, rows_only
    # driver records <=50 correctness rows per round: window must fit
    assert len(qs) <= 50
    # all callables, all non-empty SQL
    assert all(callable(fn) for fn in qs.values())
    assert all(isinstance(sql, str) and sql.strip() for sql in os_.values())


def test_driver_window_rotation():
    """Round-3+ automatic rotation: the live window (driven by the real
    CORRECTNESS_r*.json files in the repo) exposes every name that lacks
    a driver-green row, keeps the flagship, and fits the cap."""
    import os

    from data_etl_spark.plans import REGISTRY

    qs = entry_mod.queries()
    assert set(qs) <= set(REGISTRY)
    assert entry_mod.FLAGSHIP in qs
    repo_dir = os.path.dirname(os.path.abspath(entry_mod.__file__))
    evidence = entry_mod._driver_rows(repo_dir)
    unchecked = [n for n in sorted(REGISTRY) if not evidence.get(n, (0, False))[1]]
    # every not-yet-driver-green name is exposed (as long as they fit)
    if len(unchecked) <= entry_mod._WINDOW_CAP - 1:
        assert set(unchecked) <= set(qs), set(unchecked) - set(qs)
    # full surface stays large even though the window is capped
    assert len(REGISTRY) >= 185


def test_flagship_is_registered():
    assert entry_mod.FLAGSHIP in entry_mod.queries()
    assert entry_mod.FLAGSHIP in entry_mod.oracle_sql()


def test_driver_rows_parses_correctness_files(tmp_path):
    """Round-3+ rotation input: green rows and still-rows-only rows count
    as checked; hash mismatches AND rows-only rows for queries that have
    since gained an oracle (q_bm25 after round 1) stay eligible."""
    import json

    from data_etl_spark.plans import REGISTRY

    # round 8: the registry has no oracle-less queries left —
    # q_anchor_search and q_rect_merge gained invariant-verdict oracles,
    # so their historical rows-only rows must RE-EXPOSE them (same rule
    # that re-exposed q_bm25 after round 1)
    assert all(q.oracle is not None for q in REGISTRY.values())
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "q_anchor_search": {"hash_match": None, "err": "no_oracle"},
                "q_bm25": {"hash_match": None, "err": "no_oracle"},
                "q_cube": {"hash_match": False, "err": None},
            }
        )
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_case_when": {"hash_match": True, "err": None}})
    )
    rows = entry_mod._driver_rows(str(tmp_path))
    assert rows["q_anchor_search"] == (1, False)  # oracle added since -> re-expose
    assert rows["q_bm25"] == (1, False)           # oracle added since -> re-expose
    assert rows["q_cube"] == (1, False)           # mismatch -> re-expose
    assert rows["q_case_when"] == (2, True)


def test_round3_window_rotates_to_unchecked(monkeypatch, tmp_path):
    """When CORRECTNESS_r02.json exists, the window auto-selects names
    without driver-green rows, keeps the flagship, and tops up to the
    cap with re-verification names."""
    import json

    from data_etl_spark.plans import REGISTRY

    names = sorted(REGISTRY)
    green = {n: {"hash_match": True, "err": None} for n in names[:80]}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(green))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({}))
    monkeypatch.setattr(
        entry_mod.os.path, "abspath", lambda _: str(tmp_path / "x.py")
    )
    window = entry_mod._driver_window()
    assert len(window) == entry_mod._WINDOW_CAP
    assert entry_mod.FLAGSHIP in window
    # unchecked names fill the window first (capacity-permitting), in
    # least-recently-attempted order — never-attempted sort by name
    unchecked = [n for n in names[80:]]
    expect = set(unchecked[: entry_mod._WINDOW_CAP - 1])
    assert expect <= set(window)


def test_refill_is_least_recently_verified_first(monkeypatch, tmp_path):
    """Re-verification refill slots go to the STALEST greens, not the
    alphabetically earliest (VERDICT r5, next #1): a name green since r1
    must be re-exposed before one re-verified in r2."""
    import json

    from data_etl_spark.plans import REGISTRY

    names = sorted(REGISTRY)
    # all names green in r1; the alphabetically-first 100 re-verified in r2
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: {"hash_match": True, "err": None} for n in names})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({n: {"hash_match": True, "err": None} for n in names[:100]})
    )
    monkeypatch.setattr(
        entry_mod.os.path, "abspath", lambda _: str(tmp_path / "x.py")
    )
    window = set(entry_mod._driver_window())
    stale = [n for n in names[100:] if n != entry_mod.FLAGSHIP]
    fresh = [n for n in names[:100] if n != entry_mod.FLAGSHIP]
    # with zero unchecked names, refill must draw from the r1-stale tail
    # (minus this round's touched set, which legitimately jumps the queue)
    expected_stale = [n for n in stale if n not in entry_mod._TOUCHED_THIS_ROUND]
    n_free = entry_mod._WINDOW_CAP - 1 - len(
        set(entry_mod._TOUCHED_THIS_ROUND) & set(REGISTRY)
    )
    take = min(n_free, len(expected_stale))
    assert set(expected_stale[:take]) <= window
    # and no alphabetically-early r2-fresh green may displace a stale one
    fresh_untouched = [
        n for n in fresh if n not in entry_mod._TOUCHED_THIS_ROUND
    ]
    if take == n_free and n_free > 0:
        assert not (set(fresh_untouched) & window)


def test_touched_queries_hold_window_slots():
    """Every query modified this round (_TOUCHED_THIS_ROUND) must occupy
    a slot in the ACTUAL current driver window — if registry growth
    displaces one, its changed plan would ride stale driver evidence
    through the round (VERDICT r3, next #6). Fails loudly instead."""
    import __spark_entry__ as E

    window = set(E._driver_window())
    dropped = sorted(set(E._TOUCHED_THIS_ROUND) - window)
    assert not dropped, (
        f"modified-but-green queries displaced from the driver window: "
        f"{dropped} — remove a new registry name or prune _TOUCHED_THIS_ROUND"
    )


def test_refill_prioritizes_helper_drift(monkeypatch, tmp_path):
    """VERDICT r7 #5: a green query whose helper fingerprint drifted
    since its last window slot refills BEFORE fresher-but-undrifted
    greens (and after this round's touched set)."""
    import json

    from data_etl_spark.plans import REGISTRY

    names = sorted(REGISTRY)
    # everything green in r01 -> no unchecked names compete for slots
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: {"hash_match": True, "err": None} for n in names})
    )
    fps = {n: "fp_now" for n in names}
    drifted = names[-1]  # alphabetically last: would lose the old sort
    manifest = {n: {"round": 1, "fp": "fp_now"} for n in names}
    manifest[drifted] = {"round": 1, "fp": "fp_then"}
    (tmp_path / "._ignore").write_text("")
    (tmp_path / ".driver_fingerprints.json").write_text(json.dumps(manifest))

    monkeypatch.setattr(entry_mod, "_query_fingerprint_map", lambda: fps)
    monkeypatch.setattr(entry_mod, "_TOUCHED_THIS_ROUND", frozenset())
    monkeypatch.setattr(
        entry_mod.os.path, "abspath", lambda _: str(tmp_path / "x.py")
    )
    # this test asserts PERSISTENCE (into tmp_path): lift conftest's
    # suite-wide readonly default for the redirected build only
    monkeypatch.delenv("SPARK_GRAFT_WINDOW_READONLY", raising=False)
    window = entry_mod._driver_window()
    assert drifted in window, "helper-drifted green must re-enter the window"
    # and the manifest was re-recorded for the new window at round 2
    rec = json.loads((tmp_path / ".driver_fingerprints.json").read_text())
    assert rec[drifted] == {"round": 2, "fp": "fp_now"}


def test_window_is_stable_across_calls_despite_drift(monkeypatch, tmp_path):
    """queries() and oracle_sql() call _driver_window separately; the
    build consumes the drift signal (it records fingerprints), so
    without per-repo memoization the SECOND call could compute a
    different refill and the two dicts would desync at the driver."""
    import json

    from data_etl_spark.plans import REGISTRY

    names = sorted(REGISTRY)
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: {"hash_match": True, "err": None} for n in names})
    )
    fps = {n: "fp_now" for n in names}
    manifest = {n: {"round": 1, "fp": "fp_now"} for n in names}
    manifest[names[-1]] = {"round": 1, "fp": "fp_then"}  # one drifted green
    (tmp_path / ".driver_fingerprints.json").write_text(json.dumps(manifest))
    monkeypatch.setattr(entry_mod, "_query_fingerprint_map", lambda: fps)
    monkeypatch.setattr(entry_mod, "_TOUCHED_THIS_ROUND", frozenset())
    monkeypatch.setattr(
        entry_mod.os.path, "abspath", lambda _: str(tmp_path / "x.py")
    )
    first = entry_mod._driver_window()
    second = entry_mod._driver_window()
    assert first == second
    assert names[-1] in first


def test_fp_manifest_covers_entire_registry(monkeypatch, tmp_path):
    """VERDICT r8 #5: the r8 q_dup_triangles rewrite dodged drift
    detection because only WINDOW names got fingerprinted — a name never
    windowed since manifesting had no baseline to drift from. After any
    window build, EVERY registry name must appear in the manifest."""
    import json

    from data_etl_spark.plans import REGISTRY

    names = sorted(REGISTRY)
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: {"hash_match": True, "err": None} for n in names})
    )
    monkeypatch.setattr(
        entry_mod.os.path, "abspath", lambda _: str(tmp_path / "x.py")
    )
    # persistence-asserting test: lift the suite-wide readonly default
    # (the build is redirected to tmp_path, so no repo writes)
    monkeypatch.delenv("SPARK_GRAFT_WINDOW_READONLY", raising=False)
    entry_mod._driver_window()
    manifest = json.loads((tmp_path / ".driver_fingerprints.json").read_text())
    assert set(manifest) >= set(REGISTRY)
    # non-window names carry the round-0 baseline (drift-eligible now)
    windowed = set(entry_mod._driver_window())
    baseline = [n for n in names if n not in windowed]
    assert all(manifest[n]["round"] == 0 for n in baseline)


def test_staleness_report_written_and_bounded(monkeypatch, tmp_path):
    """The window build emits WINDOW_STALENESS.json covering every
    registry name, and on the REAL repo evidence no green query outside
    this round's window may be more than _STALENESS_BOUND rounds stale —
    the starvation tripwire the LRV floor exists to keep green.

    (A bound of 4 is arithmetically impossible: ~206 names / 50 slots
    needs >=5 rounds of pure rotation before fresh/touched/drift
    displacement. Ratchet history: 8 -> 7 (VERDICT r9 #4, once the
    staleness-7 tail entered the round-10 window) -> 6 (VERDICT r10 #6;
    the committed r10 report's max outside the window is 5). The
    feasibility simulation (test_rotation_feasibility below) shows <=5
    is NOT sustainable while the registry keeps growing, so 6 is the
    resting bound — since r13 it lives in __spark_entry__ as
    _STALENESS_BOUND and the window build ENFORCES it structurally: a
    green that would breach it gets a mandatory urgent-tier slot.)"""
    import json

    repo_report = json.loads(open("WINDOW_STALENESS.json").read())
    assert (
        repo_report["max_green_staleness_outside_window"]
        <= entry_mod._STALENESS_BOUND
    )
    assert set(repo_report["queries"]) == set(
        __import__("data_etl_spark.plans", fromlist=["REGISTRY"]).REGISTRY
    )


_STALENESS_BOUND = entry_mod._STALENESS_BOUND
_FEASIBILITY_HORIZON = 4


def _simulate_rotation(
    last_green: dict, start_round: int, horizon: int, touched: int, new: int
) -> list:
    """Deterministic worst-case model of _driver_window's refill,
    stepped forward ``horizon`` rounds: per round ``new`` unchecked
    names take priority slots, ``touched`` green slots go adversarially
    to the YOUNGEST greens (a touched set contributes nothing to
    rotation in the worst case), then the URGENT tier (greens whose
    staleness would breach the bound if skipped — mandatory in the real
    build), then the _LRV_FLOOR stalest remaining greens, and every
    slot after that goes adversarially to the YOUNGEST remaining greens
    (a drift wave that re-flags precisely the just-verified cohort
    every round — the r12 failure mode, now modeled instead of assumed
    transient). Returns the projected
    max_green_staleness_outside_window per simulated round."""
    lg = dict(last_green)
    names = set(lg)
    maxes = []
    for b in range(start_round, start_round + horizon):
        fresh = [f"__new_{b}_{i}" for i in range(new)]
        window = list(fresh) + [entry_mod.FLAGSHIP]
        remaining = entry_mod._WINDOW_CAP - len(window)
        pool = [n for n in names if n != entry_mod.FLAGSHIP]
        youngest = sorted(pool, key=lambda n: (-lg[n], n))
        tset = set(youngest[:touched])
        rest = sorted(
            (n for n in pool if n not in tset), key=lambda n: (lg[n], n)
        )
        urgent = [n for n in rest if b - lg[n] > entry_mod._STALENESS_BOUND]
        lrv_pool = [n for n in rest if b - lg[n] <= entry_mod._STALENESS_BOUND]
        floor_n = min(
            entry_mod._LRV_FLOOR,
            max(0, remaining - touched - len(urgent)),
        )
        floor_names = lrv_pool[:floor_n]
        drift_adversarial = sorted(
            lrv_pool[floor_n:], key=lambda n: (-lg[n], n)
        )
        window += (
            youngest[:touched] + urgent + floor_names + drift_adversarial
        )[:remaining]
        wset = set(window)
        outside = [b - lg[n] for n in names if n not in wset]
        maxes.append(max(outside) if outside else 0)
        for n in wset & names:
            lg[n] = b
        for n in fresh:
            lg[n] = b
            names.add(n)
    return maxes


def test_rotation_feasibility():
    """VERDICT r11 #2: rotation feasibility is COMPUTED, not discovered
    by the staleness assertion failing after the driver has already
    built an over-stale window. Three layers:

    (1) THIS round's real window (the exact _driver_window build,
        readonly) projects a staleness report within the bound — the
        same check the driver's post-round report will record, run
        before the round ships.
    (2) The forward simulation seeded from real evidence stays within
        the bound for _FEASIBILITY_HORIZON rounds at the declared
        budgets — growth that makes the NEXT round infeasible fails
        here first, pointing at the budget constants.
    (3) The current round's actual touched/new load fits the budgets
        the simulation assumed (the enforcement half: a 7th new query
        or a 16th touched green shows up as a failure here, not as a
        surprise staleness breach two rounds later).
    """
    import glob
    import re

    from data_etl_spark.plans import REGISTRY

    recorded = [
        int(m.group(1))
        for p in glob.glob("CORRECTNESS_r*.json")
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    building = (max(recorded) + 1) if recorded else 1
    evidence = entry_mod._driver_rows(".")
    last_green = {
        n: evidence[n][0]
        for n in REGISTRY
        if evidence.get(n, (0, False))[1]
    }
    if not last_green:  # fresh clone without driver evidence
        return

    # (1) exact projection of this round's report
    window = set(entry_mod._driver_window())
    outside = [
        building - lg for n, lg in last_green.items() if n not in window
    ] or [0]  # every green fits inside the window on small registries
    assert max(outside) <= _STALENESS_BOUND, (
        f"this round's window projects staleness {max(outside)} > "
        f"{_STALENESS_BOUND}: too many new/touched names displaced the "
        "LRV refill"
    )

    # (2) forward feasibility at the declared budgets
    maxes = _simulate_rotation(
        last_green,
        building,
        _FEASIBILITY_HORIZON,
        entry_mod._TOUCHED_GREENS_BUDGET,
        entry_mod._NEW_QUERIES_BUDGET,
    )
    assert all(m <= _STALENESS_BOUND for m in maxes), (
        f"budgets ({entry_mod._TOUCHED_GREENS_BUDGET} touched, "
        f"{entry_mod._NEW_QUERIES_BUDGET} new)/round project staleness "
        f"{maxes} over the next {_FEASIBILITY_HORIZON} rounds — raise "
        "_LRV_FLOOR or cut the budgets"
    )

    # (3) this round's actual load fits the simulated budgets
    touched_greens = [
        n for n in entry_mod._TOUCHED_THIS_ROUND if n in last_green
    ]
    assert len(touched_greens) <= entry_mod._TOUCHED_GREENS_BUDGET
    new_names = [n for n in REGISTRY if n not in last_green]
    assert len(new_names) <= entry_mod._NEW_QUERIES_BUDGET, (
        f"{len(new_names)} new queries this round exceeds the "
        f"feasibility budget {entry_mod._NEW_QUERIES_BUDGET}: "
        f"{sorted(new_names)[:10]}"
    )

    # the LRV floor backstop survives a worst-case budget round
    assert (
        entry_mod._WINDOW_CAP
        - 1
        - entry_mod._NEW_QUERIES_BUDGET
        - entry_mod._TOUCHED_GREENS_BUDGET
        >= entry_mod._LRV_FLOOR
    )


def test_lrv_floor_survives_drift_wave(monkeypatch, tmp_path):
    """A helper edit that drifts EVERY green must not flood the whole
    refill: at least _LRV_FLOOR slots still go to the least-recently-
    verified tier so rotation never stalls."""
    import json

    from data_etl_spark.plans import REGISTRY

    names = sorted(REGISTRY)
    # everything green in r1; the first 60 re-verified in r2
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: {"hash_match": True, "err": None} for n in names})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({n: {"hash_match": True, "err": None} for n in names[:60]})
    )
    # every name drifted (manifest fp != current fp)
    fps = {n: "fp_now" for n in names}
    manifest = {n: {"round": 2, "fp": "fp_then"} for n in names}
    (tmp_path / ".driver_fingerprints.json").write_text(json.dumps(manifest))
    monkeypatch.setattr(entry_mod, "_query_fingerprint_map", lambda: fps)
    monkeypatch.setattr(entry_mod, "_TOUCHED_THIS_ROUND", frozenset())
    monkeypatch.setattr(
        entry_mod.os.path, "abspath", lambda _: str(tmp_path / "x.py")
    )
    window = set(entry_mod._driver_window())
    # the r1-stale tail (LRV tier) must hold at least the floor...
    stale_tail = set(names[60:]) - {entry_mod.FLAGSHIP}
    got_lrv = len(window & stale_tail)
    assert got_lrv >= entry_mod._LRV_FLOOR


def test_urgent_tier_preempts_drift_wave(monkeypatch, tmp_path):
    """The r12 failure mode, pinned: greens whose evidence would BREACH
    _STALENESS_BOUND if skipped must be windowed even when a drift wave
    re-flags the recently-verified names (drift is best-effort; the
    bound is a contract). Build mirrors the real r13 window that fired
    the tripwire: a stale UNDRIFTED cohort last green in r1 (more names
    than the LRV floor holds), the rest freshly green in round
    (1 + bound) and ALL drifted — the old refill ordered
    floor < drifted < others, so the drifted-young tier soaked every
    slot past the floor and left part of the stale cohort outside at
    staleness bound+1."""
    import json

    from data_etl_spark.plans import REGISTRY

    names = sorted(REGISTRY)
    bound = entry_mod._STALENESS_BOUND
    # 30 names stale since r1 (more than the LRV floor can absorb) ...
    stale_cohort = [n for n in names if n != entry_mod.FLAGSHIP][:30]
    fresh_round = 1 + bound
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: {"hash_match": True, "err": None} for n in names})
    )
    # ... everything else re-verified in the most recent round, so the
    # build is for round fresh_round+1 and the cohort sits at exactly
    # staleness bound+1 if skipped
    (tmp_path / f"CORRECTNESS_r{fresh_round:02d}.json").write_text(
        json.dumps(
            {
                n: {"hash_match": True, "err": None}
                for n in names
                if n not in stale_cohort
            }
        )
    )
    fps = {n: "fp_now" for n in names}
    manifest = {
        n: {
            "round": fresh_round,
            # fresh names drifted; the stale cohort's helpers unchanged
            "fp": "fp_now" if n in set(stale_cohort) else "fp_then",
        }
        for n in names
    }
    (tmp_path / ".driver_fingerprints.json").write_text(json.dumps(manifest))
    monkeypatch.setattr(entry_mod, "_query_fingerprint_map", lambda: fps)
    monkeypatch.setattr(entry_mod, "_TOUCHED_THIS_ROUND", frozenset())
    monkeypatch.setattr(
        entry_mod.os.path, "abspath", lambda _: str(tmp_path / "x.py")
    )
    window = set(entry_mod._driver_window())
    left_out = set(stale_cohort) - window
    assert not left_out, (
        f"{len(left_out)} bound-breaching greens displaced by the drift "
        f"wave: {sorted(left_out)[:5]}"
    )


def test_persisted_window_reused_same_round(monkeypatch, tmp_path):
    """Building the refill consumes the drift signal, so two fresh
    builds on one tree can pick different windows — the end-of-round
    sync and the driver's build must instead agree. Pin the r13 rule:
    a WINDOW_STALENESS.json persisted for the SAME building round over
    the SAME registry is reused verbatim; one persisted for another
    round (stale state from a finished round) is ignored."""
    import json

    from data_etl_spark.plans import REGISTRY

    names = sorted(REGISTRY)
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: {"hash_match": True, "err": None} for n in names})
    )
    pick = sorted(
        set(names[: entry_mod._WINDOW_CAP - 1]) | {entry_mod.FLAGSHIP}
    )[: entry_mod._WINDOW_CAP]
    report = {
        "building_round": 2,
        "queries": {
            n: {"in_this_window": n in set(pick)} for n in names
        },
    }
    (tmp_path / "WINDOW_STALENESS.json").write_text(json.dumps(report))
    monkeypatch.setattr(
        entry_mod.os.path, "abspath", lambda _: str(tmp_path / "x.py")
    )
    assert entry_mod._driver_window() == sorted(pick)
    # a report from a DIFFERENT building round must not be reused
    entry_mod._WINDOW_CACHE.clear()
    report["building_round"] = 1
    (tmp_path / "WINDOW_STALENESS.json").write_text(json.dumps(report))
    fresh = entry_mod._driver_window()
    assert len(fresh) == entry_mod._WINDOW_CAP
    assert entry_mod.FLAGSHIP in fresh


def test_capped_queries_inventory_complete_both_ways():
    """CAPPED_QUERIES (VERDICT r10 #7) is the single SF-cap inventory:
    (a) every declared cap's literal bound appears in BOTH the engine
    plan source (via its module constant) and the oracle SQL, and
    (b) every plan function that references a *_CAP constant — and
    every oracle with a literal id-bound filter — is declared. A future
    cap cannot slip in as a silent bench dodge."""
    import inspect
    import re

    from data_etl_spark.plans import CAPPED_QUERIES, REGISTRY

    # (a) declarations match the code
    for name, cap in CAPPED_QUERIES.items():
        q = REGISTRY[name]
        oracle = re.sub(r"\s+", " ", q.oracle or "")
        assert f"{cap['column']} < {cap['bound']}" in oracle, (
            f"{name}: cap bound {cap['bound']} not in oracle"
        )
        src = inspect.getsource(q.fn.__wrapped__)
        assert cap["constant"] in src, (
            f"{name}: engine source does not reference {cap['constant']}"
        )
        mod = inspect.getmodule(q.fn.__wrapped__)
        assert getattr(mod, cap["constant"]) == cap["bound"]
        assert cap["rationale"].strip()

    # (b) the inventory is exhaustive: any *_CAP constant in a plan
    # function, or a literal "<id> < <number>" slice in an oracle, must
    # be declared. (column < column pair-ordering ties don't match; the
    # DF cap (max_df) is a shingle-frequency parameter, not an SF cap.)
    # kNN/ANN-family QUERY-side selectors are not SF caps: they pick
    # the probe workload / deterministic centroid seeds (vec_id < 10
    # probes, vec_id < _IVF_CENT_MAX centroids) while the CORPUS side
    # stays unbounded — the thing a cap would dodge. Any NEW name
    # showing up here must be either a declared cap or a consciously
    # added selector.
    probe_selectors = {
        "q_knn_exact", "q_knn_auto", "q_hybrid_rrf",
        "q_ivf_knn", "q_ivf_multiprobe", "q_ivf_recall",
        "q_pq_knn", "q_sq_knn",
    }
    id_bound = re.compile(
        r"\b(doc_id|vec_id|o_orderkey|l_orderkey|event_id|c_custkey)\s*<\s*\d"
    )
    cap_const = re.compile(r"\b_[A-Z0-9_]*_CAP\b")
    for name, q in REGISTRY.items():
        src = inspect.getsource(q.fn.__wrapped__)
        hits = set(cap_const.findall(src))
        if hits and name not in CAPPED_QUERIES:
            raise AssertionError(
                f"{name} references cap constant(s) {hits} but is not in "
                "CAPPED_QUERIES"
            )
        if id_bound.search(re.sub(r"\s+", " ", q.oracle or "")):
            assert name in CAPPED_QUERIES or name in probe_selectors, (
                f"{name}: oracle has a literal id-bound slice that is "
                "neither a declared CAPPED_QUERIES entry nor a known "
                "query-side probe selector"
            )
