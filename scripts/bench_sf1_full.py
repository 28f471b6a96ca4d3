"""Full-registry ~sf1 scale rehearsal (VERDICT r7, next #2): time EVERY
registry query on the 10x key-remapped replication of sf0.1
(scripts/make_sf1.py output at /tmp/sf1) and gate each against <= ~12x
its sf0.1 wall (linear-plus-shuffle-constant budget for 10x data).

Round 7 ran this for the 51 headline queries only; the tail holds the
newest and most complex plans (q_rect_components, q_corpus_filter,
streaming drains) that had never run above sf0.1 — this sweep closes
that gap. Queries over a PRE-gate margin (9x) on the first pass are
re-timed and scored min-of-2, since a single pass on a busy JVM can
catch a GC pause.

Usage: python scripts/bench_sf1_full.py [round_no]
Writes BENCH_SF1_FULL_r{N}.json.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from data_etl_spark.cache import release_tracked  # noqa: E402
from data_etl_spark.plans import REGISTRY  # noqa: E402
from data_etl_spark.session import build_session  # noqa: E402
from _harness import (  # noqa: E402
    host_gate,
    host_gate_end,
    latest_bench_full,
    retime_movers,
    sweep,
    timed,
    warm_up,
)
from _stage_metrics import StageMetricsTracker  # noqa: E402

SF1_DIR = os.environ.get("SF1_DIR", "/tmp/sf1")
SF01_DIR = os.environ.get("SF_SRC_DIR", "/root/testdata/sf0.1")
GATE = 12.0
RETIME_AT = 9.0
#: absolute-wall re-time trigger (see the mover loop): heavy entries
#: get a second sample even when their ratio sits under RETIME_AT
RETIME_WALL_SEC = 10.0
#: shuffle-bytes tripwire (VERDICT r8 #6): 10x data through a
#: linear-shuffle plan moves ~10x the bytes; 15x allows partial-agg /
#: partition-count constants, beyond that the shuffle grew superlinearly
SHUFFLE_GATE = 15.0
#: ignore ratios on tiny absolute volumes (metadata noise)
SHUFFLE_MIN_BYTES = 64 * 1024 * 1024

#: Queries whose shuffle bytes are EXPECTED to grow superlinearly on
#: the make_sf1 corpus, each with the reason a reader should audit.
#: Two legitimate causes: (a) the 10x corpus rewords each base doc into
#: a 10-member near-dup FAMILY, so true-duplicate pairs grow ~k^2 per
#: family by construction — queries whose output is the dup-pair/
#: cluster structure carry that growth in their results, not as plan
#: background; (b) eval queries whose OUTPUT is the any-seed candidate
#: set itself. Anything superlinear NOT in this dict is a regression.
EXPECTED_SUPERLINEAR = {
    "q_dedup_auto": "banded dup-family pairs grow ~k^2 per reworded family (true positives, cause a)",
    "q_dedup_clusters": "cluster edges = banded dup-family pairs (cause a)",
    "q_keep_best": "consumes q_dedup_clusters' edge set (cause a)",
    "q_corpus_filter": "embeds q_dedup_clusters + decontaminate over the dup-dense corpus (cause a)",
    "q_minhash_estimate": "output IS the any-seed candidate set it evaluates (cause b)",
    "q_lsh_tuning_curve": "S-curve eval over n_shared_bands needs the any-seed census (cause b)",
    "q_simhash_eval": "truth side = the DF-capped co-shingle pair universe being measured; postings-pair growth within the cap (cause b)",
    "q_shingle_containment": "output is the co-shingle pair set: true dup-family pairs grow ~k^2 per reworded family (cause a); DF cap bounds the background term",
    "q_ngram_jaccard": "co-shingle pairs on the 10x replication grow ~100x (cause a): every df-1 shingle becomes a 10-copy bucket emitting 45 TRUE dup pairs; the DF cap (operators/dedup.py:31) bounds the non-dup background, and wall stays linear (2.6x at 10x data)",
}

#: VERDICT r10 #3: the cause-(a) allowlist entries' excuse — "true
#: dup-family pairs grow ~k^2 per reworded family" — is now VERIFIED
#: against the generator's known structure, not just asserted. Each
#: cause-a query consumes one of two shared pair structures; the audit
#: counts both at sf1, predicts each from (families x C(K,2)) + K x the
#: sf0.1 background, and RE-ARMS the gate (moves the entry back to
#: unexpected_superlinear) when actual > 2x predicted.
CAUSE_A_METRIC = {
    "q_shingle_containment": "co_shingle_pairs",
    "q_ngram_jaccard": "co_shingle_pairs",
    "q_dedup_auto": "banded_candidates",
    "q_dedup_clusters": "banded_candidates",
    "q_keep_best": "banded_candidates",
    "q_corpus_filter": "banded_candidates",
}
CAUSE_A_SLACK = 2.0


def cause_a_pair_audit(spark) -> dict:
    """expected-vs-actual pair counts for the two structures the
    cause-a allowlist entries consume, predicted from the GENERATOR's
    known structure (make_sf1.py):

    - co_shingle_pairs: every 5th word (rotating by replica) is
      replaced, so a 3-gram shingle survives a reworded replica iff its
      3 positions dodge the replaced residue — exactly 2 of 5 start
      positions, s = 0.4. A base co-shingled doc pair therefore fans
      out to ~(1 + (K-1)s)^2 replica pairs through each shared shingle
      (the k^2-per-family growth the allowlist excuses), plus the
      within-family term families x C(K,2). Measured fit at r11:
      predicted 24.1M vs actual 34.7M (1.44x — multi-shared-shingle
      pairs push toward the K^2 ceiling, inside the 2x slack).
    - banded_candidates: upper envelope = every family pair a candidate
      (families x C(K,2)) + K x the sf0.1 background. Actual sits ~5x
      under it (J~0.25 rewords pass an r=2 band with p~0.23).

    A regression that makes either background quadratic in the corpus
    (~2.5e9 pairs) blows past 2x these predictions immediately."""
    from pyspark.storagelevel import StorageLevel

    from data_etl_spark.cache import tracked_persist
    from data_etl_spark.operators import dedup as DD
    from data_etl_spark.sources import load_table

    k_mult = int(os.environ.get("SF_MULT", "10"))
    d1 = load_table(spark, SF1_DIR, "documents")
    n1 = d1.count()
    n_base = n1 // k_mult
    fam_pairs = n_base * k_mult * (k_mult - 1) // 2

    sh01 = tracked_persist(
        DD.word_shingles(load_table(spark, SF01_DIR, "documents")),
        StorageLevel.DISK_ONLY,
    )
    c01 = DD.co_shingle_pairs(sh01).count()
    b01 = DD.banded_candidate_pairs(DD.minhash_signatures(sh01)).count()
    release_tracked()
    sh1 = tracked_persist(DD.word_shingles(d1), StorageLevel.DISK_ONLY)
    c1 = DD.co_shingle_pairs(sh1).count()
    b1 = DD.banded_candidate_pairs(DD.minhash_signatures(sh1)).count()
    release_tracked()

    shingle_survival = 0.4  # 2 of 5 trigram start positions dodge the
    # every-5th-word reword (see docstring / make_sf1.py)
    fanout = (1 + (k_mult - 1) * shingle_survival) ** 2
    audit = {}
    structures = {
        "co_shingle_pairs": (int(fam_pairs + fanout * c01), c1),
        "banded_candidates": (fam_pairs + k_mult * b01, b1),
    }
    for q, metric in CAUSE_A_METRIC.items():
        exp, act = structures[metric]
        audit[q] = {
            "structure": metric,
            "expected_pairs": exp,
            "actual_pairs": act,
            "ok": act <= CAUSE_A_SLACK * exp,
        }
    audit["_model"] = (
        f"families({n_base}) x C({k_mult},2) family term + background "
        f"scaling: co_shingle x(1+(K-1)*{shingle_survival})^2={fanout:.1f} "
        f"(sf0.1 base {c01}), banded x{k_mult} (sf0.1 base {b01}); gate "
        f"at {CAUSE_A_SLACK}x"
    )
    return audit


def main() -> None:
    round_no = sys.argv[1] if len(sys.argv) > 1 else "08"
    repo = os.path.join(os.path.dirname(__file__), "..")

    # sf0.1 per-query baseline: the most recent BENCH_FULL artifact
    base_file, base = latest_bench_full()
    base_q = base.get("queries") or base.get("queries_sec") or {}

    gate = host_gate()
    spark = build_session("data-etl-spark-bench-sf1-full")
    names = sorted(REGISTRY)
    warm_up(spark, names)
    print("warmup done", flush=True)

    tracker = StageMetricsTracker(spark)
    timings: dict[str, float] = {}
    metrics: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for i, (name, sec, m, err) in enumerate(sweep(spark, names, SF1_DIR, tracker=tracker)):
        if err:
            errors[name] = err
            continue
        timings[name] = sec
        metrics[name] = m
        print(f"[{i + 1}/{len(names)}] {name} {sec:.2f}s", flush=True)

    # movers: re-time min-of-2 before judging the gate. Two triggers:
    # ratio > RETIME_AT (the gate pre-margin), and absolute wall >
    # RETIME_WALL_SEC — a big-absolute query whose single run caught a
    # GC pause records a misleading 2x entry while sitting safely under
    # the ratio gate (r10: q_corpus_filter 27s single-run vs 8.7s
    # min-of-3), so the artifact's heaviest entries are the ones that
    # most need a second sample.
    retimed = retime_movers(
        spark,
        timings,
        SF1_DIR,
        lambda n, t: bool(base_q.get(n) and t / base_q[n] > RETIME_AT) or t > RETIME_WALL_SEC,
    )

    ratios = {
        n: round(timings[n] / base_q[n], 2)
        for n in timings
        if base_q.get(n)
    }
    over = {n: r for n, r in ratios.items() if r > GATE}

    # superlinear-shuffle tripwire (VERDICT r8 #6): compare per-query
    # shuffle-write bytes against the sf0.1 artifact's stage_metrics
    base_m = base.get("stage_metrics") or {}
    shuffle_ratios = {}
    for n, m in metrics.items():
        b = (base_m.get(n) or {}).get("shuffle_write_bytes", 0)
        s1 = m.get("shuffle_write_bytes", 0)
        if b and s1 >= SHUFFLE_MIN_BYTES:
            shuffle_ratios[n] = round(s1 / b, 2)
    superlinear = {
        n: r for n, r in shuffle_ratios.items() if r > SHUFFLE_GATE
    }
    # Re-measure gate hits before judging: shuffle volume is
    # plan-deterministic, but the stage-id watermark attribution is
    # one-sided additive under load (a neighbor's late-completing stage
    # lands in the wrong window — the r10 q_ngram_jaccard phantom read
    # 504 MB in-harness vs 40 MB standalone/mini-harness). Min of two
    # measurements kills the phantom; a REAL superlinear shuffle
    # reproduces exactly.
    for n in sorted(superlinear):
        try:
            [(_, m2)] = timed(lambda: REGISTRY[n].fn(spark, SF1_DIR), 1, tracker)
        except Exception:
            continue
        s2 = (m2 or {}).get("shuffle_write_bytes", 0)
        b = (base_m.get(n) or {}).get("shuffle_write_bytes", 0)
        s_min = min(metrics[n].get("shuffle_write_bytes", 0), s2)
        if b:
            shuffle_ratios[n] = round(s_min / b, 2)
        metrics[n]["shuffle_write_bytes"] = s_min
        if not (b and s_min >= SHUFFLE_MIN_BYTES and s_min / b > SHUFFLE_GATE):
            del superlinear[n]
            print(f"shuffle re-measure cleared {n}: min {s_min >> 20} MiB", flush=True)
    expected_superlinear = {
        n: (shuffle_ratios.get(n), EXPECTED_SUPERLINEAR[n])
        for n in superlinear
        if n in EXPECTED_SUPERLINEAR
    }
    unexpected_superlinear = {
        n: r for n, r in superlinear.items() if n not in EXPECTED_SUPERLINEAR
    }

    # VERDICT r10 #3: verify the cause-a excuse numerically; a
    # divergent entry loses its allowlist slot and re-arms the gate
    pair_audit = cause_a_pair_audit(spark)
    divergent = sorted(
        n for n, a in pair_audit.items()
        if not n.startswith("_") and not a["ok"]
    )
    for n in divergent:
        if n in expected_superlinear:
            unexpected_superlinear[n] = shuffle_ratios.get(n)
            del expected_superlinear[n]
    result = (
        "PASS - zero queries above 12x; max "
        + max(ratios, key=ratios.get)
        + f" {max(ratios.values()):.1f}x"
        if not over
        else f"FAIL - {sorted(over)} above 12x"
    )
    if divergent:
        result += f"; CAUSE-A DIVERGENCE (allowlist re-armed) - {divergent}"
    if unexpected_superlinear:
        result += f"; SUPERLINEAR SHUFFLE - {sorted(unexpected_superlinear)}"
    if expected_superlinear:
        result += (
            f"; expected-superlinear (documented): {sorted(expected_superlinear)}"
        )
    out = {
        "metric": "scale_rehearsal_10x_full_registry",
        "what": (
            "full-registry ~sf1 rehearsal (VERDICT r7 next #2): every "
            f"registry query ({len(names)}) on the 10x key-remapped "
            "replication of sf0.1 (scripts/make_sf1.py), local[32], "
            "movers re-timed min-of-2 after full-registry sf0.001 warmup"
        ),
        "gate": "per-query wall <= ~12x sf0.1 (linear + shuffle constant)",
        "result": result,
        "baseline_file": base_file,
        "total_sec_sf1": round(sum(timings.values()), 3),
        "total_sec_sf01_base": round(
            sum(v for n, v in base_q.items() if n in timings), 3
        ),
        "retimed": retimed,
        "errors": errors,
        "queries_sec": dict(sorted(timings.items())),
        "ratio_vs_sf01": dict(
            sorted(ratios.items(), key=lambda kv: -kv[1])
        ),
        "stage_metrics": metrics,
        "shuffle_gate": (
            f"shuffle_write bytes <= {SHUFFLE_GATE}x sf0.1 for 10x data "
            f"(queries moving >= {SHUFFLE_MIN_BYTES >> 20} MiB)"
        ),
        "superlinear_shuffle": dict(
            sorted(unexpected_superlinear.items(), key=lambda kv: -kv[1])
        ),
        "superlinear_shuffle_expected": expected_superlinear,
        "cause_a_pair_audit": pair_audit,
        "shuffle_ratio_vs_sf01": dict(
            sorted(shuffle_ratios.items(), key=lambda kv: -kv[1])
        ),
        # host health at go and at the end (scripts/_harness.py::host_gate)
        **gate,
        **host_gate_end(),
    }
    path = os.path.join(repo, f"BENCH_SF1_FULL_r{round_no}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(result)
    print("wrote", path)


if __name__ == "__main__":
    main()
