"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on a host-sized build_session() and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is warmed at sf0.001, then timed twice through the noop sink
with its persists drained after every run (scripts/_harness.py).
"""

from __future__ import annotations

import json
import os
import sys

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "scripts"))

from _harness import host_gate, host_gate_end, sf_value, sweep, warm_up  # noqa: E402
from data_etl_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: The headline set: one per operator family (scan-agg, multiway join,
#: window, chunk pipeline, dedup x4 incl. clustering + sentence residue,
#: knn, embedding near-dup pipeline, event windows + retention
#: analytics).
HEADLINE = [
    "q_embed_dedup_clusters",
    "q_sentence_dedup",
    "q_pricing_summary",
    "q_shipping_priority",
    "q_local_supplier_volume",
    "q_window_running",
    "q_chunk_pipeline",
    "q_exact_dedup",
    "q_ngram_jaccard",
    "q_minhash_lsh_pairs",
    "q_dedup_clusters",
    "q_knn_exact",
    "q_rp_lsh_pairs",
    "q_tumbling_window",
    "q_session_window",
    "q_asof_join",
    "q_salted_join",
    "q_retention_cohort",
    "q_dup_spans",
    "q_pack_sequences",
    "q_lm_perplexity",
    "q_entity_match",
    "q_path_analysis",
    "q_market_basket",
    "q_pq_knn",
    "q_dsir_scores",
    "q_semantic_dedup",
    "q_pagerank_dupgraph",
    "q_cms_heavy_hitters",
    "q_bucketed_join",
    "q_keep_best",
    "q_bloom_filter_eval",
    "q_equidepth_bins",
    # round-5 widening: graph census, snapshot diff, spine-window
    # backfill, simhash candidate generation, vocab top-V, and the
    # window-free quintile rank — every expensive family now has a
    # perf row (r4 verdict, next #5).
    "q_dup_triangles",
    "q_snapshot_diff",
    "q_locf_backfill",
    "q_simhash_pairs",
    "q_tokenizer_vocab",
    "q_rfm_segments",
    "q_knn_auto",  # cost gate flips to the IVF branch at the bench SF
    "q_incremental_dedup",  # batch-vs-corpus ingest dedup family
    "q_lsh_tuning_curve",   # candidate-confined eval family
    "q_interval_sweep",     # window-free global cumsum (sweep line)
    "q_pack_global",        # corpus-global packing on the same operator
    # round-6 widening: the BENCH_FULL_r06 tail offenders (now fixed —
    # keep them timed so the fixes can't regress) plus the round's new
    # families (cost-gated dedup flips to banded at the bench SF; the
    # rank-recipe percentile query; zone-map skipping; the HLL
    # error-bound eval's exact+sketch double aggregation).
    "q_ml_minhash_join",
    "q_figure_placement",
    "q_anchor_search",
    "q_dedup_auto",
    "q_quality_percentiles",
    "q_zone_map_eval",
    "q_approx_distinct",
]


def main() -> None:
    # Host gate: wait (bounded) for a quiet loadavg and a healthy
    # page-fault window before the warm-up saturates the cores; a run
    # that never got one is stamped load_waiver / stall_waiver.
    gate = host_gate()
    spark = build_session("data-etl-spark-bench")
    warm_up(spark, HEADLINE)

    # Two timed runs per query, report the min: single-run numbers on a
    # shared box carry ±30% scheduler/page-cache noise (measured); the
    # min is the steady-state cost a long-lived cluster would see.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, sec, _, err in sweep(spark, HEADLINE, SF_DIR, passes=2):
        # One broken query must not zero out the whole round's perf
        # signal: record the failure and keep timing the rest.
        if err:
            errors[name] = err
            continue
        # a pass-2 success supersedes a pass-1 failure: don't report
        # both a timing and a stale error for the same query
        errors.pop(name, None)
        timings[name] = min(sec, timings.get(name, sec))

    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        # estimator marker: per-query minimum over 2 timed runs (rounds
        # <= 2 used a single timed run — compare accordingly)
        "timing": "min_of_2",
        "queries": timings,
        "sf": sf_value(SF_DIR),
        # shared-host context (scripts/_harness.py::host_gate): the
        # loadavg and first-touch page-fault rate (GB/s) when the gate
        # released the run and at its end; a waiver means no healthy
        # window came within the bounded wait
        **gate,
        **host_gate_end(),
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))


if __name__ == "__main__":
    main()
