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
# manual reset needed; just add a new key each round.
_TOUCHED_BY_ROUND: dict[int, frozenset] = {}
_TOUCHED_BY_ROUND[4] = frozenset({
    "q_attribution_linear",   # oracle CAST(sum AS BIGINT)
    "q_cohort_ltv",           # oracle window-sum CAST + day_k bigint
    "q_markov_transitions",   # oracle CAST(sum AS BIGINT)
    "q_math_funcs",           # oracle floor/ceil/sign CASTs
    "q_sentence_dedup",       # oracle n_kept CAST (latent int/float skew)
    "q_entity_match",         # name-prefix blocking key (engine + oracle)
    "q_dup_spans",            # persist -> DISK_ONLY
    "q_lm_perplexity",        # vocab count folded into plan
    "q_market_basket",        # basket count folded into plan
})
_TOUCHED_BY_ROUND[5] = frozenset({
    "q_equidepth_bins",       # global ntile -> two-pass bucketed rank
    "q_rfm_segments",         # 3x global ntile -> two-pass bucketed rank
    "q_tokenizer_vocab",      # top-V via orderBy().limit() (TakeOrdered)
    "q_multimodal_meta",      # ASCII-sanitized payload contract (both engines)
    "q_frame_sample",         # ASCII-sanitized payload contract
    "q_binary_features",      # ASCII payload + empty-payload drop
    "q_resize_assets",        # ASCII-sanitized payload contract
    "q_audio_energy",         # ASCII-sanitized payload contract
    "q_cms_heavy_hitters",    # token persist -> DISK_ONLY
    "q_dup_spans",            # repartition(doc_id) decision re-measured
    # raw-shingle persists -> DISK_ONLY (word_shingles internal + plan
    # sites; storage level only, values unchanged — re-verify anyway):
    # session-gap boundary contract (fuzz seed 555): oracles now use
    # strict >, matching session_window's boundary-merge — re-verify:
    "q_session_window", "q_streaming_sessionize",
    # (the whole minhash persist-level batch — q_minhash_signatures /
    # q_minhash_estimate / q_minhash_lsh_pairs / q_minhash_banded_pairs /
    # q_ngram_jaccard / q_decontaminate — dropped from the window:
    # storage-level-only changes, displaced by the torture/empty-probe/
    # boundary contract fixes and round-5 fresh queries; all remain
    # green in the local oracle + 3-seed fuzz)
    "q_udtf_word_windows",  # spaces-only strip matches SQL trim
    "q_ivf_recall",         # oracle base rows from probe set, not exact
    "q_dup_triangles", "q_pagerank_dupgraph",
    "q_keep_best", "q_dedup_clusters", "q_corpus_filter",
    # (q_simhash_eval also displaced: persist-level-only change)
    # nearest-centroid assignment deduped into operators/ivf.assign_cells
    # (identical expression tree; re-verify out of caution — q_ivf_recall
    # is already listed above for its oracle base-row fix):
    "q_ivf_knn",
    # full-registry review fixes: pivot NULL->0 fill, ab_test degenerate
    # guards (both engines), pmi count folded into plan, cohort_ltv
    # broadcast unhinted, market_basket persist -> DISK_ONLY:
    "q_pivot", "q_ab_test", "q_pmi_collocations", "q_cohort_ltv",
    "q_market_basket",
    # zero-denominator contract (fuzz-found): cosine family now
    # try_divide (NULL on zero norm), token ratio NULL on 0 tokens —
    # values unchanged on driver data, plans changed, re-verify:
    # (q_hybrid_rrf / q_ivf_* / q_embed_dedup_clusters share the same
    # changed cosine helper but lost the window-slot lottery — values
    # are unchanged on driver data and their local oracle tests ran)
    # (q_vector_stats not listed: it uses l2_norm only — no division,
    # unaffected by the cosine try_divide change)
    "q_token_counts", "q_knn_exact",
    "q_semantic_dedup", "q_sq_knn", "q_pq_knn",
    "q_rp_lsh_pairs",
    # GK envelope corrected to rank space (fuzz-found; TRUE on driver
    # data before and after, plan + bound semantics changed):
    "q_approx_quantile_eval",
    # empty-source fix: read-back now uses the writer's schema
    # (values unchanged on driver data):
    "q_partitioned_write",
    # (q_json_funcs' dirty-payload hardening — try_cast + json_valid on
    # both sides — is NOT window-listed: the window is at capacity and
    # clean driver data takes neither new branch; exact-value clean-data
    # equivalence is proven by tests/test_oracle.py and the dirty paths
    # by the props fuzz corpus)
})
_TOUCHED_BY_ROUND[6] = frozenset({
    # rank._idiv now IntegralDivide (exact past 2^53; double round-trip
    # before). Same values on driver data, changed plans — re-verify
    # every rank.py consumer:
    "q_equidepth_bins", "q_rfm_segments", "q_interval_sweep",
    "q_pack_global",
    # rows-only -> HLL error-bound-verdict oracle (VERDICT r5, next #2);
    # _driver_rows already re-exposes it as unchecked, listed for the
    # contract test's slot accounting:
    "q_approx_distinct",
    # unicode-fuzz catch: v2 rewrite was upper(text) — Java full case
    # mapping ('ß'->'SS') vs DuckDB simple mapping ('ß'->'ẞ') diverge;
    # now a portable prefix+substring on BOTH sides:
    "q_meta_upsert",
    # full-registry bench tail (BENCH_FULL_r06) offenders, re-planned:
    # ML minhash join on 3-word shingles not unigrams (284 s -> 2.7 s),
    # figure placement on the Arrow scalar path (10.8 s -> 0.6 s),
    # anchor search fused into one mapInPandas (22.5 s -> 2.4 s):
    "q_ml_minhash_join", "q_figure_placement", "q_anchor_search",
    # --bigdoc fuzz catch: per-position substr made the 5-gram winnow
    # O(len^2) per doc (>9 min on 150 KB docs); now shifted-slice
    # zip_with windows (15 s) — same values, changed plan:
    "q_doc_fingerprint",
    # same O(len^2/step) class in chunk_text's substring-per-chunk;
    # window extraction now an Arrow kernel (byte-equality pinned in
    # tests/test_chunking.py) — same values, changed plans:
    "q_chunks", "q_chunk_pipeline",
})
_TOUCHED_BY_ROUND[7] = frozenset({
    # chunk_text: the size-gated hybrid built early in the round was
    # REVERTED (project-collapse re-inlined the normalize chain into
    # every expression-branch substring and the Arrow node ran anyway:
    # 1.53 s vs the plain kernel's 0.73 s — see chunk_text's docstring);
    # back to the linear Arrow kernel for all sizes, now with the
    # NULL-text -> one-NULL-chunk contract (ADVICE r6 #1) — same values
    # on driver data, changed plans:
    "q_chunks", "q_chunk_pipeline",
    # NULL-group-safe reassembly: the three aggregation legs now join
    # with eqNullSafe (ADVICE r6 #2) — same values, changed plan:
    "q_approx_distinct",
    # single-partition-scan repartitions now conditional
    # (sources.tables.parallelize_narrow_scan; ADVICE r6 #4) — same
    # values, changed plans:
    "q_doc_fingerprint", "q_figure_placement", "q_anchor_search",
    # auto_dedup's shingle persist is now release-tracked (ADVICE r6
    # #3; storage bookkeeping only — re-verify out of caution):
    "q_dedup_auto",
    # rows-only -> bound-verdict oracles (VERDICT r6, next #1; the
    # q_approx_distinct upgrade pattern). _driver_rows re-exposes both
    # as unchecked; listed for the contract test's slot accounting:
    "q_ml_minhash_join", "q_ml_brp_neighbors",
    # fuzz --nulls NULL-contract wave (VERDICT r6, next #5): plans /
    # oracles changed on NULL paths only — driver data carries no NULLs
    # so values are unchanged, but the most-rewritten names re-verify.
    # Event-time contract (events_us WHERE ts IS NOT NULL + _events_ts):
    "q_tumbling_window", "q_session_window",
    # as-of rewritten to struct-carry + NULL-user purchase drop:
    "q_asof_join",
    # NULL-user subjects excluded both sides:
    "q_survival_curve",
    # arg_min/min_by NULL-arg FILTER legs:
    "q_minmax_by",
    # oracle rewrites (NOT IN -> IS NULL disjunct; concat NULL-guard;
    # phantom NULL-user hash; entry-skip serialization; var clamp):
    "q_delete_by_key", "q_markdown_header_split", "q_kmv_distinct",
    "q_map_funcs", "q_moments",
    # asset contract (NULL payload = no asset, both sides):
    "q_multimodal_meta", "q_frame_sample", "q_binary_features",
    "q_resize_assets", "q_audio_energy", "q_frame_dedup",
    # NULL-text kernel contracts:
    "q_udtf_word_windows",
    # embedding validity contract (valid_embedding both sides);
    # representatives of the 17-query similarity wave:
    "q_knn_exact", "q_vector_stats", "q_cosine_pairs",
    # stream-stream joins: NULL-ts reader + 8 state partitions
    # (profiled ~90% fixed state-store machinery; 6.5 s -> 2.6 s):
    "q_streaming_interval_join", "q_streaming_outer_join",
})
_TOUCHED_BY_ROUND[8] = frozenset({
    # rows-only -> invariant-verdict oracles (VERDICT r7, next #1):
    # _driver_rows re-exposes both as unchecked; listed for the contract
    # test's slot accounting:
    "q_rect_merge", "q_anchor_search",
    # q_rect_components body factored into the shared _rect_components_df
    # helper (identical plan — re-verify out of caution):
    "q_rect_components",
    # ADVICE r7 #1: engine sketch side now drops NULL user_ids
    # symmetrically with the oracle's h CTE (all-NULL groups excluded on
    # BOTH sides; driver data unchanged, plan changed):
    "q_kmv_distinct",
    # ADVICE r7 #3: parallelize_narrow_scan gate widened from ==1 to
    # < defaultParallelism/2 (plan changes only on few-partition scans;
    # same values — re-verify the consumers):
    "q_doc_fingerprint", "q_figure_placement",
    # VERDICT r7 #7: stream-stream join state partitions now derived
    # from input size (state_partitions_for) instead of the literal 8 —
    # resolves to 8 at driver SFs, changed plumbing, re-verify:
    "q_streaming_interval_join", "q_streaming_outer_join",
    # sf1 full-registry rehearsal fixes: q_cosine_pairs re-planned from
    # label self-join + expression cosine to the bit-exact blocked
    # rank-1-update kernel (operators/pairs.py; 50.9 s -> 4.7 s at sf1,
    # oracle unchanged); rect family moved to the density-scaled
    # fixture (_RECT_FIGURES_SQL — byte-identical rows at every driver
    # SF, only >=sf1 changes):
    "q_cosine_pairs",
    # q_rank_auto / rank consumers: rank.py's two persists now tracked
    # (leak fix; values unchanged):
    "q_rank_auto",
    # gate-threshold calibration (VERDICT r7 #3): _ADAPT_N 256 -> 1024
    # (engine + oracle share the constant; values unchanged at every
    # driver SF — branch flip stays between sf0.01 and sf0.1):
    "q_lsh_adaptive",
    # fuzz chaos x --relational-too wave (the NULL-bearing relational
    # star had never met the relational-only queries): NULL-ordering
    # contracts (NULLS FIRST window oracles, sentinel range keys),
    # eqNullSafe group joins, count(col) vs count(*) rank targets, and
    # NULL-guarded fingerprints — driver data carries no relational
    # NULLs so values are unchanged, plans/oracles changed:
    "q_window_running", "q_window_analytics", "q_window_lag_lead",
    "q_window_range_frame", "q_approx_quantile_eval", "q_equidepth_bins",
    "q_rfm_segments", "q_snapshot_diff",
})
_TOUCHED_BY_ROUND[9] = frozenset({
    # VERDICT r8 #1 / ADVICE r8 #1: the degree-ordered triangle-census
    # rewrite (plans/dedup.py) landed in r8's final snapshot AFTER the
    # driver window was built — it has never been driver-hashed. Judge
    # verified oracle-equality at sf0.01 manually; this slot makes the
    # driver record it.
    "q_dup_triangles",
    # state_partitions_for now sums directory trees (ADVICE r8 #4);
    # resolves to the same 8 at driver SFs (single-file fixtures), but
    # the sizing plumbing changed — re-verify the stream-stream joins:
    "q_streaming_interval_join", "q_streaming_outer_join",
    # VERDICT r8 #2: q_simhash_eval re-planned — n_cand now counted
    # combinatorially over the (simhash -> count) table (the 41M-at-sf1
    # banded pair set is never materialized) and n_hit tested on the
    # truth pairs; sf1 30.3 s -> 15.1 s. Oracle unchanged.
    "q_simhash_eval",
    # q_dup_triangles census body factored into _triangle_census
    # (identical plan; unit-pinned on a hub-heavy graph) — already
    # listed above for the r8 rewrite.
    # chaos-keys fuzz (VERDICT r8 #7): DuckDB refuses <<(negative) while
    # Spark wraps — shl2 is now contract-NULL for negative keys on both
    # sides. Driver data has non-negative keys (values unchanged); plan
    # + oracle changed:
    "q_bitwise_funcs",
    # r9 sf1-rehearsal scale fixes (plan + oracle changed on each): the
    # graph-analytic queries moved off the any-seed LSH graph (edge count
    # quadratic in corpus — 10x docs gave 31x edges) onto the
    # >= _GRAPH_MIN_SHARED-seeds precision graph, and SemDeDup's k now
    # scales as max(8, floor(sqrt(n/2))) on both engine and oracle sides
    # (fixed k=8 put ~n/8 vectors per cluster -> ~n^2/128 in-cluster
    # cosines at 10x). q_dup_triangles (already slotted above) shares the
    # graph change.
    "q_pagerank_dupgraph", "q_semantic_dedup",
    # minhash_signatures rewritten columnar, then REVERTED on an A/B
    # measurement (columnar lost: wide-agg codegen cost); net change vs
    # r8 is docstring-only but both held slots while the code moved:
    "q_minhash_signatures", "q_minhash_banded_pairs",
    # auto_dedup's banded branch moved from any-seed candidates (whose
    # corpus-quadratic background kept the semi-join from pruning — the
    # 61 s sf1 rehearsal row) to 2-row-band candidates
    # (banded_candidate_pairs); plan + oracle changed, and the graph
    # queries' >= 2-seed edge set is now enumerated via C(8,2)
    # combo buckets (same rows, oracles unchanged):
    "q_dedup_auto", "q_dedup_auto_dense",
    # same precision move for the clustering path (transitive chaining
    # makes any-seed background fuse unrelated clusters): candidates
    # are now 2-row-band pairs; plans + recursive-CTE oracles changed,
    # and q_corpus_filter's near_dup verdicts inherit the new clusters:
    "q_dedup_clusters", "q_keep_best", "q_corpus_filter",
})

_TOUCHED_BY_ROUND[10] = frozenset({
    # VERDICT r9 #1: setsim_pairs re-planned — prefix/cand/arrs are now
    # tracked-persisted (the rank-window subtree ran once per consumer
    # before), and token DF is a window count over partitionBy(shingle)
    # instead of groupBy+join. sf1 wall 29.4 s -> 7.0 s min-of-2; oracle
    # unchanged (brute-force join), hash must still match:
    "q_setsim_join",
    # VERDICT r9 #2: q_ml_minhash_join SF-capped at doc_id < 5000 on
    # both engine and oracle sides (the q_dedup_auto_dense precedent) —
    # the MLlib parity check now runs at a fixed size and is back under
    # the shuffle tripwire (removed from EXPECTED_SUPERLINEAR). Plan +
    # oracle changed (no-op below sf0.1 where doc_id < 5000 already):
    "q_ml_minhash_join",
    # VERDICT r9 #3: SemDeDup re-planned for linear pair work — constant
    # target cluster size (k = max(8, ceil(n/64))) with two-level
    # coarse->fine designated-centroid assignment (k1 = floor(sqrt(k))
    # coarse cells), all assignment as map-side max(struct) aggs. Plan +
    # oracle changed on both sides; sf1 18.1 s -> 7.0 s:
    "q_semantic_dedup",
    # VERDICT r9 #8: shared_seed_pairs generalized from hard-coded
    # min_shared=2 to the C(k, m) combo chain (internal aliases changed;
    # m=2 output proven identical in tests/test_planner.py) — re-verify
    # its two direct plan consumers:
    "q_pagerank_dupgraph", "q_dup_triangles",
    # chaos-time sweep fix: _sf_key now sanitizes non-identifier chars
    # in the bucketed-table name (result-neutral on driver paths, but
    # the helper moved — r9 minhash-revert precedent):
    "q_bucketed_join",
    # r10 rehearsal FAIL fix: q_cosine_pairs SF-capped at vec_id < 2000
    # on both sides — fixed-cardinality labels make same-label pair work
    # ~n^2/10, intrinsically quadratic (19x wall at 10x data); the exact
    # brute-force baseline now runs at the sf0.1 corpus size, the
    # bucketed twins are the scale path. Plan + oracle changed:
    "q_cosine_pairs",
    # r10 rehearsal max-ratio fix: q_skyline gained a NULL-safe
    # two-corner pre-filter (complete by domination transitivity; sf1
    # anti-join input 200k -> 3,740 rows). Oracle unchanged (brute-force
    # NOT EXISTS) so the hash check proves prune completeness:
    "q_skyline",
    # r10 continuation: CMS sketch now built from the vocabulary-scale
    # exact-counts table (cell = sum of member-word counts — bit-
    # identical to hashing every occurrence), killing the 4x-per-
    # occurrence md5 + corpus-scale DISK_ONLY persist (5.6x wall at 10x
    # data -> linear; sf0.1 1.89 s -> 0.76 s). Oracle unchanged, so the
    # hash check proves the algebraic identity:
    "q_cms_heavy_hitters",
    # r10 continuation: PQ codeword assignment re-planned from a
    # row_number window (per-partition sort of corpus x subspace x
    # codeword) to a min(struct(d, cent_id, cw)) hash-agg — identical
    # (d ASC, cent_id ASC) argmin semantics, but the 16 codeword
    # candidates collapse map-side (SemDeDup assignment shape). Oracle
    # unchanged:
    "q_pq_knn",
    # r10 continuation, NEW query: BPE merge learning (Sennrich 2016) —
    # first 3 merge rules by weighted pair count; after one corpus scan
    # everything is vocabulary-scale (sf1/sf0.1 wall ratio 1.15x). The
    # greedy-replace encoding contract is property-pinned in
    # tests/test_properties.py on both engines:
    "q_bpe_merges",
    # r10 continuation, NEW query: the learned merges APPLIED — per-doc
    # post-merge token counts + compression; the (word -> symbols)
    # vocab table joins the occurrence stream (sf1/sf0.1 ratio 1.45x):
    "q_bpe_encode",
    # r10 continuation, NEW query: contrastive triple mining — positives
    # from the banded LSH candidates, hard negative = the most
    # lexically-overlapping NON-candidate (DF-capped co-shingle pairs
    # anti-joined against candidates; per-anchor argmax as a
    # min(struct) hash-agg):
    "q_hard_negatives",
})
_TOUCHED_BY_ROUND[11] = frozenset({
    # VERDICT r10 #1 + ADVICE: the co-shingle pairs block factored into
    # operators/dedup.co_shingle_pairs (one implementation behind
    # shingle_pair_stats AND q_hard_negatives' negative pool). The
    # asked-for anchor-restricted directed join was A/B'd and LOST
    # (53% of sf1 docs are dup-family anchors; 42.9M directed vs 34.7M
    # symmetric grouped pairs, 14.8 s vs 13.9 s) — rationale committed
    # in the q_hard_negatives block comment. Expression trees identical
    # to r10 for the stats consumers; re-verify out of caution
    # (r5 ivf-assign precedent):
    "q_hard_negatives", "q_ngram_jaccard", "q_shingle_containment",
    "q_minhash_estimate", "q_lsh_tuning_curve",
    # ADVICE r10 + VERDICT r10 #8: _bpe_learn rounds 1..R-1 now rotate
    # through eager localCheckpoints (lineage cut + release_ckpt of the
    # prior round) — plans changed on both queries, oracles shared via
    # the new _bpe_round_ctes helper (values must be unchanged):
    "q_bpe_merges", "q_bpe_encode",
    # r11 NEW operator families (auto-exposed as unchecked; listed for
    # the slot-accounting contract): greedy k-center coreset selection
    # (Gonzalez/Sener-Savarese), k-anonymity/l-diversity privacy audit,
    # Heaps-law vocabulary-growth diagnostics:
    "q_kcenter_coreset", "q_k_anonymity", "q_heaps_law",
    # r11 NEW: cross-source duplication matrix over the banded dup graph
    "q_source_overlap",
    # r11 NEW: bounded k-core peel of the dup graph (superstep contract)
    "q_kcore_peel",
    # r11 NEW: per-source Zipf/power-law MLE (corpus-health diagnostics)
    "q_zipf_fit",
})
_TOUCHED_BY_ROUND[12] = frozenset({
    # VERDICT r11 #7: q_kcore_peel now reports a `converged` column
    # (true iff the final round's removal set is empty) mirrored in the
    # oracle's conv CTE — schema change on both engines:
    "q_kcore_peel",
    # r12 NEW (VERDICT r11 #6): unigram-LM tokenizer training (Kudo
    # 2018 / SentencePiece) — bounded-Viterbi hard EM over the
    # vocabulary with decimal-exact costs; depth-4 property pin vs a
    # pure-Python reference in tests/test_properties.py:
    "q_unigram_lm",
    # r12 NEW: deterministic hash-Bernoulli sampling audit (map-side
    # reproducible corpus subsampling), per-doc character entropy
    # (gibberish detection, integer-exact sums), per-doc top-3 TF-IDF
    # keyword extraction (integer-exact ranking), and power-iteration
    # PCA over the embeddings (decimal-exact matrix-vector rounds):
    "q_hash_sample", "q_char_entropy", "q_tfidf_keywords", "q_pca_power",
    # r12 NEW: kNN label-disagreement audit (Confident Learning) —
    # per-class annotation-noise rates over the embedding table,
    # SF-capped exact baseline (CAPPED_QUERIES-registered):
    "q_label_noise",
})
_TOUCHED_BY_ROUND[13] = frozenset({
    # VERDICT r12 #3: q_tfidf (worst sf1 scaler, 6.09x) and q_bm25
    # (the allowlisted broadcast->SMJ flip) rebuilt on a repartition-
    # by-doc_id + broadcast-df plan shape — postings never shuffle;
    # values identical, physical plan changed, re-verify both:
    "q_tfidf", "q_bm25",
    # r13: self_knn_label_votes rebuilt distributed (corpus hash-split
    # + per-split top-k union + global re-rank) — the single-group
    # funnel VERDICT r12 watched is gone; values parity-pinned
    # identical, physical plan changed, re-verify:
    "q_label_noise",
    # r13 (optimization pass, guide §2.3/§2.4): basket pairs generated
    # map-side from one collect_set shuffle instead of distinct + both
    # self-join legs — values identical (sf0.001 + sf0.01 oracle-exact),
    # physical plan changed (3 item-table shuffles -> 1), re-verify:
    "q_market_basket",
    # r13 (optimization pass, guide §2.4/§5): per-round piece costs
    # collected as a bounded literal map (<= 156 rows by construction)
    # — no broadcast join, no per-round checkpoint, DP state in exact
    # nano-nat longs instead of DECIMAL(38,9); values identical
    # (sf0.001 + sf0.01 oracle-exact, 6.19 s -> 3.73 s at sf0.1),
    # physical plan changed, re-verify:
    "q_unigram_lm",
    # r13 (optimization pass, guide §2.5): per-group order statistics
    # now go through operators.planner.auto_group_quantile — below the
    # 1M-row gate the original F.percentile aggregate (live at every
    # driver SF; the unconditional bucketed rewrite LOST its A/B
    # locally), above it operators.rank.group_quantile_cont's bucketed
    # two-pass order statistics (live at sf1+, where the per-value
    # single-task-per-group shuffle must go). Values bit-identical on
    # both branches (parity-pinned in tests/test_plans.py; sf0.001 +
    # sf0.01 oracle-exact; bucketed branch hash-checked at sf1; the
    # gate reads its row count from parquet footer metadata, no count
    # job), physical plan changed, re-verify:
    "q_winsorized_stats", "q_mad_outliers",
})
_TOUCHED_BY_ROUND[14] = frozenset({
    # r14 (optimization round 2, guide §2.4): the RP-LSH band union is
    # duplicate-free by construction (s1 leg excludes s0-matches), so
    # the cross-band dropDuplicates exchange and the double-scoring of
    # both-band collisions are gone; pair set identical (sf0.001 +
    # sf0.01 oracle-exact), physical plan changed (6 -> 4 Exchanges),
    # re-verify both the pair query and its CC consumer:
    "q_rp_lsh_pairs", "q_embed_dedup_clusters",
    # r14 (guide §2.4): shared_seed_pairs enumerates C(k, m) seed
    # combinations MAP-SIDE from one groupBy(doc) collect_list exchange
    # (nested array transforms) instead of an (m-1)-fold self-join of
    # the signature table; combo/edge sets identical (parity in
    # profile_plan.py census-stages-ab + the m=3 property pin), plans
    # of both census consumers changed, re-verify (q_kcore_peel uses
    # banded_candidate_pairs, not shared_seed_pairs — plan unchanged,
    # though it was oracle-re-checked at sf0.01 anyway):
    "q_dup_triangles", "q_pagerank_dupgraph",
})
_TOUCHED_BY_ROUND[15] = frozenset({
    # r15: one top-k retrieval kernel (operators/knn.py). q_hybrid_rrf
    # now runs the RRF operator ETLPipeline.hybrid_search shares; its
    # dense leg is exact_knn (per-vector norms + seq_cosine_pre, bit-
    # identical to seq_cosine). Rows identical (sf0.001 + sf0.01
    # oracle-exact), optimized plan changed, re-verify. The other
    # kNN/IVF/recall queries moved onto the same kernel with optimized
    # plans unchanged:
    "q_hybrid_rrf",
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
