"""Cost-gated physical-strategy selection (SURVEY.md §4's optional
custom planner rule, concretized for kNN).

Spark's Catalyst picks join strategies from statistics, but it cannot
know that a queries x corpus crossJoin *semantically* admits an
IVF-bucketed rewrite — that is an engine-level planner rule, not an
expression rewrite. This module implements that rule as a cost gate:

- corpus row count <= threshold  -> exact brute-force top-k (the
  broadcast-nested-loop plan: linear in the corpus, optimal when the
  corpus fits a scan);
- corpus row count  > threshold  -> IVF path: deterministic centroids
  (first n by id — TakeOrdered, no sort of the corpus), nearest-cell
  assignment (broadcast centroids), and an equi-join on ``cell`` so the
  candidate set per probe is ~1/n_cells of the corpus instead of all
  of it.

The gate's only driver action is one column-pruned ``count()`` — the
same O(1)-result class as the k-means drift scalar. Both branches emit
the identical (q_vec_id, rank, c_vec_id, score) schema, and both are
SQL-expressible, so the registered query's DuckDB oracle reproduces the
gate itself (two result branches gated by a scalar count subquery).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..cache import tracked_persist
from .ivf import assign_cells
from .joins import salted_join
from .knn import cell_knn, exact_knn

__all__ = ["auto_dedup", "auto_group_quantile", "auto_join", "auto_knn", "auto_rank"]


def auto_rank(
    df: DataFrame,
    order_cols,
    range_expr,
    *,
    threshold: int = 1_000_000,
    n_buckets: int | None = None,
    rank_name: str = "rank",
    total_name: str | None = None,
    strategy_name: str | None = None,
    bounds=None,
) -> DataFrame:
    """Exact global row_number; physical strategy chosen by input size
    (the global-ordering member of the auto_knn / auto_dedup /
    lsh_adaptive gate family — VERDICT r6, next #8: callers no longer
    pick the scale-safe variant by hand).

    - input <= ``threshold`` rows: ONE unpartitioned window. The
      single-task sort Spark warns about is *optimal* here — no
      boundary-sampling job, no bucket bookkeeping, and the rows fit a
      task by construction (the gate proved it with a count);
    - input  > ``threshold`` rows: the two-pass bucketed rank
      (:func:`~..operators.rank.exact_global_rank` — every shuffle
      partitioned, O(n_buckets) driver bytes).

    Both branches compute the IDENTICAL rank (the bucketed pass is
    pinned equal to row_number in tests/test_properties.py), so unlike
    auto_knn/auto_dedup the gate changes no values — only the physical
    plan — and a registered query over it stays hash-checkable with a
    plain window-function oracle. The gate's driver action is one
    column-pruned count() (bounded-scalar class). ``strategy_name``
    optionally attaches the chosen branch as a column, making the gate
    itself part of the checked result (q_rank_auto exercises the window
    branch at sf0.01 and the bucketed branch at sf0.1).

    Contract mirrors exact_global_rank: ``order_cols`` must totally
    order the rows; ``range_expr`` numeric, NON-NULL (coalesce NULLs to
    a sentinel below the domain — NULL ordering defaults differ across
    engines anyway, so the caller must decide placement explicitly),
    monotone in the leading order column.

    Threshold 1,000,000: calibrated at ~sf1 (CALIBRATION_r08.json) —
    the single window was FASTER than the bucketed pass at every
    measured size through 1.6M rows (1.99 s vs 4.55 s at 1.6M; the
    bucketed path pays a boundary job + an extra shuffle), so the
    latency crossover was never reached locally and the default is set
    by the task-memory bound instead: ~1M ~100-byte rows is ~100 MB in
    one sort task, comfortably inside any executor; beyond that a
    single-task sort risks spill on a real cluster regardless of what
    local timing says.
    """
    from .rank import exact_global_rank

    n = df.count()
    if n <= threshold:
        w = W.orderBy(*order_cols)
        out = df.withColumn(rank_name, F.row_number().over(w).cast("bigint"))
        if total_name is not None:
            out = out.withColumn(total_name, F.lit(n).cast("bigint"))
        strategy = "window"
    else:
        out = exact_global_rank(
            df,
            order_cols,
            range_expr,
            n_buckets=n_buckets,
            rank_name=rank_name,
            total_name=total_name,
            bounds=bounds,
        )
        strategy = "bucketed"
    if strategy_name is not None:
        out = out.withColumn(strategy_name, F.lit(strategy))
    return out


def auto_knn(
    probes: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    threshold: int = 2048,
    n_centroids: int = 8,
) -> DataFrame:
    """Top-k cosine per (q_vec_id, q_emb) probe over the (c_vec_id,
    c_emb) corpus; physical strategy chosen by corpus size. Both branches
    score on the JVM expression path (operators/knn.py, operators/ivf.py).
    The IVF branch's centroids are the first ``n_centroids`` corpus rows
    by ``c_vec_id`` (TakeOrdered, no sort of the corpus). The registry's
    ``q_knn_auto`` checks both branches against its oracle; the document
    pipeline's ``search`` is exact top-k, with no gate.

    Threshold 2048: calibrated at ~sf1 (CALIBRATION_r08.json) on the
    Arrow kernels — exact broadcast kNN wins through 2048 corpus rows
    (0.81 s vs IVF 0.90 s), IVF wins from 4096 up (1.29 vs 1.04,
    widening to 3.86 vs 1.54 at 16384), so the default sits on the last
    measured exact-wins size. On the JVM kernels exact top-k beat the
    IVF branch at every corpus size probed (SEARCH_AB_r15.json: 3,573
    to 57,168 rows), so the default is due for re-calibration.
    """
    if corpus.count() <= threshold:
        return exact_knn(F.broadcast(probes), corpus, k=k)
    cent = (
        corpus.orderBy("c_vec_id")
        .limit(n_centroids)
        .select(F.col("c_vec_id").alias("cent_id"), F.col("c_emb").alias("cemb"))
    )
    c_cells = assign_cells(corpus, cent, "c_vec_id", "c_emb")
    q_cells = assign_cells(probes, cent, "q_vec_id", "q_emb")
    return cell_knn(q_cells, c_cells, k)


def auto_dedup(
    docs: DataFrame,
    *,
    threshold: int = 4096,
    tau: float = 0.5,
) -> DataFrame:
    """Near-dup pairs with exact shingle-Jaccard >= ``tau``; candidate
    strategy cost-gated by corpus size (the dedup twin of :func:`auto_knn`).

    - corpus <= ``threshold`` rows: the exact inverted-index pair stats
      (every co-shingled pair scored — the COMPLETE answer, and cheap
      while sum(df^2) over the shingle index is small);
    - corpus > ``threshold`` rows: MinHash-banded candidate pairs first
      (2-row bands — dedup.banded_candidate_pairs), then exact Jaccard
      verified on the band survivors ONLY — the shingle index is
      semi-joined down to candidate-adjacent docs before any pairing,
      so the quadratic co-shingle step never sees the full corpus.
      The bands must be r >= 2: 1-row-band candidates
      (lsh_candidate_pairs) carry a corpus-quadratic background term
      (any-seed collisions between unrelated docs), so at scale the
      "pruning" semi-join kept nearly the whole corpus and this branch
      degenerated into exact-plus-overhead (measured at the 10x
      rehearsal: 61 s vs ~18 s). With r=2 the candidate set sits on the
      J^2 background scale and the semi-join actually prunes. Recall is
      bounded by the band S-curve 1-(1-s^2)^4 (q_lsh_tuning_curve
      quantifies it; identical docs are always candidates); the trade
      is deliberate and carried in the ``strategy`` output column.

    The gate's only driver action is one column-pruned ``count()``
    (same bounded-scalar class as auto_knn's). Both branches emit the
    identical (doc1, doc2, n_common, jaccard, strategy) schema, both
    are SQL-expressible, and the registered query's oracle reproduces
    the gate as a scalar-count subquery over the two UNION ALL branches.

    Threshold 4096: neither the r8 calibration (CALIBRATION_r08.json,
    any-seed candidates) nor the r9 re-measurement after the 2-row-band
    switch (exact 1.4-2.7 s vs banded 3.3-5.6 s from 512 through 16384
    docs, min-of-2 on the 10x corpus under external load ~8-16) reaches
    a latency crossover — the banded path pays a fixed MinHash+banding
    cost that locally never amortizes, though the r=2 switch roughly
    halved it (was ~9.6 s at 8192). Exact's true cost is
    DUP-DENSITY-bound, not size-bound: the rehearsal corpus is
    deliberately reworded (low co-shingle density), while a dup-dense
    corpus at the same size explodes the co-shingle pair join that
    banding caps. 4096 keeps the measured-faster branch for every size
    the rehearsal covered with margin below the density blow-up regime.
    """
    from .dedup import (
        banded_candidate_pairs,
        minhash_signatures,
        shingle_pair_stats,
        word_shingles,
    )

    n = docs.count()
    # the shingle set feeds sizes + both pairing paths; one
    # materialization (corpus-scale intermediate -> DISK_ONLY, house
    # storage policy from q_dup_spans/q_ngram_jaccard). It must stay
    # cached until the caller materializes the returned lazy plan, so it
    # is tracked for release between queries instead of leaking for the
    # session lifetime (cache.release_tracked; ADVICE r6).
    sh = tracked_persist(word_shingles(docs), StorageLevel.DISK_ONLY)
    if n <= threshold:
        stats = shingle_pair_stats(sh)
        strategy = "exact"
    else:
        # cand feeds the final restriction join AND both arms of the
        # cand_docs union — persist the (small: band-survivor-sized)
        # pair set so the signature/banding subtree runs once, not 3x.
        cand = tracked_persist(
            banded_candidate_pairs(minhash_signatures(sh)).select(
                "doc1", "doc2"
            )
        )
        cand_docs = (
            cand.select(F.col("doc1").alias("doc_id"))
            .union(cand.select(F.col("doc2").alias("doc_id")))
            .distinct()
        )
        sh_c = sh.join(cand_docs, "doc_id", "left_semi")
        stats = shingle_pair_stats(sh_c).join(cand, ["doc1", "doc2"])
        strategy = "banded"
    # denominators >= n_common >= 1 for any co-shingled pair: safe
    jac = F.col("n_common").cast("double") / (
        F.col("n_sh1") + F.col("n_sh2") - F.col("n_common")
    )
    return (
        stats.select(
            "doc1",
            "doc2",
            "n_common",
            jac.alias("jaccard"),
            F.lit(strategy).alias("strategy"),
        )
        .filter(F.col("jaccard") >= F.lit(tau))
    )


def auto_join(
    fact: DataFrame,
    dim: DataFrame,
    keys,
    salt_src: str,
    *,
    n_salts: int = 8,
    skew_threshold: float = 16.0,
    strategy_name: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the physical strategy chosen by MEASURED fact-side
    key skew (the fifth planner gate — VERDICT r7, next #6; q_key_skew's
    profiler statistic wired into a cost gate).

    Gate statistic: ``skew_ratio = max_group * n_keys / total`` — the
    hottest key's share of the fact table relative to a uniform spread
    (1.0 = perfectly balanced; k means the hot key's task is k times the
    average). Above ``skew_threshold`` the join salts the fact side
    (operators/joins.salted_join: hot keys split across ``n_salts``
    tasks, dim replicated by an explode — no extra scan); below it the
    plain shuffle join wins, because salting pays n_salts x the dim
    shuffle volume and a wider exchange for no straggler relief.

    Both branches produce IDENTICAL rows (salting is invisible in the
    result — pinned by q_salted_join's plain-join oracle), so like
    auto_rank the gate changes only the physical plan and a registered
    query stays hash-checkable, with the gate decision itself exposed
    via ``strategy_name`` and reproduced in the oracle as a CASE over
    the same ratio. The gate's driver action is one map-side-combined
    groupBy count + a 1-row agg (bounded-scalar class). NULL fact keys
    are excluded from the measurement: an inner equi-join prunes them
    before the shuffle, so they cannot skew any task.

    Default threshold 16: the ~sf1 calibration (CALIBRATION_r08.json)
    showed plain + AQE BEATING salted at every measured hot-key share
    (plain ~0.26 s flat vs salted ~0.44 s even at ratio 12000 — AQE's
    skew-split absorbs a 1M-row hot key locally, and salting always
    pays the n_salts-fold dim replication), so locally the crossover is
    unreachable and the default comes from the straggler model instead:
    salting matters when one key's rows exceed what a single executor
    task can hold/process within the stage budget — a regime local
    timing cannot surface. 16 means "the hot task would be 16x the
    average"; below that AQE's split is the cheaper mitigation.
    """
    keys = list(keys)
    sizes = fact
    for k in keys:
        sizes = sizes.filter(F.col(k).isNotNull())
    row = (
        sizes.groupBy(*keys)
        .agg(F.count("*").alias("__cnt"))
        .agg(
            F.max("__cnt").alias("mx"),
            F.count("*").alias("nk"),
            F.sum("__cnt").alias("tot"),
        )
        .collect()[0]
    )
    ratio = (
        float(row.mx) * float(row.nk) / float(row.tot)
        if row.tot
        else 0.0
    )
    if ratio > skew_threshold:
        out = salted_join(fact, dim, keys=keys, salt_src=salt_src, n_salts=n_salts, how=how)
        strategy = "salted"
    else:
        out = fact.join(dim, keys, how)
        strategy = "plain"
    if strategy_name is not None:
        out = out.withColumn(strategy_name, F.lit(strategy))
    return out


def auto_group_quantile(
    df: DataFrame,
    group_cols,
    value_col,
    ps: dict,
    *,
    n_rows: int | None = None,
    threshold: int = 1_000_000,
    n_buckets: int | None = None,
) -> DataFrame:
    """Per-group exact interpolated quantiles; physical strategy chosen
    by input size (the order-statistics member of the auto_rank /
    auto_knn / auto_dedup gate family — r13 optimization round).

    - input <= ``threshold`` rows: plain ``F.percentile``. Its
      buffering typed aggregate ships every value of a group to that
      group's single reduce task and sorts there — *optimal* below the
      gate (one exchange, no bucket bookkeeping; the A/Bs in
      q_winsorized_stats / q_mad_outliers measured the bucketed pass
      ~1.2 s slower per selection at sf0.1, where the largest group is
      ~200k values);
    - input  > ``threshold`` rows: the bucketed two-pass order
      statistics (:func:`~.rank.group_quantile_cont`) — per-value
      shuffle replaced by a map-side-combined (group, bucket) count
      (KBs) plus a partitioned sort of only the target buckets
      (~1/n_buckets of the rows). At sf1 the two are at wall-time
      parity locally (7.75 s vs 7.64 s winsorized end-to-end) while
      shuffle drops ~100x; past single-task scale only this branch
      survives.

    Both branches compute IDENTICAL values — group_quantile_cont
    reproduces ``Percentile.getPercentile``'s double interpolation
    bit-for-bit (pinned in tests/test_plans.py::
    test_group_quantile_cont_parity) — so the gate changes only the
    physical plan and a registered query over it stays hash-checkable
    with a plain ``quantile_cont`` oracle. Caveat shared with the
    bucketed operator: a group whose values are all NULL yields no
    output row on the bucketed branch but a NULL-quantile row from
    ``F.percentile``; callers must guarantee >= 1 non-null value per
    group (ours are TPC-H measures, never NULL).

    ``n_rows``: pass a known row count to skip the gate's count job —
    q_mad_outliers gates its SECOND selection (over a broadcast-join
    output whose row count equals the base table's by construction)
    on the base count, so the gate never executes the join subtree
    early. Threshold 1,000,000 = the auto_rank task-memory bound: the
    gate proves with a count that every group's buffered sort fits a
    task (~1M ~8-byte values plus aggregate overhead); beyond that a
    single-task per-group sort risks spill on a real cluster
    regardless of what local timing says.
    """
    from .rank import group_quantile_cont

    n = df.count() if n_rows is None else n_rows
    if n <= threshold:
        return df.groupBy(*group_cols).agg(
            *[
                F.percentile(value_col, F.lit(p)).alias(name)
                for name, p in ps.items()
            ]
        )
    return group_quantile_cont(df, group_cols, value_col, ps, n_buckets=n_buckets)
