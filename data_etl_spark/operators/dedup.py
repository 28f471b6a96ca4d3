"""Deduplication primitives: word-shingles, MinHash, LSH banding, SimHash.

North-star LLM-data-pipeline operators (BASELINE.json): built as
relational compositions (explode -> distinct -> self-join / group-by)
so every stage is shuffle-planned by Catalyst, scales by key, and has an
exact SQL oracle. Hashing is md5-based (not Spark's murmur3) *because*
md5 exists identically in DuckDB — minhashes compare lexicographically
as hex strings, which preserves the uniform-min property.

Scale posture: the shingle inverted index is the classic MapReduce dedup
layout — pair generation is bounded per shingle, never an O(n²) cross
join — and ubiquitous shingles are document-frequency-capped BEFORE any
self-join (see ``word_shingles``), so no single inverted-index bucket
grows with corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX

#: Drop shingles appearing in more documents than this before any
#: self-join. Boilerplate shingles ("terms of service apply") put a
#: corpus-fraction of docs into ONE inverted-index bucket; the bucketed
#: self-join then emits O(DF²) pairs from that bucket — the classic
#: dedup skew-killer at 100 TB. Pairs whose entire overlap is such
#: ubiquitous text are exactly the pairs near-dup detection should not
#: emit, so the cap trades no useful recall.
DEFAULT_MAX_SHINGLE_DF = 1000


def word_shingles(
    df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Distinct n-word shingles per document: (key, shingle).

    Built as zip_with over n shifted array slices rather than
    ``transform(sequence(...), i -> element_at(ws, i+j))``: Catalyst
    inlines the ``split()`` producing ``ws`` into the lambda, so the
    element_at form re-tokenizes the document for every shingle element
    (O(words²) per doc — measured 4x slower at sf0.1). Slices evaluate
    the array once per row.
    """
    # Repartition by key before the tokenize+explode flatMap: the test
    # files are single-row-group parquet (one scan task), so without
    # this the heavy per-row work runs on one core. Shuffling the raw
    # docs is cheap (bytes ~ input size); the explode output (10-100x
    # larger) is what must be born parallel. On splittable 100 TB input
    # the scan already parallelizes and this spreads per-doc skew.
    ws_df = df.select(key, F.col(text_col)).repartition(F.col(key)).select(
        key, TX.words(F.col(text_col)).alias("__ws")
    )
    cnt = F.greatest(F.size(F.col("__ws")) - (n - 1), F.lit(0))
    slices = [F.slice(F.col("__ws"), j + 1, cnt) for j in range(n)]
    z = slices[0]
    for s in slices[1:]:
        z = F.zip_with(z, s, lambda a, b: F.concat_ws(" ", a, b))
    # per-doc set dedup BEFORE the explode: array_distinct is per-row
    # (no shuffle), and with ``key`` riding every row it is exactly the
    # old post-explode DataFrame .distinct(), which paid a full
    # corpus-scale exchange for the same result. A/B at sf0.01:
    # 3.26 s -> 0.56 s for the set build, 1.23 s -> 0.54 s through the
    # DF-count consumer (scripts/profile_plan.py shingles-distinct-ab);
    # sh also stays hash-partitioned by key for downstream per-doc aggs.
    sh = ws_df.select(key, F.explode(F.array_distinct(z)).alias("shingle"))
    if max_df is None:
        return sh
    # DF cap: count per shingle (map-side partial agg — the shuffle
    # carries (shingle, count) partials, not rows), keep the HOT set
    # (small by construction: shingles in >max_df docs), broadcast
    # anti-join it away. Persist the raw set so the tokenize+explode
    # subtree runs once for both the count and the probe side —
    # DISK_ONLY: the distinct (doc, shingle) set is corpus-scale
    # (~word positions x 1), the same size class as q_dup_spans'
    # 8-grams; caching it in executor memory would evict hotter blocks
    # at 100 TB.
    from pyspark.storagelevel import StorageLevel

    from ..cache import tracked_persist

    sh = tracked_persist(sh, StorageLevel.DISK_ONLY)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def word_shingles_sql(
    table: str,
    key: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> str:
    """DuckDB CTE body for distinct (key, shingle) pairs (same DF cap)."""
    ws = TX.words_sql(text_col)
    parts = " || ' ' || ".join(f"ws[i + {j}]" for j in range(n))
    base = f"""
        SELECT DISTINCT {key}, unnest(
            list_transform(generate_series(1, greatest(len(ws) - {n - 1}, 0)),
                           i -> {parts})) AS shingle
        FROM (SELECT {key}, {ws} AS ws FROM {table})
    """
    if max_df is None:
        return base
    return f"""
        SELECT * FROM ({base}) shraw
        WHERE shingle NOT IN (
            SELECT shingle FROM ({base}) shdf
            GROUP BY shingle HAVING count(*) > {max_df})
    """


# Universal-hash family for MinHash: ONE md5 per shingle supplies two
# 24-bit integers (a, b); seed j's hash is (a*P1[j] + b*P2[j] + Q[j])
# mod 2^31 — integer arithmetic, exact in BIGINT in both engines. This
# replaces k md5 calls per shingle with one (at sf0.1 that is 16M -> 2M
# md5 evaluations; measured ~2.5x faster end-to-end) while keeping the
# uniform-min property per seed.
_MH_P1 = [1000003 + 7919 * j for j in range(16)]
_MH_P2 = [999983 + 104729 * j for j in range(16)]
_MH_Q = [15485863 + 32452843 * j for j in range(16)]
_MH_MOD = 2**31


def _hexval6_sql(h: str, start: int) -> str:
    """Portable int value of 6 hex chars of expr ``h`` from ``start``
    (1-based): instr-based nibble parsing, identical in both dialects."""
    v = f"(instr('0123456789abcdef', substring({h}, {start}, 1)) - 1)"
    for p in range(start + 1, start + 6):
        v = f"({v} * 16 + (instr('0123456789abcdef', substring({h}, {p}, 1)) - 1))"
    return v


def _minhash_val_sql(arr: str, idx: str) -> str:
    """Seed hash value; (arr, idx) = ('array', 'element_at') for Spark,
    ('list_value', 'list_extract') for DuckDB (element_at is map-only
    there) — 1-based indexing in both."""
    p1 = f"{arr}({', '.join(str(x) for x in _MH_P1)})"
    p2 = f"{arr}({', '.join(str(x) for x in _MH_P2)})"
    q = f"{arr}({', '.join(str(x) for x in _MH_Q)})"
    a = _hexval6_sql("__mh", 1)
    b = _hexval6_sql("__mh", 7)
    return (
        f"(CAST({a} AS BIGINT) * {idx}({p1}, seed + 1)"
        f" + CAST({b} AS BIGINT) * {idx}({p2}, seed + 1)"
        f" + {idx}({q}, seed + 1)) % {_MH_MOD}"
    )


def minhash_signatures(shingles: DataFrame, key: str = "doc_id", k: int = 8) -> DataFrame:
    """k MinHash values per key (universal integer hashing, see above).

    One shuffle (the groupBy on key×seed); the seed explode and the
    partial min are map-side — partial aggregation collapses the k
    exploded rows per shingle to ~(keys × k) rows per partition before
    any data moves, so the explode never inflates the shuffle. A
    columnar variant (k min-aggregate EXPRESSIONS per key + post-agg
    unpivot) was A/B-measured at sf1 and LOST: 3.3 s vs 2.5 s
    steady-state and 18 s vs 6 s on first run — the 8-wide expression
    agg generates a codegen unit whose JIT cost dwarfs the explode's
    row overhead, and every consumer plan re-pays it. Keep the long
    form; it is also textually parallel to the SQL oracle below.
    """
    return (
        shingles.withColumn("__mh", F.md5("shingle"))
        .withColumn("seed", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
        .withColumn("__v", F.expr(_minhash_val_sql("array", "element_at")))
        .groupBy(key, "seed")
        .agg(F.min("__v").alias("minhash"))
    )


def minhash_signatures_sql(shingle_cte: str, key: str = "doc_id", k: int = 8) -> str:
    val = _minhash_val_sql("list_value", "list_extract")
    return f"""
        SELECT {key}, seed, min({val}) AS minhash
        FROM (SELECT {key}, md5(shingle) AS __mh
              FROM ({shingle_cte}) s0) s,
             (SELECT unnest(generate_series(0, {k - 1})) AS seed)
        GROUP BY {key}, seed
    """


def lsh_candidate_pairs(signatures: DataFrame, key: str = "doc_id") -> DataFrame:
    """LSH with 1-row bands: docs sharing any (seed, minhash) bucket.

    Self-join on the bucket key — at 100 TB hot buckets get capped
    (a bucket shared by B docs emits B² pairs; production would salt or
    drop buckets with B > threshold before the join).
    """
    a = signatures.select(F.col(key).alias("doc1"), "seed", "minhash")
    b = signatures.select(F.col(key).alias("doc2"), "seed", "minhash")
    return (
        a.join(b, ["seed", "minhash"])
        .filter(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.countDistinct("seed").alias("n_shared_bands"))
    )


def banded_candidate_pairs(
    signatures: DataFrame, key: str = "doc_id", r: int = 2
) -> DataFrame:
    """LSH candidates with r-row bands (b = k/r bands): a pair is a
    candidate only if ALL r minhashes of some band agree. The bucket
    key is the band's minhash CONCATENATION, so bucket occupancy — and
    with it the self-join's pair-enumeration cost — sits on the J^r
    background scale instead of :func:`lsh_candidate_pairs`'s J scale:
    the 1-row-band bucket graph grows quadratically with the corpus
    (measured: 10x docs -> 31x pairs on the rehearsal corpus) because
    two unrelated docs collide on SOME single seed with a
    corpus-independent probability, while an r=2 band requires an
    independent double agreement. Candidate probability for a pair at
    Jaccard s drops from 1-(1-s)^k to 1-(1-s^r)^(k/r) (the steeper
    S-curve q_lsh_tuning_curve measures); identical texts have
    identical signatures and are ALWAYS candidates.

    Returns (doc1, doc2, n_shared_bands) with doc1 < doc2, one row per
    candidate pair, n_shared_bands counting agreeing bands.

    SUBTREE COST DECOMPOSITION (VERDICT r11 #5; sf1 marginal wall with
    each stage's input persisted — scripts/profile_plan.py
    banded-stages): shingle set build 5.0 s cold / ~1.5 s steady,
    minhash_signatures 2.65 s (the 21M-row seed-explode hash-agg),
    band keys 0.46-1.1 s, pair self-join + group 0.95 s. The
    signature agg dominates the post-shingle subtree and its columnar
    alternative already LOST an A/B (see minhash_signatures). The
    band-key build also resists improvement: folding ALL seeds in ONE
    groupBy(key) and deriving every band key with array expressions
    (saving the second, narrower shuffle) was A/B-measured at sf1 and
    LOST — 0.89 s vs 0.46 s shipped (banded-bandkey-ab; output sets
    verified identical) — the wide-row collect_list fold plus
    per-band array slicing costs more than shuffling the k narrow
    signature rows again. The subtree's remaining constant is
    irreducible under these shapes; the dedup-family sf1 tail is the
    CANDIDATE-SET size itself (cause-a/b allowlist, audit-verified
    per run), not a fixable plan artifact.
    """
    banded = (
        signatures.withColumn("band", F.expr(f"seed div {r}"))
        .groupBy(key, "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("seed"),
                                F.col("minhash").cast("string").alias("minhash"),
                            )
                        )
                    ),
                    lambda s: s.minhash,
                ),
                ":",
            ).alias("band_key")
        )
    )
    a = banded.select(F.col(key).alias("doc1"), "band", "band_key")
    b = banded.select(F.col(key).alias("doc2"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.count("*").alias("n_shared_bands"))
    )


def shared_seed_pairs(
    signatures: DataFrame, key: str = "doc_id", min_shared: int = 2
) -> DataFrame:
    """Pairs whose signatures agree on >= ``min_shared`` seeds, computed
    WITHOUT enumerating the 1-row-band candidate set.

    ``lsh_candidate_pairs(sig).filter(n_shared_bands >= m)`` gives the
    same pair set, but its self-join materializes every single-seed
    collision first — the quadratic-background volume the filter then
    throws away (at 10x the rehearsal corpus that intermediate is 31x
    the pairs for 17x the docs, and it only gets worse). This operator
    instead enumerates, per doc, the C(k, m) seed COMBINATIONS (m =
    ``min_shared``; 28 per doc at k=8, m=2) MAP-SIDE: one groupBy(key)
    ``collect_list`` of (seed, minhash) structs, sorted by seed, then
    nested array transforms emit every ascending-position m-subset of
    that array — no self-join of the signature table. It then
    self-joins on the combination bucket (seed ids + their minhashes):
    a pair lands in a combo bucket
    exactly when it agrees on that whole m-subset, so the join's
    enumeration volume is the J^m background scale — the SAME scale as
    the result — plus C(s, m) duplicate hits per truly-similar pair
    (s = seeds agreed), removed by the distinct. The C(k, m) per-doc
    blowup is the cost knob: m near k/2 maximizes it (70 at k=8, m=4),
    so raising m buys precision with a bounded constant, not a new
    asymptotic term.

    Precondition: each key's seeds are distinct — one (key, seed) row,
    as :func:`minhash_signatures` emits. The enumeration picks array
    POSITIONS, so a repeated seed would yield combos that name one seed
    twice and a pair agreeing on fewer than m distinct seeds could
    pass. It is checked, not assumed: the per-doc array is built through
    ``map_from_entries``, which fails the job on a repeated seed under
    Spark's default ``spark.sql.mapKeyDedupPolicy=EXCEPTION`` — inside
    the grouping job that runs anyway, so the check adds no job.

    Output: (doc1, doc2) distinct, doc1 < doc2 — the precision-filtered
    dup-graph edge list used by the graph-analytic queries
    (min_shared = _GRAPH_MIN_SHARED there; the parameter is a real knob,
    property-pinned at m=3 in tests/test_planner.py).
    """
    if min_shared < 1:
        raise ValueError("min_shared must be >= 1")
    # Combo enumeration is MAP-SIDE over the per-doc signature array
    # (r14; guide §2.4): the previous (m-1)-fold ascending-seed
    # self-join re-shuffled the signature table once per fold and
    # re-derived the combos inside every consumer plan — one
    # groupBy(key) exchange + nested array transforms produce the same
    # C(k, m) ascending-seed combinations per doc (seeds are distinct
    # integers, so sort_array(struct(seed, minhash)) IS the s0<s1<...
    # enumeration; parity: combo sets and edge sets identical at
    # sf0.001/sf0.1, scripts/profile_plan.py census-stages-ab, and the
    # m=3 property pin in tests/test_planner.py). Measured sf0.1
    # edges-subtree 1.08-1.10 s -> 0.41 s warm (2.6x, interleaved
    # min-of-3); at 100 TB: m corpus-scale exchanges -> 1.

    def _combos(arr, level: int, m: int):
        """array of structs s{level}..,m{level}.. — all ascending m-touples
        drawn from the (seed-sorted) struct array ``arr``."""
        fields = lambda x, lv: [  # noqa: E731
            x["key"].alias(f"s{lv}"), x["value"].alias(f"m{lv}"),
        ]
        if m == 1:
            return F.transform(arr, lambda x: F.struct(*fields(x, level)))
        return F.flatten(
            F.transform(
                arr,
                lambda x, i: F.transform(
                    _combos(F.slice(arr, i + 2, F.size(arr)), level + 1, m - 1),
                    lambda y: F.struct(
                        *fields(x, level),
                        *[
                            y[f]
                            for j in range(level + 1, level + m)
                            for f in (f"s{j}", f"m{j}")
                        ],
                    ),
                ),
            )
        )

    seed_map = F.map_from_entries(F.collect_list(F.struct("seed", "minhash")))
    grouped = signatures.groupBy(key).agg(
        F.sort_array(F.map_entries(seed_map)).alias("__sm")
    )
    combos = grouped.select(
        key, F.explode(_combos(F.col("__sm"), 0, min_shared)).alias("__c")
    ).select(key, "__c.*")
    bucket = [c for i in range(min_shared) for c in (f"s{i}", f"m{i}")]
    a = combos.select(F.col(key).alias("doc1"), *bucket)
    b = combos.select(F.col(key).alias("doc2"), *bucket)
    return (
        a.join(b, bucket)
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )


def co_shingle_pairs(
    shingles: DataFrame,
    left: DataFrame | None = None,
    key: str = "doc_id",
) -> DataFrame:
    """(doc1, doc2, n_common) via the inverted-index join — the ONE
    implementation of the co-shingle pairs block (behind Jaccard,
    containment, the LSH estimate/tuning evals, and hard-negative
    mining). Pair volume is bounded per shingle by the DF cap
    upstream, never corpus².

    ``left=None`` (default): symmetric self-join, tie-break
    doc1 < doc2 — one row per unordered pair.

    ``left=<subset of shingles>``: DIRECTED pairs (doc1 drawn from
    ``left``, doc2 from the full table, doc1 != doc2). This is the
    anchor-restricted form: when only a known SMALL subset of docs can
    ever emit an output row (e.g. an incremental batch probed against
    the standing corpus), semi-joining the probe side down FIRST cuts
    the join's pair volume from sum(df²) to sum(df·df_left) — the
    corpus-scale side is scanned once and never self-joined. Caveat
    (measured, plans/dedup.q_hard_negatives A/B): the directed form
    keeps both orientations of left×left pairs, so when ``left``
    exceeds ~half the corpus it builds MORE grouped pairs than the
    symmetric form (sf1: 42.9M vs 34.7M, 14.8 s vs 13.9 s) — pick by
    |left|/|corpus|, not by reflex."""
    b = shingles.select(F.col(key).alias("doc2"), "shingle")
    if left is None:
        a = shingles.select(F.col(key).alias("doc1"), "shingle")
        cond = F.col("doc1") < F.col("doc2")
    else:
        a = left.select(F.col(key).alias("doc1"), "shingle")
        cond = F.col("doc1") != F.col("doc2")
    return (
        a.join(b, "shingle")
        .filter(cond)
        .groupBy("doc1", "doc2")
        .agg(F.count("*").alias("n_common"))
    )


def shingle_pair_stats(shingles: DataFrame, key: str = "doc_id") -> DataFrame:
    """(doc1, doc2, n_common, n_sh1, n_sh2) for every co-shingled pair:
    ``co_shingle_pairs`` (the one pairs implementation) + per-doc set
    sizes, the shared block behind Jaccard, containment and the LSH
    estimate/tuning evals."""
    sizes = shingles.groupBy(key).agg(F.count("*").alias("n_sh"))
    pairs = co_shingle_pairs(shingles, key=key)
    s1 = sizes.select(F.col(key).alias("doc1"), F.col("n_sh").alias("n_sh1"))
    s2 = sizes.select(F.col(key).alias("doc2"), F.col("n_sh").alias("n_sh2"))
    # per-doc sizes are corpus-unbounded: no broadcast hint (planner picks)
    return pairs.join(s1, "doc1").join(s2, "doc2")


def setsim_pairs(
    shingles: DataFrame, tau: float, key: str = "doc_id"
) -> DataFrame:
    """Exact set-similarity self-join: every pair with Jaccard >= tau,
    via PREFIX FILTERING with the POSITIONAL bound (Chaudhuri et al.
    SSJoin, ICDE'06; Bayardo et al. All-Pairs, WWW'07; Xiao et al.
    PPJoin, WWW'08) instead of the full inverted-index join.

    Under any global total order of tokens, if J(A,B) >= tau then the
    first ``|A| - ceil(tau*|A|) + 1`` tokens of A and of B must share an
    element (were the prefixes disjoint, the whole intersection would
    fit in one suffix of size ceil(tau*|A|) - 1 < tau*|A| <= |A n B|).
    So candidates = pairs co-occurring in a PREFIX token — a provably
    complete envelope — and each candidate is verified exactly. The
    order is (document frequency ASC, token ASC): rarest first, which
    pushes hot tokens out of every prefix. The prefix uses the floor
    form ``n - floor(tau*n) + 1`` (>= the ceil form, so completeness
    survives any float rounding of tau*n).

    Two further complete prunes ride the candidate join:
    - SIZE: J >= tau forces tau*max(|A|,|B|) <= min(|A|,|B|).
    - POSITIONAL (PPJoin): a token matching at sorted positions (i, j)
      bounds the overlap by 1 + min(|A|-i, |B|-j); J >= tau needs
      overlap >= tau/(1+tau) * (|A|+|B|). Positions only grow along
      successive shared tokens, so the FIRST shared prefix token gives
      the largest bound — "any matching row passes" is exactly "the
      first match passes", and dropping rows that fail keeps the
      envelope complete. (Both float comparisons are relaxed by 1e-9:
      a looser envelope is always safe, verification is exact.)

    WHEN THIS WINS: corpora whose token DF is power-law and UNCAPPED —
    the inverted-index join pays sum(df^2) pairs, which a single hot
    token makes quadratic, while no hot token ever enters a prefix
    here. On DF-capped short-doc corpora (all driver/test SFs: max df
    136 at sf1, cap 1000 — the cap never binds) the plain capped join
    is locally faster; this operator is the EXACT path that needs no
    recall-trading cap at 100 TB.

    Verification is JVM-side: per-doc sorted token arrays (semi-joined
    down to candidate members BEFORE the collect), exact
    ``size(array_intersect(...))`` counts (token sets are distinct
    upstream) — value-identical to the brute-force join at any tau.

    The three multiply-consumed intermediates are tracked-persisted
    (DISK_ONLY): ``prefix`` feeds both sides of the candidate
    self-join, ``cand`` feeds the member semi-join plus both verify
    joins, and ``arrs`` feeds both verify sides. Unpersisted, Catalyst
    recomputes the whole rank-window subtree per consumer — the
    persists plus the window-form DF (below) measured 17.9 s -> 11.0 s
    at sf1 for the identical result, and the full query wall 29.4 s ->
    7.0 s min-of-2 (round-10 profiles, scripts/profile_setsim*.py).
    The verification shape was A/B'd against the candidate-restricted
    token join (cand |><| tokens -> groupBy(doc1,doc2).count): arrays
    4.5 s vs token-join 11.1 s at sf1 — the token join shuffles
    (doc1,doc2,shingle) at candidate x doc-size volume twice, while the
    array attach ships each member's array once per pair side. Arrays
    kept. DISK_ONLY for the same reason as ``word_shingles``: these are
    corpus-scale sets that would evict hotter executor-memory blocks at
    100 TB.

    Returns (doc1, doc2, n_common, n_sh1, n_sh2) for pairs with
    J >= tau, doc1 < doc2 — the shingle_pair_stats shape, thresholded.
    """
    from pyspark.sql import Window as W
    from pyspark.storagelevel import StorageLevel

    from ..cache import tracked_persist

    order = W.partitionBy(key).orderBy("__df", "shingle")
    # Token DF as a window count over partitionBy(shingle) — NOT a
    # groupBy + join: the join shape shuffles and sorts the token table
    # twice (agg side + SMJ probe side) before the rank window's third
    # exchange; the window form is exactly two full-table exchanges
    # (by shingle, then by key). Measured 4.4 s -> 1.7 s at sf1
    # (scripts/profile_setsim4.py). Skew-safe: the per-shingle
    # partition is bounded by word_shingles' DF cap. n_sh rides the
    # rank window's exchange the same way (count over partitionBy(key)).
    ranked = shingles.select(
        key,
        "shingle",
        F.count("*").over(W.partitionBy("shingle")).alias("__df"),
    ).select(
        key,
        "shingle",
        F.row_number().over(order).alias("__rk"),
        F.count("*").over(W.partitionBy(key)).alias("n_sh"),
    )
    prefix = tracked_persist(
        ranked.filter(
            F.col("__rk")
            <= F.col("n_sh") - F.floor(F.lit(float(tau)) * F.col("n_sh")) + 1
        ),
        StorageLevel.DISK_ONLY,
    )
    a = prefix.select(
        F.col(key).alias("doc1"),
        "shingle",
        F.col("n_sh").alias("n_sh1"),
        F.col("__rk").alias("__rk1"),
    )
    b = prefix.select(
        F.col(key).alias("doc2"),
        "shingle",
        F.col("n_sh").alias("n_sh2"),
        F.col("__rk").alias("__rk2"),
    )
    size_ok = (
        F.least("n_sh1", "n_sh2").cast("double")
        >= F.lit(float(tau)) * F.greatest("n_sh1", "n_sh2") - F.lit(1e-9)
    )
    pos_ok = (
        1 + F.least(F.col("n_sh1") - F.col("__rk1"), F.col("n_sh2") - F.col("__rk2"))
    ).cast("double") >= F.lit(float(tau) / (1.0 + float(tau))) * (
        F.col("n_sh1") + F.col("n_sh2")
    ) - F.lit(1e-9)
    # cand is output-scale (two ids per row), not corpus-scale: default
    # memory-and-disk level, unlike the corpus-scale prefix/arrs sets
    cand = tracked_persist(
        a.join(b, "shingle")
        .filter((F.col("doc1") < F.col("doc2")) & size_ok & pos_ok)
        .select("doc1", "doc2")
        .distinct()
    )
    # prune the token table to candidate members BEFORE the per-doc
    # array build (cand is tiny post-prefix; shingles is corpus-scale)
    members = (
        cand.select(F.explode(F.array("doc1", "doc2")).alias(key)).distinct()
    )
    arrs = tracked_persist(
        shingles.join(members, key, "left_semi")
        .groupBy(key)
        .agg(F.collect_list("shingle").alias("__arr"), F.count("*").alias("n_sh")),
        StorageLevel.DISK_ONLY,
    )
    verified = (
        cand.join(
            arrs.select(
                F.col(key).alias("doc1"),
                F.col("__arr").alias("__a1"),
                F.col("n_sh").alias("n_sh1"),
            ),
            "doc1",
        )
        .join(
            arrs.select(
                F.col(key).alias("doc2"),
                F.col("__arr").alias("__a2"),
                F.col("n_sh").alias("n_sh2"),
            ),
            "doc2",
        )
        .select(
            "doc1",
            "doc2",
            F.size(F.array_intersect("__a1", "__a2")).alias("n_common"),
            "n_sh1",
            "n_sh2",
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_sh1") + F.col("n_sh2") - F.col("n_common")
    )
    return verified.filter(jac >= F.lit(float(tau)))
