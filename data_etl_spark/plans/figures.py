"""Figure-placement operators (SURVEY.md §2 J1/J2/J4, W1/W3/W4, O7, A5 —
the reference's markdown image-placement pipeline re-expressed
relationally).

The driver ships no figures table, so fixtures are synthesized
*deterministically inside each query* from the relational tables (pure
integer arithmetic — identical rows in Spark and DuckDB), per
FIXTURES.md §B. That keeps every operator oracle-checkable without PDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources import load_table, parallelize_narrow_scan
from .registry import register

# Synthetic figures from `part`: bbox + page + 40%-null captions
# (image_manager.py:13-20 record shape; FIXTURES.md `figures`).
_FIGURES_SQL = """
    SELECT CAST(p_partkey AS BIGINT) AS fig_key,
           'doc_' || CAST(p_partkey % 50 AS VARCHAR) AS filename,
           CAST(p_partkey % 30 + 1 AS INT) AS page,
           CAST((p_partkey * 37) % 500 AS DOUBLE) AS x0,
           CAST((p_partkey * 73) % 700 AS DOUBLE) AS y0,
           CAST((p_partkey * 37) % 500 + 40 + p_partkey % 60 AS DOUBLE) AS x1,
           CAST((p_partkey * 73) % 700 + 30 + p_partkey % 45 AS DOUBLE) AS y1,
           CASE WHEN p_partkey % 5 < 2 THEN '[Figure  ' || CAST(p_partkey AS VARCHAR) || ']   (detail)' END AS caption
    FROM part
"""

_FIGURES_SPARK = _FIGURES_SQL.replace("VARCHAR", "STRING")


def _figures(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_FIGURES_SPARK)


# ---------------------------------------------------------------------------
# q_figure_enumeration — W1: FIG_{page:03d}_{idx:02d} ids via ordered
# window (image_manager.py:211-216), plus T8 alt-text fallback.
# ---------------------------------------------------------------------------

_ENUM_ORACLE = f"""
WITH figures AS ({_FIGURES_SQL}),
r AS (
    SELECT *, row_number() OVER (PARTITION BY filename, page
                                 ORDER BY y0, x0, fig_key) AS idx
    FROM figures
)
SELECT filename, page,
       'FIG_' || lpad(CAST(page AS VARCHAR), 3, '0') || '_' || lpad(CAST(idx AS VARCHAR), 2, '0') AS fig_id,
       x0, y0, x1, y1,
       coalesce(nullif(trim(regexp_replace(regexp_replace(caption, '[\\[\\]()]', '', 'g'), '\\s+', ' ', 'g')), ''), 'image') AS alt_text
FROM r
"""


@register("q_figure_enumeration", oracle=_ENUM_ORACLE, tags=("phase2", "figures"))
def q_figure_enumeration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page figure enumeration W1 + alt-text sanitize fallback T8."""
    f = _figures(spark, sf_dir)
    w = W.partitionBy("filename", "page").orderBy("y0", "x0", "fig_key")
    return f.withColumn("idx", F.row_number().over(w)).select(
        "filename",
        "page",
        F.concat(
            F.lit("FIG_"),
            F.lpad(F.col("page").cast("string"), 3, "0"),
            F.lit("_"),
            F.lpad(F.col("idx").cast("string"), 2, "0"),
        ).alias("fig_id"),
        "x0",
        "y0",
        "x1",
        "y1",
        # T8 alt-text sanitize (image_manager.py:22-33): strip markdown
        # link/bracket chars, collapse whitespace, default "image"
        F.coalesce(
            F.nullif(
                F.trim(
                    F.regexp_replace(
                        F.regexp_replace("caption", r"[\[\]()]", ""), r"\s+", " "
                    )
                ),
                F.lit(""),
            ),
            F.lit("image"),
        ).alias("alt_text"),
    )


# ---------------------------------------------------------------------------
# q_page_bounds — W3 (lead) + W4 (monotone running-max clamp) over
# synthetic page anchors (markdown_conversion_manager.py:167-172,
# markdown_manager.py:245-249).
# ---------------------------------------------------------------------------

_ANCHORS_SQL = """
    SELECT 'doc_' || CAST(o_orderkey % 50 AS VARCHAR) AS filename,
           CAST(o_orderkey % 30 + 1 AS INT) AS page,
           CAST(min((o_orderkey * 17) % 10000) AS BIGINT) AS raw_offset
    FROM orders
    GROUP BY 1, 2
"""

_BOUNDS_ORACLE = f"""
WITH page_anchors AS ({_ANCHORS_SQL}),
clamped AS (
    SELECT filename, page,
           max(raw_offset) OVER (PARTITION BY filename ORDER BY page
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS start_offset
    FROM page_anchors
)
SELECT filename, page, start_offset,
       lead(start_offset, 1, 100000) OVER (PARTITION BY filename ORDER BY page) AS end_offset
FROM clamped
"""


@register("q_page_bounds", oracle=_BOUNDS_ORACLE, tags=("phase2", "figures"))
def q_page_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page [start,end) bounds: running-max clamp W4 then lead W3."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    anchors = spark.sql(_ANCHORS_SQL.replace("VARCHAR", "STRING"))
    w_clamp = (
        W.partitionBy("filename").orderBy("page").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_lead = W.partitionBy("filename").orderBy("page")
    return anchors.select(
        "filename",
        "page",
        F.max("raw_offset").over(w_clamp).alias("start_offset"),
    ).withColumn(
        "end_offset", F.lead("start_offset", 1, 100000).over(w_lead)
    )


# ---------------------------------------------------------------------------
# q_figure_caption_asof — J2: ordered first-fit caption claiming as a
# rank-equality join; unmatched figures take the content-break fallback
# O7 (markdown_conversion_manager.py:178-200, markdown_manager.py:123-137).
# ---------------------------------------------------------------------------

_SPOTS_SQL = """
    SELECT 'doc_' || CAST(p_partkey % 50 AS VARCHAR) AS filename,
           CAST(p_partkey % 30 + 1 AS INT) AS page,
           CAST((p_partkey * 91) % 5000 AS BIGINT) AS cap_offset
    FROM part
    WHERE p_partkey % 3 = 0
"""

_ASOF_ORACLE = f"""
WITH figures AS ({_FIGURES_SQL}),
caption_spots AS ({_SPOTS_SQL}),
fr AS (
    SELECT filename, page, fig_key, y0,
           row_number() OVER (PARTITION BY filename, page ORDER BY y0, x0, fig_key) AS rnk
    FROM figures
),
sr AS (
    SELECT filename, page, cap_offset,
           row_number() OVER (PARTITION BY filename, page ORDER BY cap_offset) AS rnk
    FROM caption_spots
)
SELECT f.filename, f.page, f.fig_key, f.rnk,
       coalesce(s.cap_offset, 90000 + f.page * 100 + f.rnk) AS placed_offset,
       CAST(s.cap_offset IS NULL AS INT) AS used_fallback
FROM fr f LEFT JOIN sr s
  ON f.filename = s.filename AND f.page = s.page AND f.rnk = s.rnk
"""


@register("q_figure_caption_asof", oracle=_ASOF_ORACLE, tags=("phase2", "figures"))
def q_figure_caption_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered first-fit figure->caption matching (as-of rank join J2)."""
    f = _figures(spark, sf_dir)
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    spots = spark.sql(_SPOTS_SQL.replace("VARCHAR", "STRING"))
    fr = f.withColumn(
        "rnk",
        F.row_number().over(
            W.partitionBy("filename", "page").orderBy("y0", "x0", "fig_key")
        ),
    ).select("filename", "page", "fig_key", "rnk")
    sr = spots.withColumn(
        "rnk", F.row_number().over(W.partitionBy("filename", "page").orderBy("cap_offset"))
    )
    j = fr.join(sr, ["filename", "page", "rnk"], "left")
    return j.select(
        "filename",
        "page",
        "fig_key",
        "rnk",
        F.coalesce(
            F.col("cap_offset"), F.lit(90000) + F.col("page") * 100 + F.col("rnk")
        ).alias("placed_offset"),
        F.col("cap_offset").isNull().cast("int").alias("used_fallback"),
    )


# ---------------------------------------------------------------------------
# q_bbox_union — A5: bbox min/max union per (filename, page).
# ---------------------------------------------------------------------------

_UNION_ORACLE = f"""
WITH figures AS ({_FIGURES_SQL})
SELECT filename, page,
       min(x0) AS ux0, min(y0) AS uy0, max(x1) AS ux1, max(y1) AS uy1,
       count(*) AS n_figures
FROM figures
GROUP BY filename, page
"""


@register("q_bbox_union", oracle=_UNION_ORACLE, tags=("phase2", "figures"))
def q_bbox_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page bbox union (A5 rect_union as a min/max aggregate)."""
    f = _figures(spark, sf_dir)
    return f.groupBy("filename", "page").agg(
        F.min("x0").alias("ux0"),
        F.min("y0").alias("uy0"),
        F.max("x1").alias("ux1"),
        F.max("y1").alias("uy1"),
        F.count("*").alias("n_figures"),
    )


# ---------------------------------------------------------------------------
# q_rect_components — the SQL-expressible core of the rect merge: one
# round of connected components over the ORIGINAL pairwise overlap graph
# (tol=40 theta self-join, J3) + bbox union per component (A5), labels
# via the iterative CC operator (J4 machinery). This is the candidate-
# grouping step of q_rect_merge; the full fixpoint (merged bboxes can
# newly overlap) is NOT SQL-expressible and stays rows-only above. Here
# the overlap graph is fixed, so a recursive-CTE transitive closure is
# an exact oracle — giving the rect family a driver-checkable hash row.
# All coordinates are integer-valued doubles, so the +tol comparisons
# are exact in both engines.
# ---------------------------------------------------------------------------

# Rect-family fixture: same shape as _FIGURES_SQL but the document
# count SCALES with the part table ("max(50, N/400)" docs) instead of
# staying fixed at 50. With a fixed modulus, 10x data means 10x DENSER
# pages — the per-page overlap graph grows quadratically and the sf1
# rehearsal measured q_rect_merge at 54.7x (a fixture artifact, the
# same class as the round-7 dup-density lessons: a real 10x corpus has
# 10x pages, not pages 10x thicker). The scaled modulus keeps per-page
# rect density CONSTANT (~13) at every SF while staying byte-identical
# to the old fixture at every driver/bench SF (part rows <= 20000 ->
# modulus 50 exactly). Only the rect queries use it: they are the only
# pairwise-per-page plans, and they join no other fixture's filename
# space (the caption/anchor fixtures keep the shared % 50 keyspace).
_RECT_FIGURES_SQL = _FIGURES_SQL.replace(
    "p_partkey % 50",
    "p_partkey % greatest(50, CAST(floor((SELECT count(*) FROM part) / 400.0) AS BIGINT))",
)

_RECT_CC_ORACLE = f"""
WITH RECURSIVE figures AS ({_RECT_FIGURES_SQL}),
edges0 AS (
    SELECT a.fig_key AS src, b.fig_key AS dst
    FROM figures a
    JOIN figures b
      ON a.filename = b.filename AND a.page = b.page
     AND a.fig_key < b.fig_key
     AND a.x0 <= b.x1 + 40 AND b.x0 <= a.x1 + 40
     AND a.y0 <= b.y1 + 40 AND b.y0 <= a.y1 + 40
),
edges AS (
    SELECT src, dst FROM edges0
    UNION
    SELECT dst, src FROM edges0
),
reach(a, b) AS (
    SELECT src, src FROM edges
    UNION
    SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a),
labeled AS (
    SELECT f.filename, f.page, f.x0, f.y0, f.x1, f.y1,
           coalesce(c.component, f.fig_key) AS component
    FROM figures f LEFT JOIN comp c ON f.fig_key = c.node
)
SELECT filename, page, component,
       min(x0) AS x0, min(y0) AS y0, max(x1) AS x1, max(y1) AS y1,
       count(*) AS n_members
FROM labeled
GROUP BY filename, page, component
"""


def _rect_figures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rect family's density-scaled figures fixture (see
    _RECT_FIGURES_SQL) — identical to _figures at every SF <= 0.1."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_RECT_FIGURES_SQL.replace("VARCHAR", "STRING"))


def _rect_components_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-round overlap-graph CC + per-component bbox union — the shared
    DuckDB-exact truth side of q_rect_components and q_rect_merge.

    Computed per (filename, page) in ONE Arrow kernel: overlap here is
    DEFINED within a page (operators/rects.py docstring), so components
    can never span groups and the distributed iterative CC operator —
    log-diameter rounds of full-edge-list joins with a convergence
    check — buys nothing but fixed stage overhead (measured 6.5 s ->
    ~0.7 s at sf0.1; the cross-partition CC remains exercised by the
    dedup-cluster queries, whose graphs genuinely span the corpus).
    Labels are the component-minimum fig_key — identical to the
    iterative operator and to the oracle's recursive-CTE closure, so
    the hash row is unchanged.
    """
    import pandas as pd

    from ..operators.rects import overlap_components

    f = _rect_figures(spark, sf_dir).select(
        "fig_key", "filename", "page", "x0", "y0", "x1", "y1"
    )
    tol = 40.0

    def page_components(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf["fig_key"].to_numpy()
        xs0, ys0 = pdf["x0"].to_numpy(), pdf["y0"].to_numpy()
        xs1, ys1 = pdf["x1"].to_numpy(), pdf["y1"].to_numpy()
        rows = [
            {
                "filename": pdf["filename"].iloc[0],
                "page": int(pdf["page"].iloc[0]),
                "component": int(min(keys[m] for m in members)),
                "x0": float(min(xs0[m] for m in members)),
                "y0": float(min(ys0[m] for m in members)),
                "x1": float(max(xs1[m] for m in members)),
                "y1": float(max(ys1[m] for m in members)),
                "n_members": len(members),
            }
            for members in overlap_components(xs0, ys0, xs1, ys1, tol)
        ]
        return pd.DataFrame(rows)

    schema = (
        "filename string, page int, component bigint, x0 double, y0 double, "
        "x1 double, y1 double, n_members long"
    )
    return f.groupBy("filename", "page").applyInPandas(page_components, schema)


@register("q_rect_components", oracle=_RECT_CC_ORACLE, tags=("phase2", "figures"))
def q_rect_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap-graph CC + bbox union (J3+J4+A5, hash-checkable round)."""
    return _rect_components_df(spark, sf_dir)


# ---------------------------------------------------------------------------
# q_rect_merge — J4 fixpoint merge (image_manager.py:103-142) via the
# per-page applyInPandas union-find kernel, upgraded from rows-only to a
# FULL hash row with an invariant-verdict oracle (VERDICT r7, next #1;
# the q_ml_minhash_join pattern). The fixpoint loop itself is not
# SQL-expressible, but its POSTCONDITIONS are checkable from the
# DuckDB-exact one-round-CC truth side:
#
#   emitted rows  = the one-round CC components (filename, page,
#                   component, bbox, n_members) — byte-identical to the
#                   recursive-CTE oracle, like q_rect_components;
#   verdict cols  = Spark-computed booleans the oracle asserts TRUE:
#     contain_ok        — the component bbox lies inside EXACTLY ONE
#                         merged rect (the fixpoint is a coarsening of
#                         one-round CC: round 1 of the kernel produces
#                         precisely these components, later rounds only
#                         fuse them further);
#     merged_disjoint_ok— that merged rect overlaps-at-tol NO other
#                         merged rect on its page (the fixpoint's
#                         termination condition, image_manager.py:119-142);
#     bbox_union_ok     — the merged bbox equals the union of the
#                         component bboxes it contains (A5);
#     members_sum_ok    — the merged member count equals the sum of its
#                         contained components' counts;
#     page_count_ok     — per page, merged member counts re-add to the
#                         page's original figure count (so no orphan or
#                         double-counted merged rect can hide from the
#                         containment join).
#
# A FALSE anywhere — an under-merged pair still overlapping, a wrong
# bbox, a lost or duplicated rect — breaks the value hash, so the driver
# gate verifies the fixpoint kernel cross-engine even though the loop is
# engine-only. All coordinates are integer-valued doubles; every verdict
# comparison is exact in both engines. Raw merged rects (the operator's
# data product) remain available via operators.rects.merge_rects, which
# tests/test_rects.py property-tests against a brute-force reference.
# ---------------------------------------------------------------------------

_RECT_MERGE_ORACLE = f"""
WITH RECURSIVE figures AS ({_RECT_FIGURES_SQL}),
edges0 AS (
    SELECT a.fig_key AS src, b.fig_key AS dst
    FROM figures a
    JOIN figures b
      ON a.filename = b.filename AND a.page = b.page
     AND a.fig_key < b.fig_key
     AND a.x0 <= b.x1 + 40 AND b.x0 <= a.x1 + 40
     AND a.y0 <= b.y1 + 40 AND b.y0 <= a.y1 + 40
),
edges AS (
    SELECT src, dst FROM edges0
    UNION
    SELECT dst, src FROM edges0
),
reach(a, b) AS (
    SELECT src, src FROM edges
    UNION
    SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a),
labeled AS (
    SELECT f.filename, f.page, f.x0, f.y0, f.x1, f.y1,
           coalesce(c.component, f.fig_key) AS component
    FROM figures f LEFT JOIN comp c ON f.fig_key = c.node
)
SELECT filename, page, component,
       min(x0) AS x0, min(y0) AS y0, max(x1) AS x1, max(y1) AS y1,
       count(*) AS n_members,
       TRUE AS contain_ok, TRUE AS merged_disjoint_ok, TRUE AS bbox_union_ok,
       TRUE AS members_sum_ok, TRUE AS page_count_ok
FROM labeled
GROUP BY filename, page, component
"""


@register("q_rect_merge", oracle=_RECT_MERGE_ORACLE, tags=("phase2", "figures"))
def q_rect_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixpoint rect merge with tol=40, invariant-verdict hash row."""
    from ..operators.rects import merge_rects

    tol = 40.0
    fig = _rect_figures(spark, sf_dir).select(
        "filename", "page", "x0", "y0", "x1", "y1"
    )
    merged = merge_rects(fig, tol=tol)
    comp = _rect_components_df(spark, sf_dir)
    return rect_merge_verdicts(fig, comp, merged, tol=tol)


def rect_merge_verdicts(
    fig: DataFrame, comp: DataFrame, merged: DataFrame, *, tol: float = 40.0
) -> DataFrame:
    """Verdict frame for a claimed fixpoint-merge output: one row per
    one-round-CC component (``comp``) with booleans asserting the merge
    postconditions against ``merged``. Factored out so tests can feed a
    deliberately-broken merge and watch the verdicts flip."""
    m = merged.select(
        "filename",
        "page",
        F.col("x0").alias("mx0"),
        F.col("y0").alias("my0"),
        F.col("x1").alias("mx1"),
        F.col("y1").alias("my1"),
        F.col("n_members").alias("m_members"),
        "idx",
    )

    # fixpoint postcondition: merged rects pairwise NON-overlapping at tol
    # (per-page self-join — pages hold tens of rects, so this is tiny)
    a, b = m.alias("a"), m.alias("b")
    overlapping = (
        a.join(
            b,
            (F.col("a.filename") == F.col("b.filename"))
            & (F.col("a.page") == F.col("b.page"))
            & (F.col("a.idx") != F.col("b.idx"))
            & (F.col("a.mx0") <= F.col("b.mx1") + tol)
            & (F.col("b.mx0") <= F.col("a.mx1") + tol)
            & (F.col("a.my0") <= F.col("b.my1") + tol)
            & (F.col("b.my0") <= F.col("a.my1") + tol),
        )
        .select(
            F.col("a.filename").alias("filename"),
            F.col("a.page").alias("page"),
            F.col("a.idx").alias("idx"),
        )
        .distinct()
        .withColumn("__overlaps", F.lit(True))
    )
    m2 = (
        m.join(overlapping, ["filename", "page", "idx"], "left")
        .withColumn("disjoint_ok", F.col("__overlaps").isNull())
        .drop("__overlaps")
    )

    # conservation: per page, merged member counts re-add to the original
    # figure count (no rect lost, none double-counted)
    pg = (
        fig.groupBy("filename", "page")
        .agg(F.count("*").alias("n_figs"))
        .join(
            merged.groupBy("filename", "page").agg(
                F.sum("n_members").alias("m_sum")
            ),
            ["filename", "page"],
            "left",
        )
        .select(
            "filename",
            "page",
            (F.coalesce(F.col("m_sum"), F.lit(0)) == F.col("n_figs")).alias(
                "page_count_ok"
            ),
        )
    )

    # DuckDB-exact truth side: one-round CC components
    c = comp.select(
        "filename",
        "page",
        "component",
        F.col("x0").alias("cx0"),
        F.col("y0").alias("cy0"),
        F.col("x1").alias("cx1"),
        F.col("y1").alias("cy1"),
        F.col("n_members").alias("c_members"),
    )

    # containment join (equi on page, bbox-containment residual): which
    # merged rect(s) contain each component's bbox
    cj = c.join(m2, ["filename", "page"]).where(
        (F.col("mx0") <= F.col("cx0"))
        & (F.col("cx1") <= F.col("mx1"))
        & (F.col("my0") <= F.col("cy0"))
        & (F.col("cy1") <= F.col("my1"))
    )
    w = W.partitionBy("filename", "page", "idx")
    cj = cj.withColumn(
        "bbox_union_ok",
        (F.min("cx0").over(w) == F.col("mx0"))
        & (F.min("cy0").over(w) == F.col("my0"))
        & (F.max("cx1").over(w) == F.col("mx1"))
        & (F.max("cy1").over(w) == F.col("my1")),
    ).withColumn("members_sum_ok", F.sum("c_members").over(w) == F.col("m_members"))
    grp = cj.groupBy("filename", "page", "component").agg(
        F.count("*").alias("n_containing"),
        F.bool_and("disjoint_ok").alias("merged_disjoint_ok"),
        F.bool_and("bbox_union_ok").alias("bbox_union_ok"),
        F.bool_and("members_sum_ok").alias("members_sum_ok"),
    )

    return (
        c.join(grp, ["filename", "page", "component"], "left")
        .join(pg, ["filename", "page"])
        .select(
            "filename",
            "page",
            "component",
            F.col("cx0").alias("x0"),
            F.col("cy0").alias("y0"),
            F.col("cx1").alias("x1"),
            F.col("cy1").alias("y1"),
            F.col("c_members").alias("n_members"),
            (F.coalesce(F.col("n_containing"), F.lit(0)) == 1).alias("contain_ok"),
            F.coalesce("merged_disjoint_ok", F.lit(False)).alias(
                "merged_disjoint_ok"
            ),
            F.coalesce("bbox_union_ok", F.lit(False)).alias("bbox_union_ok"),
            F.coalesce("members_sum_ok", F.lit(False)).alias("members_sum_ok"),
            "page_count_ok",
        )
    )


# ---------------------------------------------------------------------------
# q_figure_placement — O4: apply figure-reference insertions at quartile
# offsets of each document, largest offset first. The kernel is generic
# string surgery (applyInPandas); the oracle reconstructs the same
# string with pure substring concatenation (3 fixed insertions), so the
# md5 check proves byte-exact placement.
# ---------------------------------------------------------------------------

_INS = ["\n![image 1](FIG_001.png)\n", "\n![image 2](FIG_002.png)\n", "\n![image 3](FIG_003.png)\n"]

_PLACE_SQL_INS = [
    "chr(10) || '![image 1](FIG_001.png)' || chr(10)",
    "chr(10) || '![image 2](FIG_002.png)' || chr(10)",
    "chr(10) || '![image 3](FIG_003.png)' || chr(10)",
]

_PLACE_ORACLE = f"""
WITH d AS (
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS filename, text,
           length(text) AS n
    FROM documents
)
SELECT filename,
       length(text) + {sum(len(s) for s in _INS)} AS placed_len,
       md5(substring(text, 1, n // 4)
           || {_PLACE_SQL_INS[0]}
           || substring(text, n // 4 + 1, (n * 2) // 4 - n // 4)
           || {_PLACE_SQL_INS[1]}
           || substring(text, (n * 2) // 4 + 1, (n * 3) // 4 - (n * 2) // 4)
           || {_PLACE_SQL_INS[2]}
           || substring(text, (n * 3) // 4 + 1)) AS placed_md5
FROM d
"""


@register("q_figure_placement", oracle=_PLACE_ORACLE, tags=("phase2", "figures"))
def q_figure_placement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-stable insertion apply (O4) with byte-exact md5 oracle.

    The quartile insertions are row-local, so this rides the Arrow
    scalar path (apply_insertions_cols): no shuffle of the corpus text,
    one Arrow batch per partition. The relation-shaped grouped kernel
    (apply_insertions) remains for join-produced insertion sets and is
    pinned byte-equal to this path in tests/test_placement.py.
    parallelize_narrow_scan shuffles only when the test parquet arrives
    as one row group; splittable production input is a no-op.
    """
    from ..operators.placement import apply_insertions_cols

    docs = load_table(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("filename"),
        "text",
    )
    offs = F.array(
        *[F.expr(f"(length(text) * {k}) div 4").cast("long") for k in (1, 2, 3)]
    )
    snips = F.array(*[F.lit(s) for s in _INS])
    return (
        parallelize_narrow_scan(docs, "filename")
        .select(
            "filename",
            apply_insertions_cols(F.col("text"), offs, snips).alias(
                "placed_text"
            ),
        )
        .select(
            "filename",
            F.length("placed_text").cast("bigint").alias("placed_len"),
            F.md5("placed_text").alias("placed_md5"),
        )
    )
