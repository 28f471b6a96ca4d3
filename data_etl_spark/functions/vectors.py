"""Vector similarity expressions (SURVEY.md §2.9 V3).

Distance is a *query-time expression*, not an index property (unlike the
reference's Qdrant/FAISS config at
`/root/reference/src/managers/index_manager.py:111,188-190`).

Determinism contract (what makes these oracle-checkable): float elements
are cast to double *before* any arithmetic, and dot products are
left-to-right sequential folds. float*float is exact in double (24-bit
mantissas), and DuckDB's ``list_dot_product`` over DOUBLE lists matches a
sequential double fold bit-for-bit (verified empirically), so Spark and
DuckDB produce identical IEEE doubles — rankings can never diverge.

Two implementations share the same IEEE semantics:

- **Expression path** (``aggregate``/``zip_with`` higher-order
  functions: :func:`dot`, :func:`cosine`, :func:`cosine_pre`,
  :func:`l2sq`): evaluated inside the JVM task, no Python worker. Every
  retrieval operator (operators/knn.py, ivf.py, planner.py) scores
  with these, so a per-call search pays no Python-worker round trip.
- **Arrow path** (``seq_dot``/``seq_cosine``/``seq_cosine_pre`` pandas
  UDFs): numpy's ``cumsum`` is a *sequential* left-fold over doubles,
  and elementwise multiply rounds identically to the JVM's, so the
  Arrow path produces bit-identical doubles to the expression path and
  to DuckDB (measured: max abs diff 0.0 over 250k pairs; pinned in
  tests/test_kernels.py). Only registry plans that name them inline
  keep them (plans/similarity.py: ``q_rp_lsh_pairs``,
  ``q_lsh_adaptive``, ``q_semantic_dedup``).

Which path is faster depends on the vector length (CALIBRATION_r15.json,
``kernel``: 32 queries x n vectors, one task, top-5, min of 2): at
dim 8 the expression path won both kernels at every measured size, up
to 1,048,576 pairs; at dim 64 the Arrow path overtakes the three-fold
``cosine`` from ~16k pairs and ties the one-fold ``cosine_pre`` at
65k-131k, since each extra pair costs the interpreted fold ~3x what it
costs numpy. ``scripts/calibrate_gates.py <round> kernel`` re-measures
both paths.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


def as_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def as_double_sql(expr: str) -> str:
    return f"list_transform({expr}, x -> CAST(x AS DOUBLE))"


def valid_embedding(c: Column) -> Column:
    """TRUE iff the array is non-NULL with no NULL elements.

    The vector contract: a NULL array or a NULL element carries no
    geometry — every distance/dot kernel (here, Spark ML's DenseVector,
    DuckDB's list_dot_product) either errors or NULL-propagates on them,
    each differently. Geometric queries filter such rows on BOTH engine
    and oracle sides (the ``valid_embedding_sql`` twin) so the two
    engines agree by construction (found by fuzz --nulls)."""
    return c.isNotNull() & ~F.exists(c, lambda x: x.isNull())


def valid_embedding_sql(expr: str) -> str:
    """DuckDB twin of :func:`valid_embedding`."""
    return (
        f"({expr} IS NOT NULL AND "
        f"len(list_filter({expr}, x -> x IS NULL)) = 0)"
    )


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product over double-cast arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_sql(a: str, b: str) -> str:
    return f"list_dot_product({a}, {b})"


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def l2_norm_sql(a: str) -> str:
    return f"sqrt(list_dot_product({a}, {a}))"


def cosine(a: Column, b: Column) -> Column:
    """cosine(a,b) = dot / (||a|| * ||b||); inputs must be double arrays.

    Zero-norm contract: NULL when either vector has zero norm
    (``try_divide``), matching DuckDB's ``x / 0 -> NULL`` so the
    oracles agree without special-casing — and NULL scores sort last
    under ``DESC`` in both engines, so zero vectors never win a top-k.
    Under ANSI mode a plain ``/`` would hard-fail the whole job on the
    first zero embedding (found by tests/test_fuzz_differential.py)."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def cosine_sql(a: str, b: str) -> str:
    return f"(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"


def cosine_pre(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine with precomputed norms: dot/(na*nb).

    Identical IEEE result to :func:`cosine` (same expression tree, the
    norm subexpressions just evaluated earlier) — but the O(pairs) side
    of a similarity join only pays one fold per pair instead of three.
    Precompute norms per VECTOR before the join; at 100 TB this is the
    difference between 1x and 3x the interpreted-HOF cost on the blown-up
    pair set. Same zero-norm -> NULL contract as :func:`cosine`.
    """
    return F.try_divide(dot(a, b), norm_a * norm_b)


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 in the expanded form dot(a,a)+dot(b,b)-2*dot(a,b): the
    op order of the SQL oracles' distance, so the two engines agree bit
    for bit. :func:`l2_distance` folds (x-y)^2, a different order, and
    is not its twin."""
    return dot(a, a) + dot(b, b) - F.lit(2.0) * dot(a, b)


def l2_distance(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def l2_distance_sql(a: str, b: str) -> str:
    # list_distance computes sqrt(sum((x-y)^2)) sequentially over doubles.
    return f"list_distance({a}, {b})"


# ---------------------------------------------------------------------------
# Arrow-batched sequential-fold scoring (the registry's inline sites).
# np.cumsum(..., axis=1)[:, -1] is a left-to-right sequential double sum —
# the same op order as the aggregate() fold and DuckDB's list_dot_product,
# hence bit-identical results (oracle-safe).
# ---------------------------------------------------------------------------


def _mat(s: pd.Series) -> np.ndarray:
    return np.stack(s.to_numpy()).astype(np.float64, copy=False)


def _seq_sum(m: np.ndarray) -> np.ndarray:
    return np.cumsum(m, axis=1)[:, -1]


@F.pandas_udf(DoubleType())
def seq_dot(a: pd.Series, b: pd.Series) -> pd.Series:
    """Sequential-fold dot product, Arrow-batched (== :func:`dot`)."""
    if len(a) == 0:
        return pd.Series([], dtype="float64")
    return pd.Series(_seq_sum(_mat(a) * _mat(b)))


@F.pandas_udf(DoubleType())
def seq_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
    """Full cosine (norms included), Arrow-batched (== :func:`cosine`).

    Zero-norm -> NULL (pandas nullable Float64 so Arrow carries a real
    null, not NaN), matching :func:`cosine`'s try_divide contract."""
    if len(a) == 0:
        return pd.Series([], dtype="float64")
    A, B = _mat(a), _mat(b)
    d = _seq_sum(A * B)
    denom = np.sqrt(_seq_sum(A * A)) * np.sqrt(_seq_sum(B * B))
    out = pd.array(d / np.where(denom == 0.0, 1.0, denom), dtype="Float64")
    out[denom == 0.0] = pd.NA
    return pd.Series(out)


def seq_cosine_pre(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Arrow-path :func:`cosine_pre`: numpy dot / precomputed-norm product.
    Same zero-norm -> NULL contract (try_divide)."""
    return F.try_divide(seq_dot(a, b), norm_a * norm_b)

