"""The one correctness rule, shared by the oracle tools in scripts/ and by
the tests: the exact comparison a registry query's Spark result must pass
against its DuckDB oracle, the DuckDB views those oracles read, and the
set of registry queries whose plan flips branch with input size.
"""

from __future__ import annotations

import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from data_etl_spark.plans import REGISTRY  # noqa: E402
from data_etl_spark.sources.tables import TABLE_NAMES  # noqa: E402

#: plan-source markers of a cost gate (operators/planner.py) or of a
#: row-count-adaptive rewrite: a query that references one runs a
#: different physical branch at sf0.1 than at the driver's sf0.01
GATE_MARKERS = (
    "auto_knn",
    "auto_dedup",
    "auto_join",
    "auto_rank",
    "exact_global_rank",
    "exact_global_cumsum",
    "_ADAPT_N",
)


def duckdb_views(sf_dir: str, tables=TABLE_NAMES) -> duckdb.DuckDBPyConnection:
    """A new DuckDB connection with each of ``tables`` registered as a
    view over ``<sf_dir>/<table>.parquet``, the driver's oracle setup."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def gate_queries() -> list[str]:
    """Every registry name whose plan source references a GATE_MARKERS
    entry, sorted."""
    return sorted(
        name
        for name, q in REGISTRY.items()
        if any(m in inspect.getsource(getattr(q.fn, "__wrapped__", q.fn)) for m in GATE_MARKERS)
    )


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize dtypes, sort rows by all columns."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif s.dtype == object:
            df[c] = s.map(lambda x: x if x is None or isinstance(x, str) else str(x))
    return df.sort_values(by=list(df.columns), na_position="last", kind="mergesort").reset_index(
        drop=True
    )


def dtype_family(s: pd.Series) -> str:
    """Coarse dtype family (bool/int/float/datetime/object). The driver's
    value hash is dtype-sensitive: a Spark int64 vs a DuckDB float64 column
    (uncast HUGEINT sum, DOUBLE floor/ceil, TINYINT sign) hash-mismatches
    even with numerically identical values. canon() erases that skew, so
    frames_equal checks the family before it (VERDICT r3, wrong #2)."""
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return "object"


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    """None when Spark's ``a`` equals the oracle's ``b`` the way the
    driver compares them: same column names, same row count, no numeric
    dtype-family skew, and exactly equal values after sorting rows (NaN
    and None equal themselves). Otherwise a description of the first
    difference, with up to 5 differing rows."""
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    numeric = {"bool", "int", "float"}
    for c in sorted(a.columns):
        fa, fb = dtype_family(a[c]), dtype_family(b[c])
        # DATE columns arrive as object (Spark) vs datetime64 (DuckDB) and
        # the driver hash tolerates that (q_date_funcs was r1 hash-green);
        # only numeric-family skew (the r3 red-row class) is driver-fatal.
        if fa != fb and (fa in numeric or fb in numeric):
            return (
                f"dtype-family skew col {c!r}: spark {a[c].dtype} ({fa}) vs "
                f"oracle {b[c].dtype} ({fb}) — the driver hash fails on this; "
                f"CAST the oracle (or the plan) so both engines emit the same family"
            )
    a, b = canon(a), canon(b)
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            eq = (av == bv) | (np.isnan(av) & np.isnan(bv))
            if not eq.all():
                bad = np.where(~eq)[0][:5]
                return (
                    f"float col {c!r} differs at rows {bad.tolist()}: "
                    f"spark={av[bad].tolist()} oracle={bv[bad].tolist()} "
                    f"(max abs diff {np.nanmax(np.abs(av - bv))})"
                )
        elif not a[c].equals(b[c]):
            diff = (a[c] != b[c]) & ~(a[c].isna() & b[c].isna())
            if diff.any():
                idx = diff[diff].index[:5].tolist()
                return (
                    f"col {c!r} differs at rows {idx}: "
                    f"spark={a.loc[idx, c].tolist()} oracle={b.loc[idx, c].tolist()}"
                )
    return None
