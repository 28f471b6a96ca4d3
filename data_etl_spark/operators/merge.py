"""Keyed upsert / delete-then-add — the engine's write discipline.

Re-expresses the reference's metadata upsert (J5,
`/root/reference/src/etl_processor.py:143-169`) and the vector-store
delete-then-add (J6, `/root/reference/src/managers/
index_manager.py:347-368`) as a single relational primitive:

    merge_by_key(old, new, keys) = old ANTI-JOIN new ON keys  UNION ALL  new

This is idempotent re-ingestion: re-merging the same batch is a no-op.
On a lakehouse table this compiles to ``MERGE WHEN MATCHED DELETE +
INSERT``; as a pure DataFrame op it is an anti join that broadcasts the
new batch (small next to the table — the ingest case) plus a union: no
shuffle of the large side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_by_key(old: DataFrame, new: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Replace rows of ``old`` that share ``keys`` with rows of ``new``.

    Column sets must match. The anti join broadcasts ``new`` (ingest
    batches are small relative to the table; at 100 TB this avoids
    shuffling the large side entirely).
    """
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"merge_by_key column mismatch: {sorted(old.columns)} vs {sorted(new.columns)}"
        )
    kept = old.join(F.broadcast(new), on=list(keys), how="left_anti")
    return kept.unionByName(new)


def delete_by_key(df: DataFrame, keys_df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Delete-by-predicate (F3/V5): drop rows whose key appears in keys_df."""
    return df.join(F.broadcast(keys_df.select(*keys).distinct()), on=list(keys), how="left_anti")
