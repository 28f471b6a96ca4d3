"""Session-lifetime cache bookkeeping for plan-internal persists and
checkpoints.

Some operators persist a corpus-scale intermediate that outlives the
function that created it (e.g. :func:`operators.planner.auto_dedup`'s
shingle set feeds both the gate and the returned lazy plan, so it cannot
be unpersisted before the caller materializes the result — Spark has no
"after first materialization" hook). Left alone, each call leaks one
cached dataset for the session lifetime, which matters for long-lived
JVMs that run the whole registry back-to-back (scripts/bench_full.py:
~200 queries in one session).

``tracked_persist`` records such handles and ``release_tracked`` drops
them. The drain point for timing runs is ``scripts/_harness.py``: every
timed rep and every warm-up run ends with ``release_tracked()``, so no
run reads blocks an earlier one cached. The driver runs <=50 queries
and exits, so its leak window is bounded by design.
``unpersist_tracked`` drops one handle whose owner is done with it.

``localCheckpoint`` persists at the RDD layer, outside the CacheManager,
so ``DataFrame.unpersist()`` never reaches its blocks: they are dropped
by id through the JVM's persistent-RDD registry, a bookkeeping that
lives in this module alone. ``tracked_local_checkpoint`` is for a table
the whole query reads (e.g. connected components' symmetrized edges);
``CheckpointRotation`` is for an iterative loop's per-round tables, so
every loop (BPE, k-core, k-center, PCA, k-means, connected components)
holds its newest round and nothing older. ``release_tracked`` drains
what is left of both.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LOG = logging.getLogger(__name__)

_TRACKED: list[DataFrame] = []

#: (SparkContext, [rdd ids]) per tracked localCheckpoint
_TRACKED_CKPT: list[tuple[object, list[int]]] = []


def tracked_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """Persist ``df`` and remember the handle for later release.

    The default level is ``DataFrame.persist()``'s own default
    (MEMORY_AND_DISK_DESER), so ``tracked_persist(x)`` is a drop-in for
    ``x.persist()`` — every plan-internal persist goes through here so
    harnesses can drain the cache between queries (VERDICT r8 #3)."""
    df.persist(level)
    _TRACKED.append(df)
    return df


def unpersist_tracked(df: DataFrame) -> None:
    """Unpersist a :func:`tracked_persist` handle now and stop tracking
    it, for a caller that knows when its persist is done: the handle
    would otherwise stay in the list until ``release_tracked``."""
    df.unpersist()
    _TRACKED[:] = [t for t in _TRACKED if t is not df]


def persistent_rdd_ids(sc) -> set[int]:
    """Ids of every RDD the JVM of ``sc`` holds persisted, tracked or not."""
    return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}


def unpersist_rdds(sc, ids) -> int:
    """Drop the blocks of the persisted RDDs ``ids``; returns how many
    were still held."""
    registry = sc._jsc.getPersistentRDDs()
    n = 0
    for i in ids:
        jrdd = registry.get(i)
        if jrdd is not None:
            jrdd.unpersist(False)
            n += 1
    return n


def _checkpoint(df: DataFrame) -> tuple[DataFrame, tuple]:
    """Eager ``df.localCheckpoint()`` and its tracked entry, the ids it
    added to the registry (plan construction is single-threaded)."""
    sc = df.sparkSession.sparkContext
    before = persistent_rdd_ids(sc)
    out = df.localCheckpoint(eager=True)
    entry = (sc, sorted(persistent_rdd_ids(sc) - before))
    _TRACKED_CKPT.append(entry)
    return out, entry


def tracked_local_checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``df.localCheckpoint()`` whose blocks release_tracked drops,
    for a table the whole query reads. Per-round tables of an iterative
    loop go through :class:`CheckpointRotation` instead."""
    return _checkpoint(df)[0]


class CheckpointRotation:
    """The per-round tables of one iterative loop, one round resident.

    A round's table is computed from its predecessor's, so the order is
    fixed: ``checkpoint`` materializes the new round first and only then
    drops the previous round's blocks. Dropped the other way round, the
    new checkpoint would have to recompute from blocks that are gone
    (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). The same rule holds for a
    per-round result that outlives its round, such as a loop's 1-row
    winner feeding a lazy output union: ``keep`` caches it and fills
    the cache now, while the round it reads is still resident, since a
    cache miss after the rotation could not recompute it. The newest
    round stays tracked until ``release_tracked``."""

    def __init__(self) -> None:
        self._held: tuple | None = None

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """``df`` checkpointed eagerly; the previous round is dropped."""
        out, entry = _checkpoint(df)
        self.release()
        self._held = entry
        return out

    def release(self) -> None:
        """Drop the held round now (a no-op once release_tracked drained it)."""
        if self._held in _TRACKED_CKPT:
            _TRACKED_CKPT.remove(self._held)
            unpersist_rdds(*self._held)
        self._held = None

    def keep(self, df: DataFrame) -> tuple[DataFrame, int]:
        """``tracked_persist(df)`` filled now; returns it with its row count."""
        out = tracked_persist(df)
        return out, out.count()


def release_tracked() -> int:
    """Unpersist every tracked dataset; returns how many were released."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception as exc:
            # Swallow silently ONLY for the stopped-session case (the
            # JVM gateway is gone, nothing left to release); a failure
            # on a live session is a real leak signal — log it so the
            # long-lived bench_full JVM doesn't hide cache leaks.
            _warn_if_alive(df.sparkSession.sparkContext, exc)
    while _TRACKED_CKPT:
        sc, ids = _TRACKED_CKPT.pop()
        try:
            n += unpersist_rdds(sc, ids)
        except Exception as exc:
            _warn_if_alive(sc, exc)
    return n


def _warn_if_alive(sc, exc: Exception) -> None:
    if getattr(sc, "_jsc", None) is not None:
        _LOG.warning("release_tracked: unpersist failed on a live session: %s", exc)
