"""Session-lifetime cache bookkeeping for plan-internal persists.

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
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LOG = logging.getLogger(__name__)

_TRACKED: list[DataFrame] = []

#: (SparkContext, [rdd ids]) for localCheckpoint blocks — checkpointed
#: RDDs are persisted at the RDD layer, OUTSIDE the CacheManager, so
#: DataFrame.unpersist() never reaches them; they are droppable only by
#: id through the JVM's persistent-RDD registry.
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


def tracked_local_checkpoint(
    df: DataFrame, eager: bool = True, handle_out: list | None = None
) -> DataFrame:
    """``df.localCheckpoint(eager)`` whose blocks release_tracked can drop.

    localCheckpoint persists its RDD at the RDD layer (not the
    CacheManager), so the blocks survive ``DataFrame.unpersist()`` and
    linger until the JVM's ContextCleaner GCs them — a deterministic
    leak for harnesses that run ~200 queries in one session (the r9
    drain test caught q_dedup_clusters leaving 3 checkpoint RDDs).
    This wrapper diffs the JVM persistent-RDD registry around the
    checkpoint call and records the new ids for explicit unpersist at
    release time. Single-threaded plan construction is assumed (true
    everywhere in this repo: checkpoints happen inside one query's
    eager build)."""
    sc = df.sparkSession.sparkContext
    before = {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}
    out = df.localCheckpoint(eager=eager)
    after = {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}
    new_ids = sorted(after - before)
    if new_ids:
        entry = (sc, new_ids)
        _TRACKED_CKPT.append(entry)
        # rotation support (see release_ckpt): the caller gets the
        # bookkeeping entry so it can drop THIS checkpoint's blocks as
        # soon as its successor is materialized
        if handle_out is not None:
            handle_out.append(entry)
    return out


def release_ckpt(entry: tuple) -> None:
    """Drop one tracked_local_checkpoint's blocks EARLY (the rotation
    primitive behind the iterative loops — _bpe_learn, k-center,
    k-core): ``entry`` is what tracked_local_checkpoint appended to the
    caller's ``handle_out`` list. Removes the bookkeeping entry so
    release_tracked doesn't double-drop.

    (A tracked_persist-layer sibling, release_one, existed r11-r12 but
    never gained a production caller — single-action lazy plans cannot
    release mid-plan, and every in-repo iterative loop rotates via
    localCheckpoint — so it was removed in r13; release_tracked is the
    drain for plain persists.)"""
    try:
        _TRACKED_CKPT.remove(entry)
    except ValueError:
        pass
    sc, ids = entry
    registry = sc._jsc.getPersistentRDDs()
    for i in ids:
        jrdd = registry.get(i)
        if jrdd is not None:
            jrdd.unpersist(False)


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
            if _session_alive(df):
                _LOG.warning(
                    "release_tracked: unpersist failed on a live session: %s", exc
                )
    while _TRACKED_CKPT:
        sc, ids = _TRACKED_CKPT.pop()
        try:
            registry = sc._jsc.getPersistentRDDs()
            for i in ids:
                jrdd = registry.get(i)
                if jrdd is not None:
                    jrdd.unpersist(False)
                    n += 1
        except Exception as exc:
            try:
                alive = sc._jsc is not None
            except Exception:
                alive = False
            if alive:
                _LOG.warning(
                    "release_tracked: checkpoint unpersist failed on a "
                    "live session: %s",
                    exc,
                )
    return n


def _session_alive(df: DataFrame) -> bool:
    """True when the dataframe's session still has a live JVM gateway."""
    try:
        return df.sparkSession.sparkContext._jsc is not None
    except Exception:
        return False
