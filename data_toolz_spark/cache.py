"""Session cache hygiene for operators that persist intermediates.

Some operators (``minhash_near_duplicates``, ``exact_jaccard_pairs``)
persist internal frames that feed several downstream branches of one
returned plan.  The caller only ever sees the final DataFrame, so it
has no handle to unpersist those intermediates — in a long session
(a bench loop, the driver's correctness sweep) the cached blocks would
otherwise accumulate for the life of the JVM.

``track`` registers a persisted frame; ``release`` unpersists every
tracked frame.  Long-running hosts call ``release()`` between queries;
the query entry points in ``__spark_entry__`` release leftovers from
the *previous* query on entry, so any harness gets hygiene for free.
Unpersisting is always safe: a released frame recomputes from lineage
if an old plan is re-executed — slower, never wrong.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register a persisted DataFrame for later bulk release."""
    _TRACKED.append(df)
    return df


def release() -> int:
    """Unpersist every tracked frame (non-blocking); returns the count."""
    n = len(_TRACKED)
    for df in _TRACKED:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to free
    _TRACKED.clear()
    return n


def persist_tracked(df: DataFrame) -> DataFrame:
    """``df`` persisted MEMORY_AND_DISK (spill, never evict-to-recompute)
    and tracked for :func:`release`."""
    from pyspark import StorageLevel

    return track(df.persist(StorageLevel.MEMORY_AND_DISK))


def cut_lineage(df: DataFrame) -> DataFrame:
    """LAZY lineage truncation: a reliable ``checkpoint`` when the
    session has a checkpoint dir (cluster fault tolerance), a
    ``localCheckpoint`` otherwise.  ``eager=False`` in both cases: the
    next action on the result materializes it, so no extra job is
    scheduled — the downstream plan references a flat scan instead of
    the full upstream tree (iterative plans would otherwise grow
    without bound, and the analyzer re-walks every nested occurrence)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def clear_session_caches(spark) -> None:
    """Full between-query cleanup for bench/driver loops: tracked
    operator persists plus anything else sitting in the SQL cache
    manager.  (Streaming qids use availableNow + awaitTermination, so
    their queries are already stopped by the time this runs.)"""
    release()
    try:
        spark.catalog.clearCache()
    except Exception:
        pass


__all__ = [
    "track", "release", "persist_tracked", "cut_lineage",
    "clear_session_caches",
]
