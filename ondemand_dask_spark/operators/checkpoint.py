"""One storage lifecycle: `pin`, `retain`, and eager release.

`df.unpersist()` on a `localCheckpoint()`ed DataFrame is a SILENT
NO-OP: unpersist routes through the CacheManager, which only tracks
`.cache()`/`.persist()` entries, while localCheckpoint persists the
execution RDD directly (verified empirically: `getRDDStorageInfo`
still lists the MapPartitionsRDD with all partitions cached after
`unpersist(True)`).  Left alone, the blocks survive until both the
Python and JVM references are garbage-collected and the
ContextCleaner gets around to them — for an iterative algorithm
holding a full edge-set copy per round, that is unbounded interim
storage pressure.

The checkpointed DataFrame's analyzed plan is a `LogicalRDD` node
wrapping exactly the persisted RDD, so unpersisting THAT RDD frees
the blocks immediately (verified: storage info drops to empty).
Every frame the engine stores is a local checkpoint, so that one
release path is the only one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _is_checkpoint(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().analyzed()
    return plan.getClass().getName().endswith("LogicalRDD")


def release_local_checkpoint(df: DataFrame) -> bool:
    """Free `df`'s localCheckpoint blocks now; True if released.

    Safe to call on any DataFrame — non-checkpointed plans (no
    LogicalRDD root) are left untouched.  Non-blocking: removal
    proceeds asynchronously so iterative callers don't stall."""
    try:
        if _is_checkpoint(df):
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
            return True
    except Exception:
        pass
    return False


# Frames whose storage must outlive the call that created them: the
# returned DataFrame is lazy and reads them, so they cannot be released
# at function exit.  `registry.register` wraps every query so that each
# query entry evicts the previous query's set, and a long session holds
# at most one query's storage blocks.
_RETAINED: list[DataFrame] = []


def retain(df: DataFrame) -> DataFrame:
    """Register a `localCheckpoint()`ed frame for release at the next
    query entry; returns `df` unchanged.

    Raises on anything else: a `.cache()`d frame would need the
    CacheManager release path, which the lifecycle no longer has."""
    if not _is_checkpoint(df):
        raise ValueError(
            "retain() takes a localCheckpoint()ed frame (analyzed plan "
            "LogicalRDD); use pin(df) for an intermediate read more "
            "than once"
        )
    _RETAINED.append(df)
    return df


def pin(df: DataFrame) -> DataFrame:
    """Materialize `df` once, now, and keep it until the next query
    entry: the storage for an intermediate that several readers share.

    Eager, because a lazy pin is filled by its first reader, and under
    AQE the readers of one plan submit their stages concurrently — each
    before any has filled the storage, so each computes the frame (the
    MinHash per-document table measured this; lazy caches in the graph
    family were built once per reader the same way).  Building it here
    costs one job and makes every reader a scan of stored blocks.

    Lineage trade-off: `localCheckpoint` drops the frame's lineage, so
    on a cluster a lost executor takes blocks with it and fails the
    query instead of recomputing them; `cache()` + `count()` would keep
    the lineage and recompute, but needs a second release path and is
    still a lazy cache underneath.  Here queries are short and
    re-runnable, so the engine takes the failure.

    Exception: where the first reader provably runs alone (an action
    on it completes before any other reader starts), the site keeps
    `retain(x.localCheckpoint(eager=False))` with a one-line reason
    (the three operators/rank.py offsets builds and BFS `dist`).
    The lazy form still runs the frame's shuffle stages at the call
    and leaves only the last stage to that first reader, so an eager
    pin there would add a job and save nothing."""
    return retain(df.localCheckpoint())


def evict_all_retained() -> None:
    """Release every retained checkpoint (see module docstring)."""
    while _RETAINED:
        release_local_checkpoint(_RETAINED.pop())  # never raises
