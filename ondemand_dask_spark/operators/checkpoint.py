"""Eager release of localCheckpoint storage blocks.

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
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def release_local_checkpoint(df: DataFrame) -> bool:
    """Free `df`'s localCheckpoint blocks now; True if released.

    Safe to call on any DataFrame — non-checkpointed plans (no
    LogicalRDD root) are left untouched.  Non-blocking: removal
    proceeds asynchronously so iterative callers don't stall."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            plan.rdd().unpersist(False)
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
    """Register a `.cache()`d or `localCheckpoint()`ed frame for release
    at the next query entry; returns `df` unchanged."""
    _RETAINED.append(df)
    return df


def evict_all_retained() -> None:
    """Release every retained cache and checkpoint.

    Checkpoint-aware: `df.unpersist()` is a silent no-op on
    localCheckpoint'ed frames (see module docstring), so each frame
    gets the LogicalRDD-level release first and falls back to the
    CacheManager path for plain `.cache()`/`.persist()` frames."""
    while _RETAINED:
        try:
            df = _RETAINED.pop()
            if not release_local_checkpoint(df):
                df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
