"""operators.checkpoint — the storage truth and the one lifecycle.

Pins the two facts `release_local_checkpoint` exists for: (1) plain
unpersist() on a localCheckpointed frame does NOT free its blocks (if
Spark ever fixes this, the xfail-style assertion below flags the
helper as obsolete); (2) the LogicalRDD-level release DOES free them,
immediately visible in getRDDStorageInfo.  Then the lifecycle built on
it: `pin` / `retain` + `evict_all_retained`, called by every
registered query's entry.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ondemand_dask_spark.operators.checkpoint import (
    evict_all_retained,
    pin,
    release_local_checkpoint,
    retain,
)


def _cached_rdd_ids(spark) -> set[int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id() for i in infos if i.numCachedPartitions() > 0}


def test_unpersist_is_noop_but_release_frees(spark):
    df = spark.range(50_000).select(
        F.col("id").alias("a"), (F.col("id") * 3).alias("b")
    )
    before = _cached_rdd_ids(spark)
    ck = df.localCheckpoint()
    with_ck = _cached_rdd_ids(spark) - before
    assert with_ck, "localCheckpoint should register cached blocks"

    ck.unpersist(True)
    assert with_ck <= _cached_rdd_ids(spark), (
        "DataFrame.unpersist() now releases checkpoint blocks — "
        "release_local_checkpoint may be obsolete"
    )

    assert release_local_checkpoint(ck)
    assert not (with_ck & _cached_rdd_ids(spark))


def test_release_is_safe_on_non_checkpointed(spark):
    df = spark.range(10).select(F.col("id").alias("a"))
    assert release_local_checkpoint(df) is False
    cached = df.cache()
    cached.count()
    assert release_local_checkpoint(cached) is False  # cache path untouched
    cached.unpersist()


def _retain_two(spark) -> set[int]:
    """Pin one frame and retain one localCheckpoint; their storage ids."""
    before = _cached_rdd_ids(spark)
    pin(spark.range(20_000))
    retain(spark.range(20_000).localCheckpoint())
    held = _cached_rdd_ids(spark) - before
    assert len(held) == 2, "retained frames should hold storage blocks"
    return held


def test_evict_frees_retained_checkpoints(spark):
    """evict_all_retained frees every retained frame through the
    LogicalRDD release (a bare unpersist() would be a silent no-op on
    each of them)."""
    held = _retain_two(spark)
    evict_all_retained()
    assert not (held & _cached_rdd_ids(spark)), (
        "evict_all_retained() left retained storage blocks behind"
    )


def test_retain_refuses_a_cache(spark):
    """The lifecycle has one release path, so retain() only takes
    checkpoints: a `.cache()`d frame raises instead of leaking."""
    cached = spark.range(10).cache()
    with pytest.raises(ValueError, match="localCheckpoint"):
        retain(cached)
    cached.unpersist()


def test_module_caches_use_release_aware_eviction(spark, sf_dir):
    """A registered query's entry is the eviction point: calling any
    `Query.fn` frees everything retained before it — no query module
    keeps a discipline of its own."""
    from ondemand_dask_spark.registry import all_queries

    held = _retain_two(spark)
    all_queries()["tpch_q6"].fn(spark, sf_dir)
    assert not (held & _cached_rdd_ids(spark)), (
        "a registered query's entry left retained storage blocks behind"
    )
