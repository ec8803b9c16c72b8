"""SparkSession bootstrap.

The reference (ondemand-dask) provisions a sized, self-expiring Dask
cluster on demand (SURVEY.md §3.3). The Spark-native analogue is pure
configuration: one table, `ENGINE_CONF`, holds every runtime-settable
setting the engine depends on, and both session entry points apply
all of it — `build_session` (bench, tests) at startup and
`ensure_session_conf` on a session someone else built (the driver's) —
so no query module can forget them and both sessions run the same
engine:

- `spark.sql.legacy.parquet.nanosAsLong=true`: some testdata
  generations store `events.ts` as parquet INT64 TIMESTAMP(NANOS);
  without the flag Spark 4 refuses the file outright (SURVEY.md
  §0.5.1).  Runtime-settable, like every key in the table.
- UTC session timezone: keeps timestamp arithmetic aligned with the
  DuckDB oracle (both naive/UTC).
- Arrow on: fast toPandas / pandas-UDF exchange.
- AQE on (default in Spark 4, asserted explicitly): runtime
  broadcast-join conversion, skew-join splitting, partition
  coalescing — the levers that make the same declarative plan hold
  from sf0.001 up to 100 TB without per-query tuning.

`shuffle_partitions` defaults to the parallelism of the master; at
real cluster scale the caller passes cores*executors*2-3 (or relies
on AQE coalescing from a high initial number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Every runtime-settable engine setting (each reports
# `spark.conf.isModifiable`).  `spark.sql.shuffle.partitions` is not
# here: it is the caller's sizing argument to `build_session`.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Spark's default, asserted.  The r6-era "false" (coalesce purely
    # by the 64MB advisory) was tuned to the sf0.1 bench and starved
    # every 20-50MB post-shuffle stage down to ONE task at sf1 —
    # profiled single-task stages of 2-14s with 31 cores idle in
    # agg_groupby_quantile, text_bm25_topk, text_keyphrase_rake,
    # dedup_duplicate_spans, window_ewm_bounded, sessionize_gap — and
    # measured SLOWER even at sf0.1 (8-query interleaved probe: 9.52s
    # false vs 4.93s true; sf1 18.86 vs 7.83).  parallelismFirst
    # keeps post-shuffle parallelism at cluster width until partitions
    # hit minPartitionSize; the advisory byte target still governs
    # once data is large enough for bytes to matter.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/supplier/part) are tiny at every
    # SF; raise the auto-broadcast threshold so they always take the
    # broadcast-hash path even before AQE kicks in.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    "spark.sql.parquet.filterPushdown": "true",
}


def _positive_int(var: str, value: str) -> int:
    """`value` of environment variable `var` as a positive int, or a
    ValueError naming the variable."""
    if not value.isdigit() or int(value) < 1:
        raise ValueError(f"{var} must be a positive integer, got {value!r}")
    return int(value)


def build_session(
    app_name: str = "ondemand_dask_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    Parameters mirror the reference's ``spawn(name, cpu, ram, ...)``
    knobs where they make sense for Spark: sizing is expressed via
    ``master`` locally and executor configs in cluster mode.
    ``SPARK_GRAFT_CPUS`` (``*`` or a positive int) and
    ``SPARK_SHUFFLE_PARTITIONS`` (a positive int) are validated before
    any Spark conf is set.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        if cpus != "*":
            _positive_int("SPARK_GRAFT_CPUS", cpus)
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = _positive_int(
            "SPARK_SHUFFLE_PARTITIONS",
            os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"),
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # managed tables (bucketed-join layouts) land in scratch, not
        # the repo working dir
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE_DIR", "/tmp/ondemand_dask_spark_warehouse"
            ),
        )
    )
    for k, v in {**ENGINE_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Apply `ENGINE_CONF` to a session we did not build (the driver
    hands us one), so it runs the engine `build_session` configures."""
    for k, v in ENGINE_CONF.items():
        spark.conf.set(k, v)
    return spark
