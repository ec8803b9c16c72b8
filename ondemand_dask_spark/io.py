"""Table loading — the engine's scan layer (SURVEY.md §2.A).

Maps the reference's `dd.read_parquet(path, columns=, filters=)` to
`spark.read.parquet`: column pruning and predicate pushdown that Dask
exposes as manual kwargs are automatic here via Catalyst
(ColumnPruning / PushDownPredicates reach the parquet scan — check
with `.explain('formatted')`: `PushedFilters`, `ReadSchema`).

One quirk is centralized here so no query can get it wrong
(SURVEY.md §0.5.1): `events.ts` has shipped in two parquet encodings
across driver testdata generations — INT64 TIMESTAMP(NANOS), which
Spark 4 only reads with `spark.sql.legacy.parquet.nanosAsLong`
(set by both session entry points) as a bigint of nanoseconds, and plain
TIMESTAMP(MICROS) naive, which reads natively as timestamp_ntz.  The
loader sniffs the decoded dtype and normalizes either to a µs
TimestampNTZ — `timestamp_ntz` matches the other tables' naive
timestamps and DuckDB's µs truncation bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables: bounded cardinality at every scale factor
# (region=5, nation=25 always; supplier/part/customer grow slowly).
# Joins against these should broadcast — see queries/tpch.py.
BROADCAST_DIMS = frozenset({"region", "nation"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table as a DataFrame with normalized types."""
    if name == "events":
        # INT64 NANOS files need nanosAsLong, which both session entry
        # points set (session.ENGINE_CONF).
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # ns bigint → µs timestamp_ntz.  MUST be integer division:
            # `/` promotes to double, which has only 53 mantissa bits —
            # ns-since-epoch ≈ 1.7e18 rounds off by ±1 µs and breaks
            # hash-parity with DuckDB's exact truncation.
            return df.withColumn(
                "ts",
                F.to_timestamp_ntz(F.timestamp_micros(F.expr("ts div 1000"))),
            )
        if ts_type == "timestamp":
            # session-tz timestamp (session is pinned UTC) → naive
            return df.withColumn("ts", F.to_timestamp_ntz("ts"))
        return df  # already timestamp_ntz
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so `spark.sql` queries can
    name them exactly as the DuckDB oracle does."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
