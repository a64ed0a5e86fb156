"""Table catalog over the synthetic warehouse (TESTDATA.md).

Tables are one parquet file per name under a scale-factor directory. At
cluster scale these would be partitioned parquet datasets; the loaders only
depend on path globs, so the same code serves both layouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
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

# Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_TABLES = frozenset({"region", "nation"})


def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table from a scale-factor directory."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    if name == "events":
        # Older generator builds stored ts as TIMESTAMP(NANOS), which the
        # vectorized parquet reader rejects; newer builds store TIMESTAMP(US).
        # Read with nanosAsLong enabled (a no-op for micros) and downcast only
        # when ts actually surfaces as a long, matching DuckDB's
        # TIMESTAMP_NS → TIMESTAMP coercion. The setting is scoped to this
        # read: the caller's session config is restored before returning.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key)
        spark.conf.set(key, "true")
        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        finally:
            spark.conf.set(key, prev)
        if isinstance(df.schema["ts"].dataType, T.LongType):
            # integer `div`, not double `/`: epoch-nanos exceed double's 2^53
            # exact-integer range, so float division would corrupt microseconds.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            # TIMESTAMP(US, isAdjustedToUTC=false) surfaces as TIMESTAMP_NTZ,
            # which rejects numeric casts downstream queries rely on. The
            # session timezone is pinned to UTC, so reinterpreting as the
            # instant type is lossless and matches DuckDB's naive TIMESTAMP.
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
