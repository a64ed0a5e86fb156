"""Table catalog over the synthetic warehouse (TESTDATA.md).

Tables are one parquet file per name under a scale-factor directory. At
cluster scale these would be partitioned parquet datasets; the loaders only
depend on path globs, so the same code serves both layouts.

Schema cache. Inferring a parquet schema is a one-task Spark job that reads
the file footer (~0.1 s), and a query that reads five tables paid it five
times per call. :func:`tbl` therefore keeps the schema Spark itself
inferred for each table file in the session memo
(:func:`nzgmdb_spark.session.memo`) and hands it back to the reader
(``spark.read.schema(cached)``), which then starts no job.

- **Key.** ``("schema", absolute path, parquet inference settings)``, with
  the file as the entry's one dependency: a file rewritten or replaced at
  the same path is inferred again, and so is every file after a setting
  that changes what Spark infers (``binaryAsString``, ...). A path that is
  not a regular local file is inferred on every call; a missing file still
  raises Spark's ``AnalysisException``.
- **Fresh DataFrames.** Only the schema is reused, never a DataFrame: every
  call returns a new read with its own column ids, so two results of the
  same table self-join without ambiguity, and nothing is cached or
  persisted in Spark.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from nzgmdb_spark.session import memo

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

# Session settings that change the schema Spark infers from a parquet footer.
_INFERENCE_SETTINGS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)

def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring a local file's schema once
    per session (see the module docstring)."""
    key = (
        "schema",
        os.path.abspath(path),
        tuple(spark.conf.get(k) for k in _INFERENCE_SETTINGS),
    )
    schema = memo(spark, key, [path], lambda: spark.read.parquet(path).schema)
    return spark.read.schema(schema).parquet(path)


def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table from a scale-factor directory as a fresh DataFrame."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # Older generator builds stored ts as TIMESTAMP(NANOS), which the
        # vectorized parquet reader rejects; newer builds store TIMESTAMP(US).
        # Read with nanosAsLong enabled (a no-op for micros) and downcast only
        # when ts actually surfaces as a long, matching DuckDB's
        # TIMESTAMP_NS → TIMESTAMP coercion. The setting is scoped to this
        # read: the caller's session config is restored before returning.
        # The fix-ups below run on every call, cached schema or not.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key)
        spark.conf.set(key, "true")
        try:
            df = _read_parquet(spark, path)
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
    return _read_parquet(spark, path)
