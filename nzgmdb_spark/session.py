"""SparkSession factory with scale-oriented defaults.

The engine targets large clusters (100 TB-class inputs); locally we run
``local[$SPARK_GRAFT_CPUS]``. Every default here is chosen to survive a
1000-executor deployment:

- AQE on (runtime join re-selection, partition coalescing, skew-join
  splitting) — the reference workload is skewed (a few large events carry
  thousands of records; SURVEY.md §7.3-6).
- Arrow transfer on — all numeric kernels are pandas-UDF based.
- UTC session timezone — the reference strips timezones on ingest
  (nzgmdb/data_retrieval/geonet.py:827); keeping the engine UTC-naive makes
  results independent of driver locale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return f"local[{cpus}]"


def get_spark(
    app_name: str = "nzgmdb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine SparkSession."""
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or default_master())
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE convert a sort-merge join to a shuffled hash join at
        # runtime when the build side's per-partition map fits (default 0
        # disables the conversion entirely). Streaming the big side
        # unsorted removes the sort buffers that dominated the widest
        # fact-fact joins: q5's 60M-row lineitem⋈orders SMJ build peaked
        # at 10.0 GiB at the sf10 probe scale, 3.1 GiB (and ~5x faster)
        # with the conversion on (SCALING.md, sf10 section). 128m bounds
        # worst-case concurrent build maps at 32 tasks to ~4 GiB; joins
        # whose maps exceed it keep the spill-graceful SMJ.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m"
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        # local[N] runs driver + all executor threads in ONE JVM. 8g
        # measured best here: larger heaps (24g) pay a long first-run GC
        # ramp without improving steady-state on the sf0.1 workload.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def session_cache_key(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Cache key for session-lifetime index/staging caches.

    ``sparkContext.applicationId`` is unique per application, unlike
    ``id(spark)``, which CPython may recycle after a stopped session is
    garbage-collected — a recycled id would hand a new session stale
    localCheckpoint handles pinned to a dead context.
    """
    return (spark.sparkContext.applicationId, sf_dir)
