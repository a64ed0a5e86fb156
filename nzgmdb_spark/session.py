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

:func:`memo` is the one per-session store of state derived from the
warehouse files: inferred table schemas (never a table DataFrame: ``tbl``
returns a fresh read on every call), the SQL views, and the staged
localCheckpoint corpora and ANN indexes of the dedup and similarity queries.
"""

from __future__ import annotations

import os
import stat
import weakref
from collections.abc import Callable, Hashable, Iterable
from typing import Any

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


def file_signature(path: str) -> tuple[int, int, int] | None:
    """``(st_ino, st_mtime_ns, st_size)`` of a regular local file, else
    None (missing file, directory dataset, remote URI)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


# session -> {key: (signature, value)}. Temp views and localCheckpoint handles
# belong to one SparkSession: a new one starts empty, even at a reused id().
_MEMO: weakref.WeakKeyDictionary[SparkSession, dict] = weakref.WeakKeyDictionary()


def memo(
    spark: SparkSession,
    key: Hashable,
    files: Iterable[str],
    build: Callable[[], Any],
    refresh: bool = False,
) -> Any:
    """``build()``, reused by this session under ``key`` while ``files``
    are unchanged (``refresh=True`` builds regardless).

    - **Signature.** ``(abspath, file_signature(abspath))`` for each of
      ``files``, taken before ``build()`` runs, so a file rewritten during a
      build shows as changed on the next call. An entry is a hit only while
      its signature is unchanged; otherwise it is built again and replaced.
    - **Not cached.** If any of ``files`` is not a regular local file, its
      changes cannot be seen by ``os.stat``: ``build()`` runs on every call
      and the key's entry is dropped, so it cannot outlive what it described.
    """
    sig = tuple((p, file_signature(p)) for p in map(os.path.abspath, files))
    store = _MEMO.setdefault(spark, {})
    if any(s is None for _, s in sig):
        store.pop(key, None)
        return build()
    hit = store.get(key)
    if hit is not None and hit[0] == sig and not refresh:
        return hit[1]
    value = build()
    store[key] = (sig, value)
    return value
