"""Spark SQL surface over the warehouse.

The reference has no query language — every "query" is a hard-coded pandas
program (SURVEY.md §3). This engine's DataFrame programs compile to the
same Catalyst plans as Spark SQL, so exposing the warehouse through temp
views gives users a real SQL entry point for free: ANSI-SQL text → Catalyst
→ the same optimized physical plans the registry queries produce.

``tests/test_sql_surface.py`` keeps this honest: every registry oracle
string that parses in Spark's dialect is executed through ``run_sql`` and
must produce exactly the same rows as the hand-built DataFrame program.

Registering the ten views is per-session work, not per-query work:
``run_sql`` re-registers only when the warehouse it would register differs
from the one this session's views came from (see :func:`run_sql`), and
each registration infers no schema that :mod:`nzgmdb_spark.tables` already
holds.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

from nzgmdb_spark.tables import TABLE_NAMES, file_signature, tbl

# session -> signature of the warehouse its views were registered from.
# Temp views belong to one SparkSession (and so to one application), so the
# record does too, and it dies with the session object.
_REGISTERED: weakref.WeakKeyDictionary[SparkSession, tuple] = (
    weakref.WeakKeyDictionary()
)


def _warehouse_signature(sf_dir: str) -> tuple | None:
    """What the views of ``sf_dir`` depend on, or None when some table is
    not a regular local file (its changes cannot be seen by ``os.stat``)."""
    sigs = tuple(file_signature(f"{sf_dir}/{n}.parquet") for n in TABLE_NAMES)
    if None in sigs:
        return None
    return os.path.abspath(sf_dir), sigs


def create_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every warehouse table as a temp view (idempotent).

    Views go through :func:`nzgmdb_spark.tables.tbl`, so schema
    normalization (the events ``ts`` timestamp handling) applies to SQL
    users identically to DataFrame users.
    """
    # stat before reading: a file rewritten during registration then shows
    # as changed on the next run_sql call
    sig = _warehouse_signature(sf_dir)
    for name in TABLE_NAMES:
        tbl(spark, sf_dir, name).createOrReplaceTempView(name)
    _REGISTERED[spark] = sig


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Run a SQL query against the warehouse views.

    The views are registered once per session and warehouse: ``run_sql``
    calls :func:`create_views` only when this session has no views yet, or
    they came from another ``sf_dir`` or from a table file whose
    ``(st_ino, st_mtime_ns, st_size)`` has changed since. A warehouse with a
    table that is not a regular local file (a directory dataset, a remote
    URI) is registered again on every call. Each registration reads fresh
    DataFrames through ``tbl``; no data is cached. A caller that replaces
    one of the ten view names itself calls ``create_views`` to restore it.
    """
    sig = _warehouse_signature(sf_dir)
    if sig is None or _REGISTERED.get(spark) != sig:
        create_views(spark, sf_dir)
    return spark.sql(sql)
