"""Spark SQL surface over the warehouse.

The reference has no query language — every "query" is a hard-coded pandas
program (SURVEY.md §3). This engine's DataFrame programs compile to the
same Catalyst plans as Spark SQL, so exposing the warehouse through temp
views gives users a real SQL entry point for free: ANSI-SQL text → Catalyst
→ the same optimized physical plans the registry queries produce.

``tests/test_sql_surface.py`` keeps this honest: every registry oracle
string that parses in Spark's dialect is executed through ``run_sql`` and
must produce exactly the same rows as the hand-built DataFrame program.

Registering the ten views is per-session work, not per-query work: the
session memo (:func:`nzgmdb_spark.session.memo`) holds one ``"views"`` entry
that depends on the ten table files, so ``run_sql`` registers again only for
another ``sf_dir`` or a rewritten table file, and on every call for a
warehouse with a table that is not a regular local file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nzgmdb_spark.session import memo
from nzgmdb_spark.tables import TABLE_NAMES, tbl


def _views(spark: SparkSession, sf_dir: str, refresh: bool) -> None:
    def register() -> None:
        for name in TABLE_NAMES:
            tbl(spark, sf_dir, name).createOrReplaceTempView(name)

    files = [f"{sf_dir}/{name}.parquet" for name in TABLE_NAMES]
    memo(spark, "views", files, register, refresh=refresh)


def create_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every warehouse table as a temp view (idempotent).

    Views go through :func:`nzgmdb_spark.tables.tbl`, so schema
    normalization (the events ``ts`` timestamp handling) applies to SQL
    users identically to DataFrame users. The ``"views"`` entry then
    describes ``sf_dir``.
    """
    _views(spark, sf_dir, refresh=True)


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Run a SQL query against the warehouse views, registering them first
    unless this session's views already describe ``sf_dir`` (see the module
    docstring). Each registration reads fresh DataFrames through ``tbl``; no
    data is cached. A caller that replaces one of the ten view names itself
    calls ``create_views`` to restore it.
    """
    _views(spark, sf_dir, refresh=False)
    return spark.sql(sql)
