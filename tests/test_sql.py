"""sql.run_sql registers the warehouse views once per session and warehouse,
and again whenever the warehouse it is asked about is not the registered one."""

from __future__ import annotations

import os
import shutil

from nzgmdb_spark.sql import run_sql
from nzgmdb_spark.tables import TABLE_NAMES
from tests.conftest import SF_SMALL, jobs_started

N_NATIONS = "SELECT COUNT(*) AS n FROM nation"


def _warehouse(path) -> str:
    os.makedirs(path)
    for name in TABLE_NAMES:
        # copyfile, not copy2: the copies must be writable
        shutil.copyfile(f"{SF_SMALL}/{name}.parquet", f"{path}/{name}.parquet")
    return str(path)


def _keep_nations(sf_dir: str, n: int) -> None:
    import pyarrow.parquet as pq

    path = f"{sf_dir}/nation.parquet"
    pq.write_table(pq.read_table(path).slice(0, n), path)


def _n(spark, sf_dir: str) -> int:
    return run_sql(spark, sf_dir, N_NATIONS).collect()[0].n


def test_second_run_sql_registers_nothing(spark, tmp_path):
    sf_dir = _warehouse(tmp_path / "a")
    assert _n(spark, sf_dir) == 25
    df, jobs = jobs_started(spark, lambda: run_sql(spark, sf_dir, N_NATIONS))
    assert jobs == 0
    assert df.collect()[0].n == 25


def test_run_sql_follows_the_warehouse_it_is_given(spark, tmp_path):
    a = _warehouse(tmp_path / "a")
    b = _warehouse(tmp_path / "b")
    _keep_nations(b, 5)
    assert _n(spark, a) == 25
    assert _n(spark, b) == 5
    assert _n(spark, a) == 25


def test_rewritten_table_is_registered_again(spark, tmp_path):
    import pyarrow.parquet as pq

    sf_dir = _warehouse(tmp_path / "a")
    assert _n(spark, sf_dir) == 25
    path = f"{sf_dir}/nation.parquet"
    table = pq.read_table(path).slice(0, 10)
    pq.write_table(table.append_column("n_flag", [[1] * 10]), path)
    # the new column exists only in the rewritten file's schema
    got = run_sql(spark, sf_dir, "SELECT COUNT(*) AS n, SUM(n_flag) AS f FROM nation")
    assert tuple(got.collect()[0]) == (10, 10)
