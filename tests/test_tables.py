"""tables.tbl: the events-ts normalization must not leak session config, and
the per-session schema cache must never change what a read returns."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.errors.exceptions.captured import AnalysisException

from nzgmdb_spark.tables import tbl
from tests.conftest import SF_SMALL, jobs_started

NANOS_KEY = "spark.sql.legacy.parquet.nanosAsLong"
TS = [dt.datetime(2024, 1, 1, 0, 0, 0, 123456), dt.datetime(2024, 1, 2, 12, 0, 0, 7)]


def _write_events(path, unit: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(TS, pa.timestamp(unit)),
            "value": pa.array([1.5, 2.5], pa.float64()),
        }
    )
    # version 2.6 keeps ns timestamps as TIMESTAMP(NANOS) instead of
    # coercing them to micros
    pq.write_table(table, path / "events.parquet", version="2.6")


def _write_orders(path, columns: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), path / "orders.parquet")


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_ts_read_leaves_session_config_unchanged(spark, tmp_path, unit):
    _write_events(tmp_path, unit)
    before = spark.conf.get(NANOS_KEY)
    # the second call reads with the schema cached by the first
    for call in range(2):
        df, jobs = jobs_started(spark, lambda: tbl(spark, str(tmp_path), "events"))
        if call == 1:
            assert jobs == 0
        assert spark.conf.get(NANOS_KEY) == before
        assert df.schema["ts"].dataType.simpleString() == "timestamp"
        # the DataFrame built under the scoped setting still executes after
        # the setting is restored, including through a shuffle over ts
        got = sorted(r.ts for r in df.select("ts").collect())
        assert got == TS  # session zone is UTC, so naive datetimes round-trip
        days = df.groupBy("ts").count().count()
        assert days == 2
        assert spark.conf.get(NANOS_KEY) == before


def test_plain_read_of_nanos_events_is_rejected(spark, tmp_path):
    # why tbl needs the setting at all: without it the ns file fails to read
    _write_events(tmp_path, "ns")
    assert spark.conf.get(NANOS_KEY) == "false"
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL|Illegal Parquet type"):
        spark.read.parquet(str(tmp_path / "events.parquet")).collect()


def test_second_read_infers_no_schema(spark, tmp_path):
    _write_orders(tmp_path, {"o_orderkey": [3, 1, 2], "o_comment": ["c", "a", "b"]})
    first, jobs1 = jobs_started(spark, lambda: tbl(spark, str(tmp_path), "orders"))
    second, jobs2 = jobs_started(spark, lambda: tbl(spark, str(tmp_path), "orders"))
    assert jobs1 >= 1  # schema inference reads the footer in a Spark job
    assert jobs2 == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    _write_orders(tmp_path, {"o_orderkey": [1, 2]})
    assert tbl(spark, str(tmp_path), "orders").columns == ["o_orderkey"]
    _write_orders(tmp_path, {"o_orderkey": [7], "o_note": ["x"]})
    df = tbl(spark, str(tmp_path), "orders")
    assert df.columns == ["o_orderkey", "o_note"]
    assert [tuple(r) for r in df.collect()] == [(7, "x")]


def test_inference_setting_change_is_inferred_again(spark, tmp_path):
    # the cache must hand back what Spark would infer under the current
    # settings, not what it inferred under earlier ones
    _write_orders(tmp_path, {"o_blob": [b"ab"]})
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    assert tbl(spark, str(tmp_path), "orders").schema["o_blob"].dataType.simpleString() == "binary"
    spark.conf.set(key, "true")
    try:
        df = tbl(spark, str(tmp_path), "orders")
        assert df.schema["o_blob"].dataType.simpleString() == "string"
    finally:
        spark.conf.set(key, before)


def test_cached_reads_self_join_without_ambiguity(spark):
    tbl(spark, SF_SMALL, "nation")  # make sure the next two are cache hits
    a = tbl(spark, SF_SMALL, "nation")
    b = tbl(spark, SF_SMALL, "nation")
    joined = a.join(b, a["n_nationkey"] == b["n_nationkey"]).select(
        a["n_nationkey"], a["n_regionkey"], b["n_regionkey"]
    )
    rows = joined.collect()
    assert len(rows) == 25
    assert all(r[1] == r[2] for r in rows)


def test_missing_table_still_raises_analysis_exception(spark, tmp_path):
    for _ in range(2):
        with pytest.raises(AnalysisException):
            tbl(spark, str(tmp_path), "orders")
