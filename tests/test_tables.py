"""tables.tbl: the events-ts normalization must not leak session config."""

from __future__ import annotations

import datetime as dt

import pytest

from nzgmdb_spark.tables import tbl

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


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_ts_read_leaves_session_config_unchanged(spark, tmp_path, unit):
    _write_events(tmp_path, unit)
    before = spark.conf.get(NANOS_KEY)
    df = tbl(spark, str(tmp_path), "events")
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
