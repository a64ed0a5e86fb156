"""Streaming-mode tests: watermarked dedup, windowed aggregation, and
foreachBatch batch-parity, driven by a file source fed from the events
table (the arrival pattern of FIXTURES.md §16: duplicates + late rows)."""

from __future__ import annotations

import json
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from nzgmdb_spark.streaming.events import (
    deduped_event_stream,
    foreach_batch_pipeline,
    windowed_counts,
)


@pytest.fixture()
def stream_dir(tmp_path, spark):
    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01 00:00:10", "event_type": "view", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01 00:00:40", "event_type": "click", "value": 2.0},
        {"event_id": 1, "ts": "2024-01-01 00:00:10", "event_type": "view", "value": 1.0},  # dup
        {"event_id": 3, "ts": "2024-01-01 00:02:30", "event_type": "view", "value": 3.0},
        {"event_id": 2, "ts": "2024-01-01 00:00:40", "event_type": "click", "value": 2.0},  # dup
        {"event_id": 4, "ts": "2024-01-01 00:03:20", "event_type": "click", "value": 4.0},
    ]
    with open(src / "batch0.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(src)


def _read_stream(spark, path):
    return (
        spark.readStream.schema(
            "event_id LONG, ts STRING, event_type STRING, value DOUBLE"
        )
        .json(path)
        .withColumn("ts", F.to_timestamp("ts"))
    )


def test_watermarked_dedup(spark, stream_dir, tmp_path):
    stream = deduped_event_stream(_read_stream(spark, stream_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM dedup_out").collect()
    assert sorted(r.event_id for r in out) == [1, 2, 3, 4]


def test_windowed_counts_match_batch(spark, stream_dir, tmp_path):
    stream = windowed_counts(_read_stream(spark, stream_dir), window="1 minute")
    q = (
        stream.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits closed windows; re-aggregate the same input in
    # batch and check the stream's emitted rows are a consistent subset
    batch = (
        spark.read.schema("event_id LONG, ts STRING, event_type STRING, value DOUBLE")
        .json(stream_dir)
        .withColumn("ts", F.to_timestamp("ts"))
        .groupBy(F.window("ts", "1 minute"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    batch_counts = {
        (r["window"].start, r.event_type): r.n_events for r in batch.collect()
    }
    for r in spark.sql("SELECT * FROM win_out").collect():
        assert (r.window_start, r.event_type) in batch_counts


def test_sliding_windowed_counts_match_batch(spark, stream_dir, tmp_path):
    # 2-minute windows sliding every 1 minute: each event lands in 2
    # overlapping windows; the streamed rows must agree with the batch
    # twin computed over the same files.
    stream = windowed_counts(
        _read_stream(spark, stream_dir), window="2 minutes", slide="1 minute"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("slide_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_slide"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batch = (
        spark.read.schema("event_id LONG, ts STRING, event_type STRING, value DOUBLE")
        .json(stream_dir)
        .groupBy(
            F.window(F.to_timestamp("ts"), "2 minutes", "1 minute"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    batch_counts = {
        (r["window"].start, r.event_type): r.n_events for r in batch.collect()
    }
    emitted = spark.sql("SELECT * FROM slide_out").collect()
    for r in emitted:
        assert batch_counts[(r.window_start, r.event_type)] == r.n_events


def test_foreach_batch_parity(spark, stream_dir, tmp_path):
    """The same pure DataFrame function runs in batch and per micro-batch."""
    seen: list[tuple[int, int]] = []

    def batch_fn(df):
        return df.filter(F.col("value") > 1.5).select("event_id", "value")

    def sink(df, batch_id):
        seen.append((batch_id, df.count()))

    stream = _read_stream(spark, stream_dir)
    q = (
        foreach_batch_pipeline(
            stream, batch_fn, sink, checkpoint_dir=str(tmp_path / "ckpt3")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    total_stream = sum(n for _, n in seen)
    total_batch = batch_fn(
        spark.read.schema("event_id LONG, ts STRING, event_type STRING, value DOUBLE")
        .json(stream_dir)
        .withColumn("ts", F.to_timestamp("ts"))
    ).count()
    assert total_stream == total_batch == 4  # dups included pre-dedup


@pytest.fixture()
def session_stream_dir(tmp_path):
    """Three micro-batch files (maxFilesPerTrigger=1). The watermark only
    advances between batches, so event-time timeouts need a later batch to
    fire: file1's sentinel pushes the watermark past every open session's
    timeout, file2 gives the engine a batch in which to evict them."""
    src = tmp_path / "sessions_src"
    src.mkdir()
    batches = [
        [
            {"event_id": 1, "ts": "2024-01-01 00:00:00", "user_id": 1, "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 00:10:00", "user_id": 1, "value": 2.0},
            {"event_id": 3, "ts": "2024-01-01 00:05:00", "user_id": 2, "value": 5.0},
        ],
        [
            # 50-min gap since user 1's last event → closes session inline
            {"event_id": 4, "ts": "2024-01-01 01:00:00", "user_id": 1, "value": 3.0},
            {"event_id": 5, "ts": "2024-01-01 03:00:00", "user_id": 99, "value": 0.0},
        ],
        [
            {"event_id": 6, "ts": "2024-01-01 03:01:00", "user_id": 99, "value": 0.0},
        ],
    ]
    for i, rows in enumerate(batches):
        path = src / f"batch{i}.json"
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        # FileStreamSource orders batches by file modification time (ms
        # granularity): files written in the same millisecond arrive in
        # arbitrary order, so stamp strictly increasing mtimes to make
        # the micro-batch sequence deterministic.
        base = 1_700_000_000 + 10 * i
        os.utime(path, (base, base))
    return str(src)


def _read_session_stream(spark, path):
    return (
        spark.readStream.schema("event_id LONG, ts STRING, user_id LONG, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .json(path)
        .withColumn("ts", F.to_timestamp("ts"))
    )


def test_stateful_sessions(spark, session_stream_dir, tmp_path):
    from nzgmdb_spark.streaming.events import stateful_sessions

    stream = stateful_sessions(_read_session_stream(spark, session_stream_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    # user 1's first session closes inline on the 50-min gap; their second
    # session and user 2's close by event-time timeout once the 03:00
    # sentinel drives the watermark past their timeouts. user 99's session
    # is still open at end-of-stream and must NOT be emitted.
    assert got == {
        (1, "2024-01-01 00:00:00", "2024-01-01 00:10:00", 2, 3.0),
        (1, "2024-01-01 01:00:00", "2024-01-01 01:00:00", 1, 3.0),
        (2, "2024-01-01 00:05:00", "2024-01-01 00:05:00", 1, 5.0),
    }


def test_native_session_window_subset_of_batch(spark, session_stream_dir, tmp_path):
    """Closed F.session_window sessions must agree with the same aggregation
    run in batch over the full input (append mode emits a closed subset)."""
    from nzgmdb_spark.streaming.events import sessionized_counts

    stream = sessionized_counts(_read_session_stream(spark, session_stream_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("native_sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_nsess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batch = (
        spark.read.schema("event_id LONG, ts STRING, user_id LONG, value DOUBLE")
        .json(session_stream_dir)
        .withColumn("ts", F.to_timestamp("ts"))
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
    )
    batch_rows = {
        (r.user_id, r["session_window"].start, r.n_events, r.total_value)
        for r in batch.collect()
    }
    emitted = spark.sql("SELECT * FROM native_sess_out").collect()
    assert emitted, "no sessions closed — watermark never advanced"
    for r in emitted:
        assert (r.user_id, r.session_start, r.n_events, r.total_value) in batch_rows


def test_transform_with_state_running_totals(spark, session_stream_dir, tmp_path):
    """The last per-key emission of the transformWithState running
    aggregate must equal the batch groupBy over the full input."""
    pytest.importorskip("google.protobuf")
    from nzgmdb_spark.streaming.events import running_user_totals

    stream = running_user_totals(_read_session_stream(spark, session_stream_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("tws_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # memory sink appends every update; the row with the max n_events per
    # user is the final state
    rows = spark.sql(
        """SELECT user_id, n_events, total_value FROM tws_out
           QUALIFY row_number() OVER (
             PARTITION BY user_id ORDER BY n_events DESC) = 1"""
    ).collect()
    got = {(r.user_id, r.n_events, r.total_value) for r in rows}
    batch = (
        spark.read.schema("event_id LONG, ts STRING, user_id LONG, value DOUBLE")
        .json(session_stream_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    )
    want = {(r.user_id, r.n, r.t) for r in batch}
    assert got == want


@pytest.fixture()
def two_stream_dirs(tmp_path):
    clicks = tmp_path / "clicks"
    purchases = tmp_path / "purchases"
    clicks.mkdir()
    purchases.mkdir()
    click_rows = [
        {"event_id": 10, "ts": "2024-01-01 00:00:00", "user_id": 1},
        {"event_id": 11, "ts": "2024-01-01 00:05:00", "user_id": 1},
        {"event_id": 12, "ts": "2024-01-01 00:00:00", "user_id": 2},
        {"event_id": 13, "ts": "2024-01-01 01:00:00", "user_id": 3},
    ]
    purchase_rows = [
        # joins clicks 10 (14 min back) and 11 (9 min back) for user 1
        {"event_id": 50, "ts": "2024-01-01 00:14:00", "user_id": 1},
        # 20 min after user 2's click — outside the 15-min window
        {"event_id": 51, "ts": "2024-01-01 00:20:00", "user_id": 2},
        # user 4 has no clicks at all
        {"event_id": 52, "ts": "2024-01-01 00:10:00", "user_id": 4},
        # BEFORE user 3's click — must not join (click_ts <= purchase_ts)
        {"event_id": 53, "ts": "2024-01-01 00:55:00", "user_id": 3},
    ]
    with open(clicks / "b0.json", "w") as f:
        for r in click_rows:
            f.write(json.dumps(r) + "\n")
    with open(purchases / "b0.json", "w") as f:
        for r in purchase_rows:
            f.write(json.dumps(r) + "\n")
    return str(clicks), str(purchases)


def _read_user_stream(spark, path):
    return (
        spark.readStream.schema("event_id LONG, ts STRING, user_id LONG")
        .json(path)
        .withColumn("ts", F.to_timestamp("ts"))
    )


def test_stream_stream_attribution_join(spark, two_stream_dirs, tmp_path):
    from nzgmdb_spark.streaming.events import attribution_join

    clicks_dir, purchases_dir = two_stream_dirs
    joined = attribution_join(
        _read_user_stream(spark, clicks_dir),
        _read_user_stream(spark, purchases_dir),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("attr_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_attr"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM attr_out").collect()
    pairs = sorted((r.click_id, r.purchase_id) for r in out)
    assert pairs == [(10, 50), (11, 50)]

    # Batch twin: the same operator applied to static frames must agree.
    cb = (
        spark.read.schema("event_id LONG, ts STRING, user_id LONG")
        .json(clicks_dir)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    pb = (
        spark.read.schema("event_id LONG, ts STRING, user_id LONG")
        .json(purchases_dir)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    batch = attribution_join(cb, pb)
    bpairs = sorted((r.click_id, r.purchase_id) for r in batch.collect())
    assert bpairs == pairs


def test_incremental_dedup_sink_across_batches(spark, tmp_path):
    from nzgmdb_spark.streaming.events import incremental_dedup_sink

    src = tmp_path / "docs_src"
    src.mkdir()
    index_path = str(tmp_path / "seen_index")
    out_path = str(tmp_path / "corpus")

    def run_drop(filename, rows):
        with open(src / filename, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        stream = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .json(str(src))
            .withColumn("content_hash", F.md5(F.col("text").cast("binary")))
        )
        q = (
            stream.writeStream.foreachBatch(
                incremental_dedup_sink(stream, index_path, out_path)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt_inc"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_drop(
        "drop1.json",
        [
            {"doc_id": 1, "text": "alpha beta"},
            {"doc_id": 2, "text": "gamma delta"},
            {"doc_id": 3, "text": "alpha beta"},  # intra-batch dup
        ],
    )
    out1 = spark.read.parquet(out_path).collect()
    assert len(out1) == 2  # intra-batch dup collapsed

    run_drop(
        "drop2.json",
        [
            {"doc_id": 4, "text": "alpha beta"},  # seen in drop1 → filtered
            {"doc_id": 5, "text": "epsilon zeta"},  # novel
        ],
    )
    out2 = spark.read.parquet(out_path).collect()
    texts = sorted(r.text for r in out2)
    assert texts == ["alpha beta", "epsilon zeta", "gamma delta"]
    # The index holds exactly one key per ever-seen document.
    idx = spark.read.parquet(index_path).collect()
    assert len(idx) == 3


def test_incremental_rollup_mv_maintenance(spark, tmp_path):
    from decimal import Decimal

    from nzgmdb_spark.streaming.events import incremental_rollup_sink

    mv_path = str(tmp_path / "rollup_mv")
    sink = incremental_rollup_sink(mv_path)

    def batch(rows):
        return spark.createDataFrame(rows, "event_type string, value double")

    b0 = batch([("click", 1.5), ("click", 2.5), ("view", 10.0)])
    b1 = batch([("click", 4.0), ("purchase", 7.25)])
    sink(b0, 0)
    sink(b1, 1)
    mv = {r.event_type: r for r in spark.read.parquet(mv_path).collect()}
    assert mv["click"].n == 3 and mv["click"].s == Decimal("8.000000")
    assert mv["view"].n == 1 and mv["view"].s == Decimal("10.000000")
    assert mv["purchase"].n == 1

    # At-least-once redelivery: replaying batch 1 must be a no-op.
    sink(b1, 1)
    mv2 = {r.event_type: r for r in spark.read.parquet(mv_path).collect()}
    assert mv2["click"].n == 3 and mv2["purchase"].n == 1

    # And the MV equals the from-scratch aggregate of everything seen.
    full = b0.unionByName(b1)
    want = {
        r.event_type: r
        for r in full.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("s"),
        )
        .collect()
    }
    for k, r in want.items():
        assert mv2[k].n == r.n and mv2[k].s == r.s


def test_incremental_rollup_merge_starts_no_spark_job(spark, tmp_path):
    # Spark computes each batch's delta; the driver merges it into the MV
    # and writes the MV file. A merge on Spark (or an MV read that infers
    # its schema) would make later batches start more jobs than the first.
    from nzgmdb_spark.streaming.events import incremental_rollup_sink
    from tests.conftest import jobs_started

    sink = incremental_rollup_sink(str(tmp_path / "rollup_mv"))
    jobs = []
    for i in range(3):
        b = spark.createDataFrame(
            [("click", 1.5 + i), (f"k{i}", 2.0)], "event_type string, value double"
        )
        jobs.append(jobs_started(spark, lambda: sink(b, i))[1])
    assert jobs[0] == jobs[1] == jobs[2], jobs


def _rollup_batch(spark, rows):
    return spark.createDataFrame(rows, "event_type string, value decimal(38,6)")


def _exact_rollup(*batches):
    """The rollup Spark's groupBy/count/sum gives over every row of
    ``batches``: nulls form one key, and a null value counts but adds
    nothing."""
    out = {}
    for rows in batches:
        for k, v in rows:
            n, s = out.get(k, (0, None))
            out[k] = (n + 1, s if v is None else v if s is None else s + v)
    return out


def _mv_as_read(spark, mv_path):
    """The MV as each of its two readers sees it."""
    import pyarrow.parquet as pq

    arrow = pq.read_table(mv_path)
    by_arrow = {
        k: (n, s)
        for k, n, s in zip(*(arrow.column(c).to_pylist() for c in ("event_type", "n", "s")))
    }
    by_spark = {r.event_type: (r.n, r.s) for r in spark.read.parquet(mv_path).collect()}
    return by_arrow, by_spark


def _replace_then_raise(exc):
    """An ``os.replace`` that does the replace, then raises ``exc``: a
    crash right after the sink's commit."""
    real_replace = os.replace

    def replace(*args, **kwargs):
        real_replace(*args, **kwargs)
        raise exc

    return replace


_ROLLUP_DROPS = [
    [("click", Decimal("1.5")), ("view", Decimal("10")), ("click", Decimal("2.25"))],
    [("click", Decimal("4")), ("purchase", Decimal("7.125"))],
    [("view", Decimal("0.000001")), ("purchase", Decimal("1"))],
]


@pytest.mark.parametrize("fault", ["before_temp_write", "before_replace", "after_replace"])
def test_incremental_rollup_sink_crash_recovery(spark, tmp_path, monkeypatch, fault):
    """The sink dies at each step of batch 1's commit; the redelivered
    batch 1 must then count exactly once, and the MV must be readable,
    and exact, at every point in between."""
    import pyarrow.parquet as pq

    from nzgmdb_spark.streaming.events import incremental_rollup_sink

    class Crash(Exception):
        pass

    def crash(*args, **kwargs):
        raise Crash

    mv_path = str(tmp_path / "rollup_mv")
    sink = incremental_rollup_sink(mv_path)
    b0, b1, b2 = (_rollup_batch(spark, rows) for rows in _ROLLUP_DROPS)
    sink(b0, 0)
    with monkeypatch.context() as m:
        if fault == "before_temp_write":
            m.setattr(pq, "write_table", crash)
        else:
            after = _replace_then_raise(Crash)
            m.setattr(os, "replace", crash if fault == "before_replace" else after)
        with pytest.raises(Crash):
            sink(b1, 1)

    # never missing: the old MV, or the new one once the replace is done
    applied = _ROLLUP_DROPS[:2] if fault == "after_replace" else _ROLLUP_DROPS[:1]
    assert _mv_as_read(spark, mv_path) == (_exact_rollup(*applied),) * 2
    leftovers = [n for n in os.listdir(mv_path) if n.startswith(".")]
    assert bool(leftovers) == (fault == "before_replace"), leftovers

    sink(b1, 1)  # at-least-once redelivery of the batch that died
    assert _mv_as_read(spark, mv_path) == (_exact_rollup(*_ROLLUP_DROPS[:2]),) * 2
    sink(b2, 2)
    assert _mv_as_read(spark, mv_path) == (_exact_rollup(*_ROLLUP_DROPS),) * 2
    assert len(os.listdir(mv_path)) == 1  # the temp file was overwritten


def test_incremental_rollup_sink_replays_after_query_restart(spark, tmp_path, monkeypatch):
    """End to end: the sink dies right after committing batch 1, which
    fails the streaming query before Spark commits the batch; a query
    restarted from the same checkpoint redelivers batch 1 under the same
    id, and the rollup counts it once."""
    from nzgmdb_spark.streaming.events import incremental_rollup_sink

    src = tmp_path / "src"
    src.mkdir()
    mv_path = str(tmp_path / "rollup_mv")
    sink = incremental_rollup_sink(mv_path)
    seen = []

    def run_available():
        def recorded(df, batch_id):
            seen.append(batch_id)
            sink(df, batch_id)

        q = (
            spark.readStream.schema("event_type STRING, value DECIMAL(38,6)")
            .json(str(src))
            .writeStream.foreachBatch(recorded)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def drop(i):
        with open(src / f"drop{i}.json", "w") as f:
            for k, v in _ROLLUP_DROPS[i]:
                f.write(json.dumps({"event_type": k, "value": str(v)}) + "\n")

    drop(0)
    run_available()
    drop(1)
    with monkeypatch.context() as m:
        m.setattr(os, "replace", _replace_then_raise(RuntimeError("sink died after its commit")))
        with pytest.raises(Exception, match="sink died after its commit"):
            run_available()
    run_available()  # restart: batch 1 is delivered again
    assert seen == [0, 1, 1]
    assert _mv_as_read(spark, mv_path) == (_exact_rollup(*_ROLLUP_DROPS[:2]),) * 2


def test_incremental_rollup_sum_overflow_raises_and_keeps_mv(spark, tmp_path):
    # Spark's ANSI sum raises on a decimal(38,6) overflow; so does the
    # driver-side merge across batches, before anything is written.
    from pyspark.errors import ArithmeticException

    from nzgmdb_spark.session import file_signature
    from nzgmdb_spark.streaming.events import incremental_rollup_sink

    mv_path = str(tmp_path / "rollup_mv")
    sink = incremental_rollup_sink(mv_path)
    big = Decimal("60000000000000000000000000000000")  # 6e31, 32 integer digits
    b0 = [("click", big), ("view", Decimal("1"))]
    sink(_rollup_batch(spark, b0), 0)
    (name,) = os.listdir(mv_path)
    before = file_signature(os.path.join(mv_path, name))
    with pytest.raises(ArithmeticException):
        sink(_rollup_batch(spark, [("click", big)]), 1)
    assert os.listdir(mv_path) == [name]
    assert file_signature(os.path.join(mv_path, name)) == before
    assert _mv_as_read(spark, mv_path) == (_exact_rollup(b0),) * 2


def test_incremental_rollup_merges_null_keys_and_values_like_spark(spark, tmp_path):
    from nzgmdb_spark.streaming.events import incremental_rollup_sink

    drops = [
        [(None, Decimal("1.5")), ("a", None), ("b", None), ("c", Decimal("2"))],
        [(None, Decimal("2.5")), ("a", None), ("b", Decimal("3")), (None, None)],
        [("d", None)],
    ]
    mv_path = str(tmp_path / "rollup_mv")
    sink = incremental_rollup_sink(mv_path)
    frames = [_rollup_batch(spark, rows) for rows in drops]
    for i, b in enumerate(frames):
        sink(b, i)
    union = frames[0].unionByName(frames[1]).unionByName(frames[2])
    by_spark = {
        r.event_type: (r.n, r.s)
        for r in union.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert by_spark == _exact_rollup(*drops)
    assert _mv_as_read(spark, mv_path) == (by_spark,) * 2


def test_incremental_rollup_refuses_foreign_files_in_mv_path(spark, tmp_path):
    # An MV directory in the older layout (Spark part files, _SUCCESS, a
    # sibling .applied_batch marker) would be read beside a new MV file
    # and double-counted: the sink must refuse it and write nothing.
    from nzgmdb_spark.streaming.events import incremental_rollup_sink

    mv_path = str(tmp_path / "rollup_mv")
    _rollup_batch(spark, _ROLLUP_DROPS[0]).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    ).write.parquet(mv_path)
    with open(mv_path + ".applied_batch", "w") as fh:
        fh.write("0")
    before = sorted(os.listdir(mv_path))
    sink = incremental_rollup_sink(mv_path)
    with pytest.raises(RuntimeError, match="holds files besides"):
        sink(_rollup_batch(spark, _ROLLUP_DROPS[1]), 1)
    assert sorted(os.listdir(mv_path)) == before


def test_incremental_dedup_sink_raises_on_corrupt_index(spark, tmp_path):
    # an index that cannot be read must fail the batch, not let every row
    # through as if nothing had been seen
    from nzgmdb_spark.streaming.events import incremental_dedup_sink

    index = tmp_path / "seen_index"
    index.mkdir()
    (index / "_SUCCESS").write_bytes(b"")
    (index / "part-00000-0.snappy.parquet").write_bytes(b"not a parquet file")
    out = tmp_path / "corpus"
    batch = spark.createDataFrame(
        [(1, "alpha beta")], "doc_id long, text string"
    ).withColumn("content_hash", F.md5(F.col("text").cast("binary")))
    sink = incremental_dedup_sink(batch, str(index), str(out))
    with pytest.raises(Exception, match="not a Parquet file"):
        sink(batch, 0)
    assert not out.exists()


def test_incremental_dedup_sink_crash_recovery(spark, tmp_path):
    """T2/T3 exactly-once under an actual kill-and-restart (round-3 review
    ask): a streaming query is stopped between micro-batches, its LAST
    COMMIT is deleted from the checkpoint (the on-disk state after a crash
    that died after writing offsets but before committing — exactly the
    window where foreachBatch redelivers), and a fresh query restarted
    from the same checkpoint replays that batch. The corpus must
    hash-match a twin that never crashed: the idempotent index-before-
    corpus append ordering is what absorbs the replay."""
    from nzgmdb_spark.streaming.events import incremental_dedup_sink

    drops = [
        ("drop1.json", [
            {"doc_id": 1, "text": "alpha beta"},
            {"doc_id": 2, "text": "gamma delta"},
            {"doc_id": 3, "text": "alpha beta"},  # intra-batch dup
        ]),
        ("drop2.json", [
            {"doc_id": 4, "text": "alpha beta"},   # cross-batch dup
            {"doc_id": 5, "text": "epsilon zeta"},
        ]),
    ]

    def build(root):
        src = root / "src"
        src.mkdir(parents=True)
        return {
            "src": src,
            "index": str(root / "seen_index"),
            "out": str(root / "corpus"),
            "ckpt": str(root / "ckpt"),
        }

    def run_available(env):
        stream = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .json(str(env["src"]))
            .withColumn("content_hash", F.md5(F.col("text").cast("binary")))
        )
        q = (
            stream.writeStream.foreachBatch(
                incremental_dedup_sink(stream, env["index"], env["out"])
            )
            .option("checkpointLocation", env["ckpt"])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def corpus_texts(env):
        return sorted(r.text for r in spark.read.parquet(env["out"]).collect())

    # --- twin: both drops processed with no crash
    twin = build(tmp_path / "twin")
    for fname, rows in drops:
        with open(twin["src"] / fname, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
    run_available(twin)

    # --- crashed run: drop1 → stop (kill between micro-batches) → drop2
    # processed → delete the batch's commit marker (crash-after-offsets,
    # before-commit) → restart replays drop2's batch from the checkpoint.
    cr = build(tmp_path / "crashed")
    with open(cr["src"] / drops[0][0], "w") as f:
        for r in drops[0][1]:
            f.write(json.dumps(r) + "\n")
    run_available(cr)  # batch 0; query stops (availableNow) = clean kill
    with open(cr["src"] / drops[1][0], "w") as f:
        for r in drops[1][1]:
            f.write(json.dumps(r) + "\n")
    run_available(cr)  # restart #1 from checkpoint processes drop2

    # Crash state = checkpoint with offsets written but the last commit
    # missing. Build it at a FRESH path: Spark 4 caches the commit log
    # per checkpoint path in the JVM, and an in-place delete trips its
    # concurrent-modification guard instead of simulating a crash.
    import shutil

    replay_ckpt = str(tmp_path / "crashed" / "ckpt_replay")
    shutil.copytree(cr["ckpt"], replay_ckpt)
    commits = os.path.join(replay_ckpt, "commits")
    last = max(os.listdir(commits), key=lambda s: int(s) if s.isdigit() else -1)
    os.remove(os.path.join(commits, last))  # crash-after-offsets, pre-commit
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)  # stale ChecksumFs crc would block the re-commit rename
    cr["ckpt"] = replay_ckpt
    before_replay = corpus_texts(cr)
    run_available(cr)  # restart #2 MUST replay the uncommitted batch

    # replayed batch re-filtered itself to empty: corpus unchanged and
    # identical to the never-crashed twin; index still one key per
    # ever-seen hash
    assert corpus_texts(cr) == before_replay
    assert corpus_texts(cr) == corpus_texts(twin)
    assert corpus_texts(cr) == ["alpha beta", "epsilon zeta", "gamma delta"]
    idx = spark.read.parquet(cr["index"]).collect()
    assert len(idx) == 3
