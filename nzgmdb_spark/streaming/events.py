"""Structured Streaming mode (SURVEY.md §2.10 T1-T5).

The reference's real-time loop (real_time_eq_runs.py:505-558) polls GeoNet
every 60 s over a 10-minute lookback with a 1-minute safety lag, dedups
events against a seen-set, and runs the batch DAG per new event. The engine
expresses the same semantics natively:

- T1 poll source → any streaming source (file/rate/kafka); processingTime
  trigger for the 60 s cadence.
- T2 late/missed recovery → event-time watermark (the 10-min lookback).
- T3 exactly-once dedup → dropDuplicatesWithinWatermark on the event key +
  checkpointed state.
- T4 per-event incremental pipeline → foreachBatch invoking the SAME
  DataFrame→DataFrame functions as batch mode (engine convention: every
  stage is a pure function, SURVEY §7.3-7).
- T5 notification sink → foreachBatch hook.

Beyond the reference: tumbling/sliding event-time window aggregations,
which the reference lacks entirely.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter


def deduped_event_stream(
    stream: DataFrame,
    event_col: str = "event_id",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """T2+T3: watermarked exactly-once event dedup."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [event_col]
    )


def windowed_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "10 minutes",
    group_col: str = "event_type",
    slide: str | None = None,
) -> DataFrame:
    """Event-time window aggregation — tumbling by default, sliding
    (overlapping) when ``slide`` < ``window`` is given (batch twins:
    queries.timeseries.t_daily_rollup / t_sliding_window_counts — same
    grouping algebra)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide or window), F.col(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            group_col,
            "n_events",
            "total_value",
        )
    )


def sessionized_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    key_col: str = "user_id",
) -> DataFrame:
    """Native event-time session windows (F.session_window): a session
    extends while consecutive events arrive within `gap`. Declarative path —
    Spark manages the state store, merges windows, and closes sessions at
    the watermark. Batch twin: queries.windows.w_sessionize_gaps (same
    gap-break algebra via lag + cumulative sum)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            key_col,
            "n_events",
            "total_value",
        )
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id LONG, session_start TIMESTAMP, session_end TIMESTAMP, "
    "n_events LONG, total_value DOUBLE"
)
_SESSION_STATE_SCHEMA = "start_us LONG, last_us LONG, n LONG, total DOUBLE"


def stateful_sessions(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap_minutes: int = 30,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Custom stateful sessionization via applyInPandasWithState — the
    engine's template for operators the declarative surface can't express
    (arbitrary per-group mutable state + event-time timeouts). Unlike
    F.session_window, the state transition is open-coded, so variants the
    built-in can't do (per-session value caps, decaying gaps, emit-on-update)
    drop in here. Emits a session when a row arrives more than `gap_minutes`
    after the previous one, or when the watermark passes the open session's
    timeout. State is one fixed-width row per active key — at 100 TB this
    scales with DISTINCT active users inside the watermark horizon, not with
    event volume, and lives in the partitioned state store (RocksDB on a
    real cluster). Semantics match the batch twin
    queries.windows.w_sessionize_gaps (same 30-min gap rule)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    cols = ["user_id", "session_start", "session_end", "n_events", "total_value"]

    def _emit(rows: list[tuple[Any, ...]]) -> pd.DataFrame:
        out = pd.DataFrame(rows, columns=cols)
        for c in ("session_start", "session_end"):
            out[c] = pd.to_datetime(out[c], unit="us")
        return out

    def _fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        uid = key[0]
        closed: list[tuple[Any, ...]] = []
        if state.hasTimedOut:
            start_us, last_us, n, total = state.get
            closed.append((uid, start_us, last_us, n, total))
            state.remove()
        else:
            rows = pd.concat(list(pdfs)).sort_values(ts_col)
            start_us = None
            if state.exists:
                start_us, last_us, n, total = state.get
            for ts, val in zip(rows[ts_col], rows["value"]):
                ts_us = pd.Timestamp(ts).value // 1_000
                if start_us is not None and ts_us - last_us > gap_us:
                    closed.append((uid, start_us, last_us, n, total))
                    start_us = None
                if start_us is None:
                    start_us, last_us, n, total = ts_us, ts_us, 1, float(val)
                else:
                    last_us = max(last_us, ts_us)
                    n += 1
                    total += float(val)
            state.update((start_us, last_us, n, total))
            state.setTimeoutTimestamp(last_us // 1_000 + gap_minutes * 60_000)
        if closed:
            yield _emit(closed)

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            _fn,
            SESSION_OUTPUT_SCHEMA,
            _SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def foreach_batch_pipeline(
    stream: DataFrame,
    batch_fn: Callable[[DataFrame], DataFrame],
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger_seconds: int = 60,
) -> DataStreamWriter:
    """T4: run the batch DAG per micro-batch (the engine's batch/stream
    parity convention) and hand results to a sink callback (T5)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        sink(batch_fn(batch_df), batch_id)

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
    )


RUNNING_TOTALS_SCHEMA = "user_id LONG, n_events LONG, total_value DOUBLE"


def running_user_totals(stream: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Per-key running aggregates via transformWithStateInPandas — the
    modern (Spark 4) arbitrary-state API with typed, individually-addressable
    state variables (ValueState/ListState/MapState, optional TTL, timers),
    superseding applyInPandasWithState's single state tuple. Emits the
    updated running (count, sum) for each key touched by a micro-batch;
    because the accumulation is commutative, the LAST emission per key
    always equals the batch groupBy aggregate regardless of arrival order —
    the property the batch-parity test asserts. State is one fixed-width
    row per key in the partitioned state store.

    Requires protobuf at runtime (the transformWithState Python worker
    speaks a proto control channel to the JVM state server); environments
    without it get an ImportError here rather than a mid-query crash, and
    applyInPandasWithState (stateful_sessions) remains the fallback."""
    import google.protobuf  # noqa: F401  -- fail fast if unavailable
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n LONG, total DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            existing = self._agg.get() if self._agg.exists() else (0, 0.0)
            n, total = int(existing[0]), float(existing[1])
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._agg.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return stream.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType=RUNNING_TOTALS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    window: str = "15 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join with an event-time range condition: each
    purchase joins the same user's clicks from the preceding ``window``.

    The join-state problem this solves at scale: an unconstrained
    stream-stream join must buffer BOTH streams forever. The watermark on
    each side plus the time-range join condition lets Spark derive state
    watermarks — buffered clicks are evicted once no future purchase can
    reach back to them, so state is bounded by (watermark + window) of
    data regardless of how long the streams run. Join dispatch itself is
    hash-partitioned on user_id, the equi half of the condition.

    Batch twin: the same join expression over static frames (tested for
    parity in tests/test_streaming.py); the bucketed batch analog is
    queries/scale_ops.py:j_interval_overlap_bucketed.
    """
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return p.join(
        c,
        F.expr(
            f"user_id = c_user AND click_ts <= purchase_ts "
            f"AND click_ts >= purchase_ts - interval {window}"
        ),
        "inner",
    ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")


def _committed(spark, path: str) -> bool:
    """Whether a Spark write job has committed at ``path`` (its
    ``_SUCCESS`` marker exists), on any Hadoop filesystem."""
    jvm = spark.sparkContext._jvm
    marker = jvm.org.apache.hadoop.fs.Path(path, "_SUCCESS")
    fs = marker.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs.exists(marker)


def incremental_dedup_sink(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    key_col: str = "content_hash",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body for streaming corpus ingestion with exact dedup
    against a PERSISTED seen-set: each micro-batch (1) dedups within
    itself, (2) anti-joins the parquet seen-index, (3) appends survivors
    to the output corpus and their keys to the index.

    The batch analog is queries/dedup.py:dedup_exact_hash plus
    dedup_incremental_minhash's batch-vs-corpus shape; this is the same
    contract under continuous arrival. At 100 TB the index is a compact
    keys-only table (one md5 per EVER-SEEN document), the anti-join is an
    equi-join on the hash, and each batch's cost scales with the batch.
    Exactly-once across restarts comes from the checkpointed source
    offsets plus the idempotent keys-only index append ordering: the
    index append commits BEFORE the corpus append, so a replayed batch
    re-filters itself to empty rather than double-writing corpus rows.

    The index exists once an append has committed (its ``_SUCCESS``
    marker); it is read with the key schema the sink writes, so an index
    that cannot be read raises instead of letting every row through.
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates([key_col])
        if _committed(spark, index_path):
            keys = T.StructType([batch.schema[key_col]])
            seen = spark.read.schema(keys).parquet(index_path)
            novel = batch.join(seen, key_col, "left_anti")
        else:
            novel = batch  # first batch: no index yet
        novel = novel.localCheckpoint()  # pin: two writes, one evaluation
        novel.select(key_col).write.mode("append").parquet(index_path)
        novel.write.mode("append").parquet(out_path)

    return _process


def incremental_rollup_sink(
    mv_path: str,
    key_col: str = "event_type",
    value_col: str = "value",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body that MAINTAINS a materialized rollup (count + sum
    per key) instead of recomputing it: each micro-batch reduces to its
    per-key delta, merges with the existing MV by summing, and swaps the
    MV atomically (write-to-temp + rename).

    This is incremental view maintenance — the aggregate over all history
    is available at any moment at MV-read cost, while per-batch work is
    O(batch + |MV|) with the MV at rollup grain (small by construction).
    Replay safety: the applied batch_id is recorded WITH the MV swap, and
    a batch whose id is <= the recorded one is skipped outright, so
    foreachBatch's at-least-once redelivery cannot double-count.
    """
    import os
    import shutil

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = mv_path + ".applied_batch"
        if os.path.exists(marker):
            with open(marker) as fh:
                if batch_id <= int(fh.read().strip()):
                    return  # replayed batch: already folded into the MV
        delta = batch_df.groupBy(key_col).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(38,6)")).alias("s"),
        )
        if os.path.exists(os.path.join(mv_path, "_SUCCESS")):
            # read with the schema the fold below writes: no inference job
            mv_schema = T.StructType([delta.schema[key_col]])
            mv_schema = mv_schema.add("n", T.LongType()).add("s", T.DecimalType(38, 6))
            mv = spark.read.schema(mv_schema).parquet(mv_path)
            merged = (
                mv.unionByName(delta)
                .groupBy(key_col)
                .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
            )
        else:
            merged = delta
        # Fold to the MV schema (decimal stays exact across merges).
        out = merged.select(
            key_col, F.col("n").cast("long"), F.col("s").cast("decimal(38,6)")
        )
        tmp = mv_path + "._mv_tmp"
        out.write.mode("overwrite").parquet(tmp)
        if os.path.exists(mv_path):
            shutil.rmtree(mv_path)
        os.rename(tmp, mv_path)
        with open(marker, "w") as fh:
            fh.write(str(batch_id))

    return _process
