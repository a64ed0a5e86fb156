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
from decimal import Context, Decimal
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


# The rollup MV's one file, the key of the applied batch id in its parquet
# key-value metadata, and decimal(38,6)'s exclusive magnitude bound.
_MV_FILE = "mv.parquet"
_APPLIED_BATCH = b"nzgmdb.applied_batch"
_DECIMAL_38_6_BOUND = Decimal(10) ** 32


def incremental_rollup_sink(
    mv_path: str,
    key_col: str = "event_type",
    value_col: str = "value",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body that MAINTAINS a materialized rollup (count + sum
    per key) instead of recomputing it: Spark reduces each micro-batch to
    its per-key delta (one job, handed over with ``toArrow()``), and the
    driver folds that delta into the MV exactly (Python ``int`` counts,
    ``Decimal`` sums at ``decimal(38,6)``).

    This is incremental view maintenance — the aggregate over all history
    is available at any moment at MV-read cost, while per-batch work is
    O(batch) on Spark plus O(|MV|) rows on the driver, with the MV at
    rollup grain (small by construction).

    - **Layout.** ``mv_path`` is a directory holding one parquet file,
      ``mv.parquet``, which ``spark.read.parquet`` and ``pq.read_table``
      both read. The applied ``batch_id`` is in that file's key-value
      metadata, so the rows and the id commit together.
    - **Commit.** The new MV is written to a dot-prefixed temp file in
      ``mv_path`` (which both readers skip, and which the next batch
      overwrites) and committed by one ``os.replace``. A crash at any step
      leaves either the old MV or the new one, never none; a batch whose
      id is <= the recorded one is skipped outright, so foreachBatch's
      at-least-once redelivery cannot double-count. Local filesystems
      only (``os.replace`` is the commit).
    - **Exactness.** Null keys and null values merge as Spark's
      ``groupBy``/``sum`` do; a sum past ``decimal(38,6)`` raises
      ``ArithmeticException``, as Spark's ANSI ``sum`` does, and leaves the
      MV unchanged.
    - **Foreign files.** Anything else in ``mv_path`` (an older layout's
      Spark part files, say) raises instead of being read beside the MV.
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import ArithmeticException

    mv_file = os.path.join(mv_path, _MV_FILE)
    tmp_file = os.path.join(mv_path, "." + _MV_FILE + ".tmp")
    exact = Context(prec=39)  # two decimal(38,6) values add exactly

    def _add(a, b):
        if a is None or b is None:
            return b if a is None else a  # sum skips nulls
        s = exact.add(a, b)
        if abs(s) >= _DECIMAL_38_6_BOUND:
            raise ArithmeticException(
                f"rollup sum {s} overflows decimal(38,6) in {mv_path}"
            )
        return s

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        os.makedirs(mv_path, exist_ok=True)
        foreign = sorted(
            n for n in os.listdir(mv_path) if n != _MV_FILE and not n.startswith(".")
        )
        if foreign:
            raise RuntimeError(
                f"{mv_path} holds files besides the rollup's {_MV_FILE}: "
                f"{foreign[:3]}; readers would count them too"
            )
        rollup = {}
        if os.path.exists(mv_file):
            mv = pq.read_table(mv_file)
            if batch_id <= int(mv.schema.metadata[_APPLIED_BATCH]):
                return  # replayed batch: already folded into the MV
            rollup = dict(zip(
                mv.column(key_col).to_pylist(),
                zip(mv.column("n").to_pylist(), mv.column("s").to_pylist()),
            ))
        delta = batch_df.groupBy(key_col).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(38,6)")).alias("s"),
        ).toArrow()
        for k, n, s in zip(*(delta.column(c).to_pylist() for c in (key_col, "n", "s"))):
            n0, s0 = rollup.get(k, (0, None))
            rollup[k] = (n0 + n, _add(s0, s))
        schema = pa.schema(
            [delta.schema.field(key_col), ("n", pa.int64()), ("s", pa.decimal128(38, 6))],
            metadata={_APPLIED_BATCH: str(batch_id)},
        )
        counts = [n for n, _ in rollup.values()]
        sums = [s for _, s in rollup.values()]
        pq.write_table(pa.table([list(rollup), counts, sums], schema=schema), tmp_file)
        os.replace(tmp_file, mv_file)

    return _process
