"""The benchmark's workloads: closed loops over the program's public calls.

Each workload is driven by one client thread. ``stage`` builds its inputs
from the seed, ``warm_up`` runs a fixed count of ops, and ``op`` runs one
measured op and checks its result. Nothing here reaches into the program
beyond the functions a user of ``nzgmdb_spark`` would call.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen


@dataclass
class Op:
    kind: str
    latency_s: float
    ok: bool
    layers: dict[str, float] = field(default_factory=dict)
    job_group: str | None = None  # Spark job group the op's jobs ran under


def checksum(df, round_floats: bool = False) -> tuple[int, int]:
    """Full-width count + order-insensitive checksum in one action: every
    output column is cast to string and hashed, so Catalyst can prune no
    expression, and the hashes are summed as decimals, so row order and
    partitioning do not change the result. Columns are hashed in name
    order, so two queries with the same rows under the same column names
    agree whatever order they select them in.

    With ``round_floats``, doubles (also inside arrays) are hashed at 10
    significant digits, so a sum whose addition order follows shuffle
    arrival order hashes the same in every process."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType, FloatType

    def as_string(field):
        col = F.col(f"`{field.name}`")
        dtype = field.dataType
        if round_floats and isinstance(dtype, (DoubleType, FloatType)):
            return F.format_string("%.10g", col)
        if round_floats and isinstance(dtype, ArrayType) and isinstance(
            dtype.elementType, (DoubleType, FloatType)
        ):
            return F.concat_ws(",", F.transform(col, lambda x: F.format_string("%.10g", x)))
        return col.cast("string")

    fields = sorted(df.schema.fields, key=lambda f: f.name)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[as_string(f) for f in fields]).cast("decimal(20,0)")).alias("chk"),
    ).collect()[0]
    return int(row.n), int(row.chk or 0)


# --------------------------------------------------------------------------
# batch_mix: one pipeline build, then the query mix

# The pipeline input: a renumbered slice of a generated events table. The
# pipeline reads only ``events`` and derives each event's geometry from
# ``event_id``, so the slice moves event times (and so decluster windows).
# A seed picks one of PIPE_SLICES slices, whose flatfile and quality_db
# checksums are pinned in pins.json (written by pin_pipeline.py).
PIPE_EVENTS = 40
PIPE_SLICES = 8
PIPE_PINNED = ("flatfile", "quality_db")
PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def pipeline_slice(seed: int) -> pa.Table:
    events = gen.events_table(seed % PIPE_SLICES, 2000, 10).slice(500, PIPE_EVENTS)
    ids = pa.array(np.arange(PIPE_EVENTS, dtype=np.int64))
    return events.set_column(events.schema.get_field_index("event_id"), "event_id", ids)


def stage_pipeline_input(sf_dir: str, seed: int) -> None:
    os.makedirs(sf_dir)
    pq.write_table(pipeline_slice(seed), os.path.join(sf_dir, "events.parquet"))


def pipeline_checksums(spark, run) -> dict[str, list[int]]:
    return {
        stage: list(checksum(spark.read.parquet(run.path(stage)), round_floats=True))
        for stage in PIPE_PINNED
    }


def stage_layers(warehouse: str, wall0: float, build_s: float) -> dict[str, float]:
    """Per-stage spans and output rows of a finished build, read from its
    warehouse: a stage's span is the gap between consecutive ``_SUCCESS``
    commit times (the first starts at the call), its rows the row counts
    in its parquet footers."""
    commits = []
    rows: dict[str, float] = {}
    written = 0
    for stage in os.listdir(warehouse):
        out = os.path.join(warehouse, stage)
        marker = os.path.join(out, "_SUCCESS")
        if not os.path.exists(marker):
            continue
        commits.append((os.stat(marker).st_mtime_ns / 1e9, stage))
        rows[stage] = 0.0
        for d, _, files in os.walk(out):
            for name in files:
                path = os.path.join(d, name)
                written += os.path.getsize(path)
                if name.endswith(".parquet"):
                    rows[stage] += pq.read_metadata(path).num_rows
    layers: dict[str, float] = {}
    prev = wall0
    for t, stage in sorted(commits):
        layers[f"pipeline.stage_s.{stage}"] = t - prev
        layers[f"pipeline.stage_rows.{stage}"] = rows[stage]
        prev = t
    layers["pipeline.stage_share"] = (prev - wall0) / build_s
    layers["pipeline.written_mb"] = written / 2**20
    return layers


SQL_KINDS = {
    "sql.q1": "q1_pricing_summary",
    "sql.q3": "q3_shipping_priority",
    "sql.q5": "q5_local_supplier_volume",
}
# Writes its staging copy to a fixed path outside the run directory, which
# the benchmark may not touch, so it is left out of the mix.
EXCLUDED_QUERIES = {"s14_partitioned_sink_resume"}
QUERY_SF = 0.01


def query_kinds() -> list[str]:
    from nzgmdb_spark.queries import load_registry

    names = sorted(
        n for n, s in load_registry().items() if s.headline and n not in EXCLUDED_QUERIES
    )
    return [f"query.{n}" for n in names] + sorted(SQL_KINDS)


class BatchMix:
    """The batch side: seeded shuffles, repeated, of the headline registry
    queries plus the Spark-SQL text of q1/q3/q5, each timed as plan +
    checksum action and checked against its DuckDB-oracle-verified (count,
    checksum); and one full pipeline build, checked against pinned
    checksums, then resumed, which must re-run nothing.

    The first query round is measured, then the build, so the build always
    runs after the same work; further whole rounds follow until the window
    is over (none at 10 s on a 4-vCPU VM, where the two take about 30 s).
    """

    def __init__(self, spark, run_dir: str, seed: int, trace: bool):
        self.spark = spark
        self.seed = seed
        self.trace = trace
        self.sf_dir = os.path.join(run_dir, "warehouse")
        self.pipe_dir = os.path.join(run_dir, "pipeline_input")
        self.pipe_warehouse = os.path.join(run_dir, "pipeline_warehouse")
        with open(PINS_PATH) as f:
            pins = json.load(f)
        if pins["max_events"] != PIPE_EVENTS or len(pins["slices"]) != PIPE_SLICES:
            raise ValueError(f"{PINS_PATH} is for another slice shape; rerun pin_pipeline.py")
        self.pipe_expected = pins["slices"][seed % PIPE_SLICES]
        self.kinds = query_kinds()
        self._calls = {kind: self._call(kind) for kind in self.kinds}
        self.expected: dict[str, tuple[int, int] | None] = {}
        self._built = False
        self._order: list[str] = []
        self._rounds = 0
        self._rng = random.Random(seed)
        self._n = 0

    def stage(self) -> None:
        gen.generate(self.sf_dir, self.seed, QUERY_SF)
        stage_pipeline_input(self.pipe_dir, self.seed)

    def _call(self, kind: str):
        """The public call that builds ``kind``'s DataFrame."""
        from nzgmdb_spark.queries import load_registry
        from nzgmdb_spark.sql import run_sql

        if kind in SQL_KINDS:
            sql = load_registry()[SQL_KINDS[kind]].sql
            return lambda: run_sql(self.spark, self.sf_dir, sql)
        fn = load_registry()[kind.removeprefix("query.")].fn
        return lambda: fn(self.spark, self.sf_dir)

    def _oracle_sql(self, kind: str) -> str:
        from nzgmdb_spark.queries import load_registry

        return load_registry()[SQL_KINDS.get(kind, kind.removeprefix("query."))].sql

    def warm_up(self) -> None:
        """One pass over every query kind: pin its (count, checksum), and
        keep the pin only if the same query's rows match the DuckDB oracle
        exactly. The SQL text of q1/q3/q5 is that oracle's own SQL, so its
        pin must equal the oracle-verified pin of the registry query it
        mirrors."""
        from nzgmdb_spark.oracle import compare, run_oracle

        for kind in self.kinds:  # registry kinds come before their SQL twins
            df = self._calls[kind]()
            pinned = checksum(df)
            if kind in SQL_KINDS:
                twin = self.expected[f"query.{SQL_KINDS[kind]}"]
                issues = [] if pinned == twin else [f"{pinned} != registry query's {twin}"]
            else:
                oracle = run_oracle(self._oracle_sql(kind), self.sf_dir)
                issues = compare(df.toPandas(), oracle)
                if len(oracle) != pinned[0]:
                    issues.append(f"checksum row count {pinned[0]} != oracle {len(oracle)}")
            self.expected[kind] = None if issues else pinned
            if issues:
                print(f"# {kind}: oracle mismatch: {issues}", file=sys.stderr, flush=True)

    def more(self, window_over: bool) -> bool:
        # whole rounds only, so every run times each kind equally often
        return not self._built or bool(self._order) or not window_over

    def _job_group(self, kind: str) -> str | None:
        if not self.trace:
            return None
        group = f"perfbench-op-{self._n}"
        self.spark.sparkContext.setJobGroup(group, kind)
        return group

    def op(self) -> Op:
        build_next = not self._built and self._rounds == 1 and not self._order
        op = self._build() if build_next else self._query()
        self._n += 1
        return op

    def _build(self) -> Op:
        from nzgmdb_spark.plans.pipeline import run_full_pipeline

        self._built = True
        group = self._job_group("pipeline.build")
        wall0 = time.time()
        t0 = time.perf_counter()
        run = run_full_pipeline(self.spark, self.pipe_dir, self.pipe_warehouse, max_events=PIPE_EVENTS)
        build_s = time.perf_counter() - t0
        # the checks below are not part of the op, nor of its Spark jobs
        if self.trace:
            self.spark.sparkContext.setJobGroup("perfbench-check", "checks")
        t1 = time.perf_counter()
        resumed = run_full_pipeline(self.spark, self.pipe_dir, self.pipe_warehouse, max_events=PIPE_EVENTS)
        resume_s = time.perf_counter() - t1
        rerun = sum(resumed.executed.values())
        got = pipeline_checksums(self.spark, run)
        ok = rerun == 0 and got == self.pipe_expected
        if not ok:
            print(f"# pipeline: re-ran {rerun} stages on resume; got {got}, pinned {self.pipe_expected}",
                  file=sys.stderr, flush=True)
        layers = {"pipeline.resume_s": resume_s, "pipeline.resume_executed": float(rerun)}
        if self.trace:
            layers.update(stage_layers(self.pipe_warehouse, wall0, build_s))
        return Op("pipeline.build", build_s, ok, layers, group)

    def _query(self) -> Op:
        if not self._order:
            self._order = list(self.kinds)
            self._rng.shuffle(self._order)
            self._rounds += 1
        kind = self._order.pop()
        group = self._job_group(kind)
        t0 = time.perf_counter()
        df = self._calls[kind]()
        t1 = time.perf_counter()
        got = checksum(df)
        t2 = time.perf_counter()
        ok = self.expected.get(kind) == got
        layers = {f"{kind}.plan_s": t1 - t0, f"{kind}.exec_s": t2 - t1}
        return Op(kind, t2 - t0, ok, layers, group)

    def finish(self) -> dict[str, float]:
        return {}


# --------------------------------------------------------------------------
# event_stream

STREAM_EVENTS = 100_000
STREAM_USERS = 1_500
BATCH_ROWS = 500
WATERMARK_S = 600
DUP_SHARE = 0.05
MAX_SHIFT = 8  # rows an event may arrive later than its event-time position
STREAM_WARMUP_BATCHES = 8
STREAM_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def replay_order(seed: int) -> pa.Table:
    """Arrival order of the replay: every event once, plus seeded duplicate
    copies and late arrivals, none of which falls behind the watermark.

    Events are generated in event-time order; each row (and each duplicate
    copy) is delayed by up to ``MAX_SHIFT`` rows. A row that would then
    arrive behind the watermark of its micro-batch is left out of the
    replay, so the expected output counts exactly what was replayed.
    """
    events = gen.events_table(seed, STREAM_EVENTS, STREAM_USERS)
    rng = np.random.default_rng([seed, 9])
    n = events.num_rows
    src = np.arange(n)
    dups = np.flatnonzero(rng.random(n) < DUP_SHARE)
    rows = np.concatenate([src, dups])
    keys = np.concatenate([src, dups]) + rng.uniform(0, MAX_SHIFT, len(rows))
    order = rows[np.argsort(keys, kind="stable")]
    ts = events.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
    keep = np.ones(len(order), dtype=bool)
    delay_us = WATERMARK_S * 1_000_000
    seen_max = None
    for start in range(0, len(order), BATCH_ROWS):
        block = order[start : start + BATCH_ROWS]
        if seen_max is not None:
            # one second of margin on top of Spark's strict comparison
            keep[start : start + len(block)] = ts[block] > seen_max - delay_us + 1_000_000
        kept = ts[block][keep[start : start + len(block)]]
        if len(kept):
            seen_max = kept.max() if seen_max is None else max(seen_max, kept.max())
    return events.take(pa.array(order[keep]))


def prefix_rollups(table: pa.Table) -> list[dict[str, tuple[int, Decimal]]]:
    """For each micro-batch file b of the replay, the exact rollup the sink
    must hold after it: (count, decimal sum of value) per event_type over
    the distinct events in files 0..b. Values carry two decimals, so the
    sums are exact in integer cents."""
    ids = table.column("event_id").to_numpy()
    types = table.column("event_type").to_numpy(zero_copy_only=False)
    cents = np.rint(table.column("value").to_numpy() * 100).astype(np.int64)
    first = np.zeros(len(ids), dtype=bool)
    first[np.unique(ids, return_index=True)[1]] = True
    kinds, kind_ix = np.unique(types, return_inverse=True)
    shape = ((len(ids) + BATCH_ROWS - 1) // BATCH_ROWS, len(kinds))
    file_ix = np.arange(len(ids)) // BATCH_ROWS
    n = np.zeros(shape, dtype=np.int64)
    total = np.zeros(shape, dtype=np.int64)
    np.add.at(n, (file_ix[first], kind_ix[first]), 1)
    np.add.at(total, (file_ix[first], kind_ix[first]), cents[first])
    n, total = n.cumsum(axis=0), total.cumsum(axis=0)
    out = [
        {
            str(k): (int(n[b, j]), Decimal(int(total[b, j])).scaleb(-2))
            for j, k in enumerate(kinds)
            if n[b, j]
        }
        for b in range(shape[0])
    ]
    return out


class EventStream:
    """Replays the events table as fixed-size micro-batch files through
    deduped_event_stream -> foreach_batch_pipeline -> incremental_rollup_sink.

    One op drops the next file into the stream's source directory and waits
    until the stream has processed it; the rollup it maintains is then
    checked against the exact batch rollup over the distinct events replayed
    so far.
    """

    def __init__(self, spark, run_dir: str, seed: int, trace: bool):
        self.spark = spark
        self.seed = seed
        self.staged = os.path.join(run_dir, "staged")
        self.source = os.path.join(run_dir, "source")
        self.mv_path = os.path.join(run_dir, "rollup_mv")
        self.checkpoint = os.path.join(run_dir, "checkpoint")
        self.replay: pa.Table | None = None
        self.n_files = 0
        self.expected: list[dict[str, tuple[int, Decimal]]] = []
        self.sink_s: dict[int, float] = {}
        self.query = None
        self.fed = 0
        self.first_measured_batch = 0

    def stage(self) -> None:
        os.makedirs(self.staged)
        os.makedirs(self.source)
        table = replay_order(self.seed)
        ts = pa.array(table.column("ts").to_numpy(), type=pa.timestamp("us", tz="UTC"))
        self.replay = table.set_column(table.schema.get_field_index("ts"), "ts", ts)
        self.n_files = (self.replay.num_rows + BATCH_ROWS - 1) // BATCH_ROWS
        self.expected = prefix_rollups(self.replay)
        self._start()

    def _start(self) -> None:
        from nzgmdb_spark.streaming.events import (
            deduped_event_stream,
            foreach_batch_pipeline,
            incremental_rollup_sink,
        )

        sink = incremental_rollup_sink(self.mv_path)

        def timed_sink(df, batch_id: int) -> None:
            t0 = time.perf_counter()
            sink(df, batch_id)
            self.sink_s[batch_id] = time.perf_counter() - t0

        stream = (
            self.spark.readStream.schema(STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.source)
        )
        self.query = foreach_batch_pipeline(
            deduped_event_stream(stream),
            lambda df: df,
            timed_sink,
            self.checkpoint,
            trigger_seconds=0,
        ).start()

    def _feed(self) -> float:
        """Write the next file aside, then time its move into the source
        directory (atomic, so the stream never sees a partial file) and its
        processing."""
        name = f"batch-{self.fed:05d}.parquet"
        path = os.path.join(self.staged, name)
        pq.write_table(self.replay.slice(self.fed * BATCH_ROWS, BATCH_ROWS), path)
        t0 = time.perf_counter()
        os.rename(path, os.path.join(self.source, name))
        self.query.processAllAvailable()
        self.fed += 1
        return time.perf_counter() - t0

    def _rollup_ok(self) -> bool:
        mv = pq.read_table(self.mv_path)
        got = {
            k: (n, s)
            for k, n, s in zip(
                mv.column("event_type").to_pylist(),
                mv.column("n").to_pylist(),
                mv.column("s").to_pylist(),
            )
        }
        return got == self.expected[self.fed - 1]

    def warm_up(self) -> None:
        for _ in range(STREAM_WARMUP_BATCHES):
            self._feed()
        self.first_measured_batch = self.fed

    def more(self, window_over: bool) -> bool:
        return not window_over and self.fed < self.n_files

    def op(self) -> Op:
        latency = self._feed()
        return Op("batch", latency, self._rollup_ok())

    def finish(self) -> dict[str, float]:
        """Per-batch streaming metrics of the measured batches, from the
        query's public progress reports; stops the query."""
        progress = [json.loads(p.json) for p in self.query.recentProgress]
        self.query.stop()
        batches = [
            p for p in progress if p["batchId"] >= self.first_measured_batch and p["numInputRows"]
        ]
        if not batches:
            return {}

        def med(values) -> float:
            return float(statistics.median(values))

        dur = lambda key: med(p["durationMs"].get(key, 0) / 1000.0 for p in batches)  # noqa: E731
        state = [p["stateOperators"][0] for p in batches]
        rows_in = sum(p["numInputRows"] for p in batches)
        return {
            "streaming.trigger_s": dur("triggerExecution"),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.planning_s": dur("queryPlanning"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.sink_s": med(
                self.sink_s[p["batchId"]] for p in batches if p["batchId"] in self.sink_s
            ),
            "streaming.state_rows": med(s["numRowsTotal"] for s in state),
            "streaming.state_mb": med(s["memoryUsedBytes"] / 2**20 for s in state),
            "streaming.state_commit_s": med(s["commitTimeMs"] / 1000.0 for s in state),
            "streaming.late_rows_dropped": float(sum(s["numRowsDroppedByWatermark"] for s in state)),
            "streaming.dedup_ratio": sum(s["numRowsUpdated"] for s in state) / rows_in,
        }


WORKLOADS = {"batch_mix": BatchMix, "event_stream": EventStream}
