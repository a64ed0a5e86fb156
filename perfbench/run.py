"""Benchmark entry point.

Run from a checkout of the repository:

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 10 --trace 0

Starts a fresh Spark session in this process, builds the workload's inputs
from the seed, runs a fixed warm-up, then a closed loop of ops for
``--seconds`` seconds, checking every op. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics of
``BENCHMARK.json`` with ``--trace 1``). Progress goes to standard error.

Everything the run writes (inputs, Spark local dirs, temp files, stream
checkpoints, the event log) lives in a per-run directory under
``.perfbench/`` in the checkout, removed when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)  # the checkout the benchmark belongs to
# Spark task threads: one fewer than the CPUs this process may use, at most
# 3, so the client thread, py4j, the JIT compiler and the collector do not
# queue behind the tasks on a small shared VM.
CORES = max(1, min(3, len(os.sched_getaffinity(0)) - 1))
TAIL_PCT = 75


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def quantile(values: list[float], pct: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def start_session(run_dir: str, trace: bool):
    from nzgmdb_spark.session import get_spark

    # The maximum heap is the program's own (get_spark's driver memory). The
    # first 2 GiB of it are committed and touched once at JVM start and
    # never given back: with the JVM's default sizing G1 shrank and regrew
    # the heap during the pipeline build (~29k page faults/s), and with the
    # initial heap at the 8 GiB maximum it walked fresh eden pages all run
    # long (5 GB resident, ~57k faults/s in a stream run). On a VM that
    # hands freed memory back to its host, each such fault costs whatever
    # the host's memory pressure makes it cost at the time, so op latency
    # would follow the host rather than the program.
    conf = {
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch -XX:MaxHeapFreeRatio=100",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # Spark's default follows each data batch with a no-data batch that
        # evicts expired dedup state. Off, the same eviction runs at the
        # start of the next data batch instead: one trigger per op rather
        # than two, which halves the stream's op time and lets both
        # workloads fit the time the benchmark may take.
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    from probes import descendants, wait_gone

    gateway = SparkContext._gateway
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    pids = descendants(jvm_pid)
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits on end of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    for pid in wait_gone(pids, 20):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    wait_gone(pids, 10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def per_op_spark(jobs: list[dict], ops: list[dict]) -> dict[str, float]:
    """Median per op of the Spark task metrics of the jobs each op ran,
    attributed by job group where the op set one, else by submission time
    inside the op's wall-clock window; the pipeline build's own under
    ``pipeline.spark.*``."""
    keys = ("tasks", "task_cpu_s", "shuffle_write_mb", "spill_mb", "input_mb")
    per_op = []
    for op in ops:
        group = op["group"]
        if group:
            mine = [j for j in jobs if j["props"].get("spark.jobGroup.id") == group]
        else:
            mine = [j for j in jobs if op["wall0_ms"] <= j["submit_ms"] <= op["wall1_ms"]]
        rec = {k: sum(j[k] for j in mine) for k in keys}
        rec["jobs"] = len(mine)
        per_op.append(rec)
    out = {f"spark.{k}": float(statistics.median(r[k] for r in per_op)) for k in ("jobs",) + keys}
    for op, rec in zip(ops, per_op):
        if op["kind"] == "pipeline.build":
            out.update({f"pipeline.spark.{k}": float(rec[k]) for k in ("jobs",) + keys})
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: str, tamper=None) -> dict:
    """One benchmark run; returns the result object. ``tamper`` (used by the
    smoke test only) may alter the workload's expected values after warm-up."""
    from probes import Jvm, host_ticks, job_metrics, steal_pct, tree_cpu_s
    from workloads import WORKLOADS, Op

    t0 = time.perf_counter()
    spark = start_session(run_dir, trace)
    t1 = time.perf_counter()
    try:
        wl = WORKLOADS[workload](spark, run_dir, seed, trace)
        wl.stage()
        t2 = time.perf_counter()
        wl.warm_up()
        t3 = time.perf_counter()
        if tamper is not None:
            tamper(wl)
        setup = {"setup.session_s": t1 - t0, "setup.staging_s": t2 - t1, "setup.warmup_s": t3 - t2}
        log(f"{workload} seed={seed} setup {setup}")

        jvm = Jvm(spark)
        ops: list[Op] = []
        samples: list[dict] = []
        window_end = time.perf_counter() + seconds
        while wl.more(time.perf_counter() >= window_end):
            s: dict = {"ticks0": host_ticks()}
            if trace:
                s["gc0"], s["cpu0"] = jvm.gc_counters(), tree_cpu_s(jvm.pid)
                s["wall0_ms"] = time.time() * 1000
            op = wl.op()
            if trace:
                s["wall1_ms"] = time.time() * 1000
                s["gc1"], s["cpu1"] = jvm.gc_counters(), tree_cpu_s(jvm.pid)
                s["group"], s["kind"] = op.job_group, op.kind
            s["steal"] = steal_pct(s.pop("ticks0"), host_ticks())
            ops.append(op)
            samples.append(s)
        retained_mb = jvm.settled_heap_mb()
        log(f"retained heap {retained_mb:.1f} MB")
        layer_extra = wl.finish()
    finally:
        stop_session(spark)

    lat = [op.latency_s for op in ops]
    log("ops: " + " ".join(f"{op.kind.rsplit('.', 1)[-1]}={op.latency_s:.2f}" for op in ops))
    failed = sum(not op.ok for op in ops)
    log(
        f"{len(ops)} ops, {failed} failed, p50 {statistics.median(lat):.4f}s, "
        f"steal median {statistics.median(s['steal'] for s in samples):.2f}%"
    )
    by_kind: dict[str, list[float]] = {}
    for op in ops:
        by_kind.setdefault(op.kind, []).append(op.latency_s)
    kind_p50 = {kind: statistics.median(v) for kind, v in by_kind.items()}
    if not trace:
        metrics = {
            "setup_s": (sum(setup.values()), "s"),
            "retained_mb": (retained_mb, "MB"),
            "latency_p50_s": (statistics.median(lat), "s"),
            "latency_tail_s": (quantile(lat, TAIL_PCT), "s"),
            "latency_geomean_s": (
                math.exp(statistics.fmean(math.log(v) for v in kind_p50.values())), "s"
            ),
            "latency_slowest_kind_s": (max(kind_p50.values()), "s"),
            "ops_per_s": (len(ops) / sum(lat), "1/s"),
        }
    else:
        metrics = trace_metrics(ops, samples, setup, layer_extra, job_metrics(os.path.join(run_dir, "eventlog")))
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def trace_metrics(ops, samples, setup, layer_extra, jobs) -> dict[str, tuple[float, str]]:
    """Every per-layer metric of BENCHMARK.json. A layer the workload never
    calls reads 0, the prediction for a workload that bypasses it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    values = dict.fromkeys(spec, 0.0)
    per_kind: dict[str, list[float]] = {}
    for op in ops:
        for k, v in op.layers.items():
            per_kind.setdefault(k, []).append(v)
    values.update({k: statistics.median(v) for k, v in per_kind.items() if k in spec})
    values.update(layer_extra)
    values.update(setup)
    med = lambda xs: float(statistics.median(xs))  # noqa: E731
    values["jvm.gc_s"] = med(s["gc1"][0] - s["gc0"][0] for s in samples)
    values["jvm.gc_count"] = med(s["gc1"][1] - s["gc0"][1] for s in samples)
    values["proc.cpu_s"] = med(s["cpu1"] - s["cpu0"] for s in samples)
    for s in samples:
        if s["kind"] == "pipeline.build":
            values["pipeline.proc.cpu_s"] = s["cpu1"] - s["cpu0"]
    values["host.steal_pct"] = med(s["steal"] for s in samples)
    values["trace.latency_p50_s"] = med(op.latency_s for op in ops)
    values.update(per_op_spark(jobs, samples))
    unknown = set(values) - set(spec)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json per_layer: {sorted(unknown)}")
    return {k: (float(v), spec[k]) for k, v in values.items()}


@contextlib.contextmanager
def run_directory(root: str):
    """A fresh per-run directory under ``<root>/.perfbench`` holding every
    file the run writes, and the environment that keeps Spark inside it;
    removed on exit."""
    base = os.path.join(root, ".perfbench")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    # Spark's Python workers inherit the JVM's environment: they must import
    # nzgmdb_spark from this checkout wherever the benchmark is launched.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (root, os.environ.get("PYTHONPATH")) if x
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM started below (spark-submit's launcher and the driver) keeps
    # its temp files here and writes no hsperfdata file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None
    try:
        yield run_dir
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run is using it


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "nzgmdb_spark", "__init__.py")):
        print(f"perfbench: no nzgmdb_spark/ next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    with run_directory(ROOT) as run_dir:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
