#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to FULL completion: the timed action computes a
row count plus an xxhash64 checksum over every output column, so Catalyst
cannot prune any aggregate/projection expressions out of the timed work.
(Earlier rounds timed a bare .count(), which let column pruning gut
expression-heavy queries — q1's decimal aggregates were pruned entirely,
timing 0.3s for a query whose honest cost is ~1.2s. Round-4 numbers are
therefore NOT comparable to BENCH_r01-r03 for expression-heavy queries;
the method note rides in the emitted JSON.)
"""

from __future__ import annotations

import json
import os
import sys
import time


def _cpu_ticks():
    """(total_ticks, steal_ticks, idle_ticks) from /proc/stat, or None.

    Used to ride per-query steal/busy evidence in the emitted JSON so a
    cross-session BENCH comparison can see host contamination directly
    instead of inferring it from a separate A/B session (VERDICT r12 ask #1:
    this box's code-identical samples swing 2-14x under co-tenant steal).
    """
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        # user .. steal only: guest and guest_nice are already counted in
        # user and nice, so summing them would deflate the steal share
        total = sum(vals[:8])
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle + iowait
        steal = vals[7] if len(vals) > 7 else 0
        return total, steal, idle
    except (OSError, ValueError, IndexError):
        return None


def _window_pcts(ticks0, ticks1):
    """(steal_pct, busy_pct) between two :func:`_cpu_ticks` readings, or
    None when a reading is missing or no tick elapsed."""
    if ticks0 is None or ticks1 is None:
        return None
    dt = ticks1[0] - ticks0[0]
    if dt <= 0:
        return None
    steal = 100.0 * (ticks1[1] - ticks0[1]) / dt
    busy = 100.0 * (dt - (ticks1[2] - ticks0[2])) / dt
    return round(steal, 2), round(busy, 2)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        load_at_start = tuple(round(x, 2) for x in os.getloadavg())
    except OSError:
        load_at_start = None

    from nzgmdb_spark.queries import load_registry
    from nzgmdb_spark.session import get_spark

    spark = get_spark(
        app_name="nzgmdb-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        # No \r progress-bar frames: the driver embeds captured output in
        # its machine-readable BENCH artifact (ADVICE r7).
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    registry = load_registry()
    headline = {n: s for n, s in registry.items() if s.headline}

    # Warm-up pass: run every headline query once so the timed pass measures
    # steady-state plan execution (JIT-compiled codegen, live Python worker
    # pool) rather than JVM/interpreter startup — the regime a long-running
    # cluster actually operates in. Then drop any DataFrame-level caches the
    # warm-up populated so the timed pass re-does all data work (only code
    # stays warm, not results).
    def run_full(df):
        """Count + full-width checksum: forces every output column (and so
        every upstream expression) to be computed — .count() alone lets
        the optimizer prune unreferenced aggregate expressions."""
        from pyspark.sql import functions as F

        cols = [F.col(c).cast("string") for c in df.columns]
        row = df.select(
            F.count(F.lit(1)).alias("n"), F.max(F.xxhash64(*cols)).alias("chk")
        ).collect()[0]
        return row.n

    for spec in headline.values():
        run_full(spec.fn(spark, sf_dir))
    spark.catalog.clearCache()

    # Median of 5 timed runs per query (round-2 judge: 3-run medians still
    # swung ±20% under driver load on two queries): single-run numbers on a
    # shared box swing ±2-3× from GC pauses and page-cache state; a 5-run
    # median reflects the plan, not the luck of one run. Override with
    # $SPARK_GRAFT_BENCH_RUNS. DataFrame caches are cleared between runs so
    # every run re-reads and recomputes all data; table schemas and the SQL
    # views stay cached for the session, as they do for any user of the
    # engine (nzgmdb_spark.tables, nzgmdb_spark.sql).
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    timings_samples: dict[str, list[float]] = {}
    host_cpu_per_query: dict[str, dict] = {}
    timings_count_only: dict[str, float] = {}
    for name, spec in sorted(headline.items()):
        samples = []
        # steal within each timed sample: a burst that hits one sample is
        # not averaged away over all n_runs of them
        sample_steal = []
        ticks0 = _cpu_ticks()
        for _ in range(n_runs):
            s0 = _cpu_ticks()
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            n = run_full(df)
            samples.append(time.perf_counter() - t0)
            pcts = _window_pcts(s0, _cpu_ticks())
            if pcts is not None:
                sample_steal.append(pcts[0])
            spark.catalog.clearCache()
        ticks1 = _cpu_ticks()
        timings[name] = round(sorted(samples)[n_runs // 2], 4)
        # Steal-robust statistic: the per-query MINIMUM. On a box with
        # one-sided co-tenant steal the min of 5 fresh runs tracks the plan
        # while the median books whatever the co-tenant was doing; emit both
        # so PERF rounds can be adjudicated without a separate A/B session
        # (VERDICT r12 ask #1). Additions only — medians stay the headline.
        timings_min[name] = round(min(samples), 4)
        timings_samples[name] = [round(s, 4) for s in samples]
        pcts = _window_pcts(ticks0, ticks1)
        if pcts is not None:
            host_cpu_per_query[name] = {
                "steal_pct": pcts[0],  # over all n_runs samples
                "busy_pct": pcts[1],
                "steal_pct_max": max(sample_steal, default=pcts[0]),
            }
        # legacy method (bare .count(), rounds 1-3) for cross-round
        # comparability — column pruning may gut expression-heavy queries,
        # which is exactly why it is no longer the headline number
        legacy = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).count()
            legacy.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        timings_count_only[name] = round(sorted(legacy)[n_runs // 2], 4)
        print(
            f"# {name}: {timings[name]:.3f}s full / "
            f"{timings_count_only[name]:.3f}s count-only, median of "
            f"{[round(s, 2) for s in samples]} ({n} rows)",
            file=sys.stderr,
        )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Host conditions ride with the artifact: this box has CPU steal and
    # 2-4x wall swings (SCALING.md), so a bench number is only
    # interpretable next to the load it was taken under (VERDICT r8
    # evidence-hygiene ask).
    try:
        load1, load5, load15 = os.getloadavg()
        host_load = {"load1": round(load1, 2), "load5": round(load5, 2),
                     "load15": round(load15, 2), "ncpu": os.cpu_count()}
    except OSError:
        host_load = None
    result = {
        "metric": "headline query wall time, full evaluation w/ checksum (median of %d warm runs), local[%s]" % (n_runs, cpus),
        "method_note": (
            "timed action = count + xxhash64 checksum over all output "
            "columns (no expression pruning); rounds 1-3 timed bare "
            ".count(), which under-measured expression-heavy queries "
            "(q1 0.30s pruned vs ~1.2s honest); round-over-round deltas "
            "on this steal-prone box are adjudicated with the interleaved "
            "A/B harness (tools/ab_compare.py <refA> <refB>), not by "
            "comparing BENCH_r files directly; queries_min (min of the "
            "same samples) is the steal-robust per-query statistic — under "
            "one-sided co-tenant contention compare mins, and check "
            "host_cpu_per_query.steal_pct/busy_pct before reading any "
            "cross-session delta as real"
        ),
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "value_min": round(sum(timings_min.values()), 4),
        "queries_min": timings_min,
        "queries_samples": timings_samples,
        "host_cpu_per_query": host_cpu_per_query,
        "value_count_only_legacy": round(sum(timings_count_only.values()), 4),
        "queries_count_only_legacy": timings_count_only,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "host_load": {"at_start_1m_5m_15m": load_at_start,
                      "at_exit": host_load},
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
