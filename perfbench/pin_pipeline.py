"""Pin the pipeline build's expected output for the benchmark.

    python3 perfbench/pin_pipeline.py           # write perfbench/pins.json
    python3 perfbench/pin_pipeline.py --check   # rebuild and compare with it

Builds every pipeline input slice of ``batch_mix`` (see
``workloads.pipeline_slice``) with ``run_full_pipeline`` into a fresh
warehouse and records the (row count, checksum) of its ``flatfile`` and
``quality_db`` outputs. The pins are this program's own output; the
benchmark then requires every later build of the same slice to reproduce
them. Rerun it, and say so, only when a change is meant to alter the
pipeline's output.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run as bench  # noqa: E402
import workloads  # noqa: E402


def build_pins(run_dir: str) -> list[dict[str, list[int]]]:
    from nzgmdb_spark.plans.pipeline import run_full_pipeline

    spark = bench.start_session(run_dir, trace=False)
    try:
        pins = []
        for k in range(workloads.PIPE_SLICES):
            sf_dir = os.path.join(run_dir, f"input-{k}")
            workloads.stage_pipeline_input(sf_dir, k)
            run = run_full_pipeline(
                spark, sf_dir, os.path.join(run_dir, f"warehouse-{k}"),
                max_events=workloads.PIPE_EVENTS,
            )
            pins.append(workloads.pipeline_checksums(spark, run))
            print(f"slice {k}: {pins[-1]}", flush=True)
    finally:
        bench.stop_session(spark)
    return pins


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--check", action="store_true", help="compare with pins.json instead of writing it")
    args = p.parse_args()
    with bench.run_directory(ROOT) as run_dir:
        pins = build_pins(run_dir)
    empty = [k for k, pin in enumerate(pins) if any(n == 0 for n, _ in pin.values())]
    if empty:
        print(f"slices with an empty pinned output: {empty}")
        return 1
    if args.check:
        with open(workloads.PINS_PATH) as f:
            pinned = json.load(f)["slices"]
        bad = [k for k, pin in enumerate(pins) if pin != pinned[k]]
        print(f"mismatched slices: {bad}" if bad else "pins reproduced")
        return 1 if bad else 0
    with open(workloads.PINS_PATH, "w") as f:
        json.dump({"max_events": workloads.PIPE_EVENTS, "slices": pins}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
