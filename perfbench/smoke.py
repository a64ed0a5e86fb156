"""Smoke test of the benchmark's own checks.

    python3 perfbench/smoke.py

1. Runs each workload briefly with expected values corrupted after
   warm-up (one query kind's and the pipeline build's pins on batch_mix,
   the stream's rollups on event_stream), and requires exactly the
   corrupted ops to be reported as failed.
2. Runs the benchmark in a directory holding only BENCHMARK.json and
   perfbench/, and requires it to exit non-zero without printing a result.

Exits 0 when every check holds.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run as bench  # noqa: E402

CORRUPT_KIND = "query.q1_pricing_summary"


def corrupt_batch(wl) -> None:
    # one query kind's pinned row count is off by one, and so is the
    # pipeline's flatfile pin: exactly those kinds' ops must fail
    n, chk = wl.expected[CORRUPT_KIND]
    wl.expected[CORRUPT_KIND] = (n + 1, chk)
    n, chk = wl.pipe_expected["flatfile"]
    wl.pipe_expected = {**wl.pipe_expected, "flatfile": [n + 1, chk]}


def corrupt_stream(wl) -> None:
    # one cent more in one event type's sum after every batch: every op fails
    for rollup in wl.expected:
        n, total = rollup["click"]
        rollup["click"] = (n, total + Decimal("0.01"))


def check_corruption() -> list[str]:
    problems = []
    for workload, tamper in (("batch_mix", corrupt_batch), ("event_stream", corrupt_stream)):
        with bench.run_directory(ROOT) as run_dir:
            result = bench.run(workload, 1, 3, False, run_dir, tamper=tamper)
        print(f"{workload}: attempted {result['attempted']} failed {result['failed']} correct {result['correct']}")
        if workload == "batch_mix":
            # one build, then whole rounds of 13 query kinds, one of them corrupted
            want = 1 + (result["attempted"] - 1) // 13
        else:
            want = result["attempted"]
        if result["correct"] or result["failed"] != want:
            problems.append(f"{workload}: {result['failed']} failed ops, expected {want}")
    return problems


def check_bare_directory() -> list[str]:
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=base)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "batch_mix", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print(f"bare directory: exit {out.returncode}, stdout {out.stdout.strip()!r}")
    if out.returncode == 0 or out.stdout.strip():
        return ["bare directory: expected a non-zero exit and no result"]
    return []


def main() -> int:
    problems = check_bare_directory() + check_corruption()
    for p in problems:
        print(f"FAIL {p}")
    print("smoke: ok" if not problems else "smoke: FAILED")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
