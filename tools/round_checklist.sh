#!/bin/bash
# End-of-round evidence checklist (VERDICT r5 ask #7 made this standing
# practice). Run from /root/repo with the round number, on an OTHERWISE
# IDLE box — the timing artifacts are meaningless under contention.
#
#   bash tools/round_checklist.sh 06
#
# Produces/refreshes, in order:
#   1. CORRECTNESS_full_r{N}.json — the full-registry driver-contract
#      sweep (the driver itself only samples ~50 queries)
#   2. PLANS.md  — live executed-plan audit of every registry query
#   3. SURVEY.md §8 coverage map (gen_coverage)
#   4. BENCH_idle_r{N}.json — builder-side idle-box bench record
#      (the driver's BENCH_r{N}.json is measured on its own schedule;
#      this one documents the idle-box number for the same code)
# SCALING.md is a frozen record with no generator; performance evidence
# comes from perfbench/ (python3 perfbench/run.py).
set -euo pipefail
ROUND="${1:?usage: bash tools/round_checklist.sh <round, e.g. 06>}"
cd "$(dirname "$0")/.."
export PYTHONPATH="$PWD"

python tools/run_correctness.py "$ROUND"
python tools/gen_plans.py
python tools/gen_coverage.py
python bench.py 2>/dev/null | tail -1 > "BENCH_idle_r${ROUND}.json"
echo "checklist done: CORRECTNESS_full_r${ROUND}.json PLANS.md SURVEY.md BENCH_idle_r${ROUND}.json"
