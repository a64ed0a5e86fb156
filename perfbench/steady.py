"""Run-to-run spread of the benchmark, as the acceptance check measures it.

    python3 perfbench/steady.py --workloads batch_mix event_stream --seeds 1-10 [--trace]

Runs ``perfbench/run.py`` once per (workload, seed) in sequence, with
``run_seconds`` from the checkout's BENCHMARK.json. For each end-to-end
metric it prints the median and the spread: the distance between the
first and third quartiles (``statistics.quantiles(values, n=4)``) as a
share of the median, next to the metric's bound. With ``--trace`` it also runs each seed traced and
prints the tracing overhead, the traced op p50 over the untraced one, and
for each workload the wall time a run takes, set-up and shutdown included.
Raw results go to ``--out`` as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.monotonic()
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    wall_s = time.monotonic() - t0
    if out.returncode != 0:
        raise RuntimeError(f"{cmd} exited {out.returncode}:\n{out.stderr[-2000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    # the run's own summary lines (setup split, per-op latencies, steal)
    result["log"] = [ln for ln in out.stderr.splitlines() if ln.startswith("# ")]
    result["wall_s"] = wall_s
    return result


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", nargs="+", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", action="store_true")
    p.add_argument("--out", default=os.path.join(ROOT, ".perfbench-steady.jsonl"))
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    with open(args.out, "a") as log:
        for workload in args.workloads:
            results, traced = [], []
            for seed in seeds(args.seeds):
                r = run_once(workload, seed, bench["run_seconds"], 0)
                log.write(json.dumps({"workload": workload, "seed": seed, "trace": 0, **r}) + "\n")
                results.append(r)
                if args.trace:
                    t = run_once(workload, seed, bench["run_seconds"], 1)
                    log.write(json.dumps({"workload": workload, "seed": seed, "trace": 1, **t}) + "\n")
                    traced.append(t)
                log.flush()
                m = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
                print(
                    f"{workload} seed {seed}: {r['wall_s']:.0f} s, ops {r['attempted']} "
                    f"failed {r['failed']} {m}",
                    flush=True,
                )
            for name, bound in bounds.items():
                vals = [r["metrics"][name]["value"] for r in results]
                s = spread(vals)
                flag = "" if s <= bound else "  OVER BOUND"
                ok &= not flag
                print(
                    f"{workload:14s} {name:18s} median {statistics.median(vals):10.4f} "
                    f"spread {s:6.3f} bound {bound:.3f} (third {bound / 3:.3f}){flag}"
                )
            if traced:
                base = statistics.median(r["metrics"]["latency_p50_s"]["value"] for r in results)
                tr = statistics.median(t["metrics"]["trace.latency_p50_s"]["value"] for t in traced)
                print(f"{workload:14s} tracing overhead on op p50: {100 * (tr / base - 1):+.1f}%")
            walls = [r["wall_s"] for r in results]
            print(f"{workload:14s} wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
            failed = sum(r["failed"] for r in results + traced)
            ok &= failed == 0
            print(f"{workload:14s} failed ops over all runs: {failed}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
