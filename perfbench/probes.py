"""Host, process and JVM probes read from outside the program.

Everything here observes the running engine through public surfaces only:
``/proc`` for host steal and process CPU, the JVM's management beans and
``Runtime`` over py4j for GC and heap, and Spark's own event log for
per-job task metrics. Nothing in the program is modified to produce them.
"""

from __future__ import annotations

import gc
import json
import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def host_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate ``/proc/stat`` line.

    The total is over the first eight fields (user .. steal) only: guest
    and guest_nice are already counted inside user and nice, so adding
    them would inflate the denominator and deflate the steal share.
    """
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return sum(vals), vals[7]


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        data = f.read()
    # comm may contain spaces; fields after the closing paren are fixed
    return data[data.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` (the JVM) and its descendants (the Python
    workers), including reaped children, from ``/proc/<pid>/stat``."""
    ticks = 0
    for pid in descendants(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 (1-based)
        ticks += sum(int(x) for x in f[11:15])
    return ticks / CLK_TCK


class Jvm:
    """GC counters and settled heap of the driver JVM over py4j."""

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        self.pid = int(self._jvm.java.lang.ProcessHandle.current().pid())
        self._beans = list(
            self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self._runtime = self._jvm.java.lang.Runtime.getRuntime()

    def gc_counters(self) -> tuple[float, int]:
        """(cumulative GC seconds, cumulative collections) over all collectors."""
        ms = count = 0
        for bean in self._beans:
            ms += bean.getCollectionTime()
            count += bean.getCollectionCount()
        return ms / 1000.0, count

    def settled_heap_mb(self, tolerance_mb: float = 3.0, max_rounds: int = 30) -> float:
        """Live heap after collecting until three consecutive readings agree;
        raises if they never do, rather than report an unsettled reading.

        One JVM collection alone is bimodal (objects reachable only from
        Python-side py4j proxies survive it), so each round first runs the
        Python collector, which releases those proxies, then ``System.gc()``,
        then pauses so Spark's context cleaner can drop the cached blocks of
        RDDs that collection found unreachable.
        """
        readings: list[float] = []
        for _ in range(max_rounds):
            gc.collect()
            self._jvm.java.lang.System.gc()
            time.sleep(0.3)
            readings.append((self._runtime.totalMemory() - self._runtime.freeMemory()) / 2**20)
            last = readings[-3:]
            if len(last) == 3 and max(last) - min(last) <= tolerance_mb:
                return readings[-1]
        raise RuntimeError(
            f"heap did not settle within {tolerance_mb} MB in {max_rounds} rounds: "
            + ", ".join(f"{r:.1f}" for r in readings[-5:])
        )


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` exists; return those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = pids
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    return alive


def job_metrics(event_log_dir: str) -> list[dict]:
    """One record per Spark job from the event log: submission time (ms),
    job properties, and its tasks' summed metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    paths = sorted(
        os.path.join(d, n)
        for d, _, files in os.walk(event_log_dir)
        for n in files
        if not n.startswith(".")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = {
                        "submit_ms": ev["Submission Time"],
                        "props": ev.get("Properties", {}),
                        "tasks": 0,
                        "task_cpu_s": 0.0,
                        "shuffle_write_mb": 0.0,
                        "spill_mb": 0.0,
                        "input_mb": 0.0,
                    }
                    jobs[ev["Job ID"]] = job
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    tm = ev.get("Task Metrics")
                    if job is None or tm is None:
                        continue
                    job["tasks"] += 1
                    job["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    job["shuffle_write_mb"] += (
                        tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
                    )
                    job["spill_mb"] += (
                        tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    ) / 2**20
                    job["input_mb"] += tm.get("Input Metrics", {}).get("Bytes Read", 0) / 2**20
    return list(jobs.values())
