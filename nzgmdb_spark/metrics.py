"""Per-query executor-memory observability (VERDICT r4 ask #6).

The 100 TB sizing claims need a memory column, not just wall time: a
query that "fits" only because local[32] shares one 48 GiB heap would
OOM the moment a real executor gets 8 GiB. `StageMemoryProbe` reads the
Spark UI REST API (available in local mode and on clusters alike) and
attributes to a query the stages submitted while it ran:

- ``peak_exec_mem``  — max over those stages of stage-level
  peakExecutionMemory (the unsafe/execution memory high-water mark summed
  over the stage's concurrently running tasks — the number that decides
  whether hash aggregates/joins fit or spill);
- ``mem_spilled`` / ``disk_spilled`` — total spill volumes, the smoking
  gun when partitions outgrow the execution-memory share.

Usage::

    probe = StageMemoryProbe(spark)
    with probe:
        df.count()
    probe.result  # {"peak_exec_mem": ..., "mem_spilled": ..., ...}
"""

from __future__ import annotations

import json
import urllib.request


class StageMemoryProbe:
    def __init__(self, spark):
        self._spark = spark
        self._base = None
        self._app = None
        self._start_stage = -1
        self.result: dict = {}

    def _stages(self) -> list[dict]:
        url = self._spark.sparkContext.uiWebUrl
        if url is None:  # UI disabled — probe degrades to empty result
            return []
        if self._app is None:
            apps = json.load(
                urllib.request.urlopen(f"{url}/api/v1/applications", timeout=10)
            )
            self._app = apps[0]["id"]
        return json.load(
            urllib.request.urlopen(
                f"{url}/api/v1/applications/{self._app}/stages", timeout=10
            )
        )

    def __enter__(self):
        try:
            if self._spark.sparkContext.uiWebUrl is None:
                # UI disabled: degrade to an EMPTY result (falsy) so
                # callers can tell "probe off" from "measured zero" —
                # max(default=-1) here would silently report all-zero
                # metrics and turn envelope assertions vacuous.
                self._start_stage = None
                return self
            stages = self._stages()
            self._start_stage = max((s["stageId"] for s in stages), default=-1)
        except Exception:  # pragma: no cover — UI off / API drift
            self._start_stage = None
        return self

    def __exit__(self, *exc) -> None:
        if self._start_stage is None:
            self.result = {}
            return
        try:
            new = [
                s for s in self._stages() if s["stageId"] > self._start_stage
            ]
            self.result = {
                "peak_exec_mem": max(
                    (s.get("peakExecutionMemory", 0) for s in new), default=0
                ),
                "mem_spilled": sum(s.get("memoryBytesSpilled", 0) for s in new),
                "disk_spilled": sum(s.get("diskBytesSpilled", 0) for s in new),
                # Total bytes through shuffle per query — THE quantity to
                # minimize at cluster scale (every byte here crosses the
                # network on a real cluster; local mode just writes it to
                # disk). Write ≈ read for a healthy plan; read ≫ write
                # would mean a stage re-reads shuffle output repeatedly.
                "shuffle_write": sum(
                    s.get("shuffleWriteBytes", 0) for s in new
                ),
                "shuffle_read": sum(s.get("shuffleReadBytes", 0) for s in new),
                "n_stages": len(new),
            }
        except Exception:  # pragma: no cover
            self.result = {}


def run_full(df) -> int:
    """Honest full-evaluation action for timing: count + full-width
    xxhash64 checksum. ``.count()`` alone lets Catalyst prune every
    expression the count doesn't need (bench integrity fix, round 4:
    q1 measured 0.35 s pruned vs 1.38 s real), and ``.collect()`` on a
    wide/large output times driver transfer instead of the query (k13 at
    10M rows: 47 s collect vs 1.1 s compute). Returns the row count."""
    from pyspark.sql import functions as F

    cols = [F.col(c).cast("string") for c in df.columns]
    row = df.select(
        F.count(F.lit(1)).alias("n"), F.max(F.xxhash64(*cols)).alias("chk")
    ).collect()[0]
    return row.n
