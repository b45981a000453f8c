"""Spans and Spark status counters for the traced run.

Spans are kept in memory (name, start, end, parent) and written out once
when the run ends. Spark's counters come from the session's own status
REST API (enabled only in traced runs), always addressed through the
run's own ``applicationId`` so another application on the host is never
read.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, fh, indent=1)


#: stage fields summed per pass
_STAGE_SUMS = (
    "numTasks", "numFailedTasks", "executorCpuTime", "jvmGcTime", "inputBytes",
    "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
)


class SparkRest:
    """Reads this application's stage and storage counters."""

    def __init__(self, spark):
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("Spark UI is disabled; the traced run needs it")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as resp:
            return json.load(resp)

    def _stages(self) -> list[dict]:
        return self._get("/stages")

    def last_stage_id(self) -> int:
        return max((s["stageId"] for s in self._stages()), default=-1)

    def stages_after(self, stage_id: int, wait_s: float = 10.0) -> dict:
        """Summed counters of every stage newer than ``stage_id``, once the
        status listener has seen them all finish."""
        # the status listener runs behind the scheduler: wait until the new
        # stages are all finished and two reads 50 ms apart agree
        deadline = time.monotonic() + wait_s
        seen = None
        while True:
            new = [s for s in self._stages() if s["stageId"] > stage_id]
            done = all(s["status"] in ("COMPLETE", "FAILED", "SKIPPED") for s in new)
            key = sorted((s["stageId"], s["attemptId"], s["status"]) for s in new)
            if new and done and key == seen:
                break
            if time.monotonic() > deadline:
                raise RuntimeError("Spark stages still running after the action returned")
            seen = key
            time.sleep(0.05)
        ran = [s for s in new if s["status"] != "SKIPPED"]
        out = {k: sum(s.get(k, 0) for s in ran) for k in _STAGE_SUMS}
        out["stages"] = len(ran)
        return out

    def storage(self) -> tuple[int, float]:
        """(cached RDDs, MB they hold in memory and on disk)."""
        rdds = self._get("/storage/rdd")
        mb = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds) / 1e6
        return len(rdds), mb
