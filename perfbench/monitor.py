"""Per-layer measurement from outside the engine.

Three sources, all read by the benchmark around its calls into the engine:

- ``Tracer``: spans (name, start, end, parent, op id) recorded at each layer
  boundary, kept in memory and written out when the run ends.
- ``SparkHarvest``: Spark's own monitoring, read right after each op
  completes (the UI keeps only ~1000 stages): job ids by job group from
  ``sc.statusTracker()``, and job, stage, SQL-node and storage figures from
  the local REST API at ``sc.uiWebUrl``.
- ``StreamListener``: micro-batch durations from a ``StreamingQueryListener``.

Nothing here runs in an untraced run, except ``peak_rss_mb``.
"""

from __future__ import annotations

import json
import re
import time
import urllib.error
import urllib.request
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_VALUE = re.compile(r"^([\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Parse a SQL-metric string as the UI renders it ("785 ms", "1.2 s",
    "62.8 KiB", "60,000", or a "total (min, med, max ...)" header followed by
    such a line) into seconds, bytes or a count."""
    for line in text.splitlines():
        if line.startswith("total ("):
            continue
        m = _VALUE.match(line.strip())
        if m:
            return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)
    return 0.0


def vm_hwm_mib(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB, read from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


@dataclass
class Tracer:
    """In-memory span recorder. ``enabled`` is flipped per pass, so a traced
    run can time an untraced pass and a traced pass of the same workload."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str, op: int | None = None) -> "_SpanCtx":
        return _SpanCtx(self, name, op)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the time its direct children cover, summed per
        span name."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op: int | None) -> None:
        self.tracer, self.name, self.op = tracer, name, op
        self.index: int | None = None

    def __enter__(self) -> "_SpanCtx":
        self.start = time.perf_counter()
        if self.tracer.enabled:
            parent = self.tracer._stack[-1] if self.tracer._stack else None
            self.index = len(self.tracer.spans)
            self.tracer.spans.append(Span(self.name, self.start, self.start, parent, self.op))
            self.tracer._stack.append(self.index)
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter()
        if self.index is not None:
            self.tracer.spans[self.index].end = self.end
            self.tracer._stack.pop()


class StreamListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.batches = 0
        self.batch_s = 0.0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.batches += 1
        self.batch_s += event.progress.batchDuration / 1000.0

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class SparkHarvest:
    """Accumulates per-layer Spark figures for the ops of traced passes."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.next_job = 0
        self.next_sql = 0
        self.totals: dict[str, float] = defaultdict(float)
        self.cached_peak = 0.0

    def _get(self, path: str):
        try:
            with urllib.request.urlopen(self.base + path, timeout=30) as resp:
                return json.load(resp)
        except urllib.error.HTTPError as err:
            if err.code == 404:
                return None
            raise

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far, so
        the status store (and the REST API over it) is complete."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def cached_bytes(self) -> float:
        rdds = self._get("/storage/rdd") or []
        used = float(sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds))
        self.cached_peak = max(self.cached_peak, used)
        return used

    def skip_to_now(self) -> None:
        """Mark every job and SQL execution so far as harvested (warm-up and
        untraced passes are not attributed to any traced op)."""
        self.drain()
        while self._get(f"/jobs/{self.next_job}") is not None:
            self.next_job += 1
        while self._get(f"/sql/{self.next_sql}") is not None:
            self.next_sql += 1

    def harvest(self) -> None:
        """Fold in every job, stage and SQL execution since the last call."""
        self.drain()
        t = self.totals
        seen_stages: set[int] = set()
        while (job := self._get(f"/jobs/{self.next_job}")) is not None:
            self.next_job += 1
            t["exec.jobs"] += 1
            t["exec.stages"] += len(job["stageIds"])
            t["exec.stages_skipped"] += job.get("numSkippedStages", 0)
            for sid in job["stageIds"]:
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                for st in self._get(f"/stages/{sid}?details=false") or []:
                    if st["status"] == "SKIPPED":
                        continue
                    t["exec.tasks"] += st["numTasks"]
                    t["exec.task_attempts"] += (
                        st["numCompleteTasks"] + st["numFailedTasks"] + st["numKilledTasks"]
                    )
                    t["exec.run_s"] += st["executorRunTime"] / 1e3
                    t["exec.executor_cpu_s"] += st["executorCpuTime"] / 1e9
                    t["exec.gc_s"] += st["jvmGcTime"] / 1e3
                    t["sources.input_rows"] += st["inputRecords"]
                    t["sources.input_bytes"] += st["inputBytes"]
                    t["shuffle.write_bytes"] += st["shuffleWriteBytes"]
                    t["shuffle.read_bytes"] += st["shuffleReadBytes"]
                    t["shuffle.records_written"] += st["shuffleWriteRecords"]
                    t["shuffle.fetch_wait_s"] += st["shuffleFetchWaitTime"] / 1e3
                    t["shuffle.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        while (ex := self._get(f"/sql/{self.next_sql}?details=true")) is not None:
            self.next_sql += 1
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    name = m["name"]
                    if name == "scan time" and node["nodeName"].startswith("Scan"):
                        t["sources.scan_s"] += parse_metric(m["value"])
                    elif name == "data sent to Python workers":
                        t["python.bytes_sent"] += parse_metric(m["value"])
                    elif name == "data returned from Python workers":
                        t["python.bytes_returned"] += parse_metric(m["value"])
                    elif name == "time to run Python workers":
                        t["python.exec_s"] += parse_metric(m["value"])

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())
