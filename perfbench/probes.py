"""Measurement helpers that sit outside the program: spans, the streaming
progress listener, Spark's public status counters and process memory.

Spans are recorded only here and in the workload code, around calls into
the program's public functions; they stay in memory and are written out
when the run ends.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import math
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

# durationMs parts of one micro-batch, in the order MicroBatchExecution
# runs them; the traced run lays them out as consecutive child spans.
PROGRESS_PARTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                  "addBatch", "commitOffsets")


def median(xs) -> float | None:
    """Median of ``xs``; None when there is no sample."""
    xs = list(xs)
    return float(statistics.median(xs)) if xs else None


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[max(0, math.ceil(q / 100 * len(xs)) - 1)])


class Tracer:
    """In-memory spans: name, start, end, parent, trace id. Disabled, every
    call is a no-op, so the untraced run pays nothing but a branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: dict | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = parent if parent is not None else (stack[-1] if stack else None)
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "trace": parent["trace"] if parent else sid, "start": time.time(), **attrs}
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, parent: dict | None, **attrs) -> dict | None:
        if not self.enabled:
            return None
        rec = {"id": next(self._ids), "name": name, "parent": parent["id"] if parent else None,
               "trace": parent["trace"] if parent else None, "start": start, "end": end, **attrs}
        with self._lock:
            self.spans.append(rec)
        return rec


def self_times(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: count, total and self seconds. Self time is a span's
    duration minus the part of it that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        agg["count"] += 1
        agg["total_s"] += s["end"] - s["start"]
        agg["self_s"] += s["end"] - s["start"] - covered
    return out


def _epoch(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


class ProgressLog(StreamingQueryListener):
    """Keeps one record per executed micro-batch: query id, batch id,
    trigger start and end (epoch seconds), input rows and durationMs."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: ANN001, N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: ANN001, N802
        p = event.progress
        dur = dict(p.durationMs)
        if "addBatch" not in dur:  # a trigger that found no data ran no batch
            return
        start = _epoch(p.timestamp)
        with self._lock:
            self.batches.append({
                "query": str(p.id), "batch": int(p.batchId), "start": start,
                "end": start + dur.get("triggerExecution", 0) / 1000.0,
                "rows": int(p.numInputRows), "dur": dur,
            })

    def onQueryIdle(self, event) -> None:  # noqa: ANN001, N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: ANN001, N802
        pass

    def for_query(self, query_id: str) -> list[dict]:
        with self._lock:
            return [b for b in self.batches if b["query"] == query_id]

    def wait_for(self, query_id: str, n_batches: int, timeout_s: float = 30.0) -> None:
        """Listener events arrive asynchronously; wait until a query's
        executed batches have all been reported."""
        deadline = time.time() + timeout_s
        while len(self.for_query(query_id)) < n_batches and time.time() < deadline:
            time.sleep(0.05)


class SparkCounters:
    """Job, stage and task counters from Spark's public monitoring REST API,
    restricted to what ran after ``mark()``."""

    def __init__(self, sc) -> None:  # noqa: ANN001
        port = sc.uiWebUrl.rsplit(":", 1)[1].rstrip("/")
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._job0 = self._stage0 = -1
        self.cores = sc.defaultParallelism

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=30) as r:
            return json.load(r)

    def mark(self) -> None:
        self._job0 = max((j["jobId"] for j in self._get("jobs")), default=-1)
        self._stage0 = max((s["stageId"] for s in self._get("stages")), default=-1)

    def collect(self, wall_s: float) -> dict[str, float]:
        jobs = [j for j in self._get("jobs") if j["jobId"] > self._job0]
        stages = [s for s in self._get("stages")
                  if s["stageId"] > self._stage0 and s["status"] != "SKIPPED"]
        run_ms = sum(s.get("executorRunTime", 0) for s in stages)
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s.get("numTasks", 0) for s in stages),
            "spark.shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "spark.shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
            "spark.spill_bytes": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                                     for s in stages),
            "spark.busy_frac": run_ms / 1000.0 / (wall_s * self.cores) if wall_s > 0 else 0.0,
        }


def cpu_ticks() -> list[int]:
    """Host-wide CPU time counters from /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks()`` readings. A high share explains a slow run."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) and len(d) > 7 else 0.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
