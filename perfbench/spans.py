"""Tracing for the benchmark's traced runs: spans, Spark job accounting
and streaming progress.

* ``Tracer`` records spans (name, start, end, parent) in memory around
  the benchmark's calls into each package module, and tags the Spark jobs
  each span launches with ``SparkContext.setJobGroup(<span name>)``.
* ``event_log_groups`` reads the session's Spark event log after the
  session stops and sums jobs, tasks, shuffle bytes, fetch wait, spill,
  GC time and failed tasks per job group.
* ``StreamProgress`` is a ``StreamingQueryListener`` that keeps every
  micro-batch's progress (duration, input rows, state rows and memory,
  commit time, sink). Streaming micro-batch jobs run under the query's
  run id as their job group, so the benchmark folds those groups into the
  layer the query's sink path names.

A span's self time is its duration minus the part of it that its child
spans cover. Nothing here changes what the package computes.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from datetime import datetime
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """In-memory span recorder. ``span`` is a context manager; spans nest
    by the order they are opened on the calling thread."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), float("nan"), parent))
        self._open.append(idx)
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            self._open.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                pname = self.spans[parent].name
                self.sc.setJobGroup(pname, pname)

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span measured elsewhere (a streaming micro-batch),
        parented to the innermost recorded span that contains it."""
        # 50 ms of slack: the JVM stamps batch starts to the millisecond
        inside = [i for i, s in enumerate(self.spans)
                  if s.start - 0.05 <= start and end <= s.end + 0.05]
        parent = min(inside, default=None,
                     key=lambda i: self.spans[i].end - self.spans[i].start)
        self.spans.append(Span(name, start, end, parent))

    def self_times(self) -> dict[str, float]:
        """Sum of self time per span name."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered, cur = 0.0, s.start
            for c in sorted(children[i], key=lambda c: c.start):
                lo, hi = max(c.start, cur), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    def dump(self, path: Path, **extra) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(
            {"spans": [asdict(s) for s in self.spans], **extra}, indent=1))


_GROUP_KEY = "spark.jobGroup.id"

#: what ``event_log_groups`` sums per job group
EVENT_LOG_METRICS = ("jobs", "tasks", "failed_tasks", "shuffle_write_mb",
                     "fetch_wait_s", "spill_mb", "gc_s")


def event_log_groups(path: Path) -> dict[str, dict]:
    """Per-job-group totals from one (uncompressed, non-rolling) Spark
    event log: jobs, tasks, failed_tasks, shuffle_write_mb, fetch_wait_s,
    spill_mb, gc_s."""
    stage_group: dict[tuple, str | None] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get(_GROUP_KEY)
                out[g]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = (
                    (ev.get("Properties") or {}).get(_GROUP_KEY))
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                acc = out[g]
                acc["tasks"] += 1
                info = ev.get("Task Info") or {}
                if (info.get("Failed")
                        or ev["Task End Reason"]["Reason"] != "Success"):
                    acc["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                acc["shuffle_write_mb"] += (m.get("Shuffle Write Metrics", {})
                                            .get("Shuffle Bytes Written", 0)) / 1e6
                acc["fetch_wait_s"] += (m.get("Shuffle Read Metrics", {})
                                        .get("Fetch Wait Time", 0)) / 1e3
                acc["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0)) / 1e6
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    return {g: dict(v) for g, v in out.items()}


def _epoch(ts: str) -> float:
    """Progress timestamps are ISO-8601 UTC strings ending in 'Z'."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class StreamProgress(StreamingQueryListener):
    """Keeps one record per streaming micro-batch."""

    def __init__(self):
        self._lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        durations = dict(p.durationMs or {})
        states = list(p.stateOperators or [])
        rec = {
            "run_id": str(p.runId),
            "sink": p.sink.description,
            "start": _epoch(p.timestamp),
            "duration_s": p.batchDuration / 1e3,
            "input_rows": p.numInputRows,
            "state_rows": sum(s.numRowsTotal for s in states),
            "state_mb": sum(s.memoryUsedBytes for s in states) / 1e6,
            "commit_s": (sum(s.commitTimeMs for s in states)
                         + durations.get("commitOffsets", 0)
                         + durations.get("commitBatch", 0)) / 1e3,
        }
        with self._lock:
            self.batches.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.batches)
