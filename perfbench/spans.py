"""Spans around calls into the program's layers, and their Spark event-log
attribution.

Spans are recorded by the benchmark around public calls (``pipeline.build``,
``writers.write_parquet_sinks`` ...), kept in memory, and attributed to Spark
jobs afterwards: each job belongs to the innermost span whose interval holds
its submission time. Calls are sequential, so this also attributes the jobs
that carry no Python call site (broadcast exchanges, AQE stages).
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


def now_ms() -> float:
    # wall clock, so spans line up with the event log's epoch milliseconds
    return time.time() * 1000.0


@dataclass
class Span:
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0

    @property
    def wall_s(self) -> float:
        return (self.end - self.start) / 1000.0


@dataclass
class Tracer:
    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        s = Span(name, self._stack[-1] if self._stack else None, self.run_id, now_ms())
        self.spans.append(s)
        self._stack.append(name)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = now_ms()

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


@dataclass
class Job:
    job_id: int
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    tasks: int = 0
    retries: int = 0


# task accumulators summed per job; name -> short key
_TASK_METRICS = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.shuffle.read.fetchWaitTime": "fetch_wait_ms",
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
}


@dataclass
class EventLog:
    jobs: list[Job]
    # (submission time, checkpoint parquet scans in its initial plan)
    sql_scans: list[tuple[float, int]]


def read_event_log(log_dir: str, ckpt_marker: str) -> EventLog:
    """Parse the uncompressed (rolling) event log under `log_dir`. Checkpoint
    scans are parquet scans whose location contains `ckpt_marker`."""
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))
                   or glob.glob(os.path.join(log_dir, "*")))
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    sql_scans = []
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    job = Job(e["Job ID"], float(e["Submission Time"]), stages=e["Stage IDs"])
                    jobs[job.job_id] = job
                    for sid in job.stages:
                        stage_job.setdefault(sid, job.job_id)
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end = float(e["Completion Time"])
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e["Stage ID"], -1))
                    if job is None:
                        continue
                    info = e["Task Info"]
                    job.tasks += 1
                    if (info.get("Attempt", 0) > 0 or info.get("Failed") or info.get("Killed")
                            or e["Task End Reason"].get("Reason") != "Success"):
                        job.retries += 1
                    for acc in info.get("Accumulables", ()):
                        key = _TASK_METRICS.get(acc.get("Name"))
                        if key is not None and acc.get("Update") is not None:
                            job.metrics[key] += float(acc["Update"])
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    sql_scans.append((float(e["time"]),
                                      _count_scans(e["sparkPlanInfo"], ckpt_marker)))
    return EventLog(sorted(jobs.values(), key=lambda j: j.job_id), sql_scans)


def _count_scans(node: dict, marker: str) -> int:
    own = int(node.get("nodeName", "").startswith("Scan parquet")
              and marker in json.dumps(node.get("metadata", {})))
    return own + sum(_count_scans(c, marker) for c in node.get("children", ()))


def innermost(spans: list[Span], t: float) -> Span | None:
    """The latest-starting span whose interval holds `t`."""
    best = None
    for s in spans:
        if s.start <= t < s.end and (best is None or s.start >= best.start):
            best = s
    return best


def jobs_in(log: EventLog, spans: list[Span], names: set[str]) -> list[Job]:
    """Jobs whose innermost span is one of `names` or a descendant of one."""
    by_name = {s.name: s for s in spans}

    def under(s: Span | None) -> bool:
        while s is not None:
            if s.name in names:
                return True
            s = by_name.get(s.parent) if s.parent else None
        return False

    return [j for j in log.jobs if under(innermost(spans, j.submit))]


def scans_between(log: EventLog, start: float, end: float) -> int:
    return sum(n for t, n in log.sql_scans if start <= t < end)


def total(jobs: list[Job], key: str) -> float:
    return sum(j.metrics.get(key, 0.0) for j in jobs)


def idle_ms(span: Span, jobs: list[Job]) -> float:
    """Part of the span's interval with no Spark job of `jobs` running."""
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(j.submit, span.start), min(j.end or span.end, span.end))
                       for j in jobs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return (span.end - span.start) - busy
