"""In-memory spans and Spark event-log counters for the traced run.

A span is ``(name, start, end, parent, run_id)``; spans stay in memory
and are written out once, when the run ends. A layer's self time is its
span's duration minus the time its child spans cover.

Spark counters (shuffle, spill, GC, task counts) come from the Spark
event log. Jobs are attributed to the op whose span covers their
submission time: ops run one after another on the Spark driver, and
``pipeline.materialize`` submits its writes from its own threads, which
do not inherit a job group.
"""

from __future__ import annotations

import glob
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: str | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(name, start, time.time(), parent, self.run_id))

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    def self_time(self, name: str) -> float:
        """Summed duration of `name` spans minus their children's."""
        own = self.total(name)
        children = sum(s.duration for s in self.spans if s.parent == name)
        return own - children

    def spans_named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


COUNTERS = ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_s", "tasks")


def _task_counters(metrics: dict) -> dict[str, float]:
    sr = metrics.get("Shuffle Read Metrics", {})
    sw = metrics.get("Shuffle Write Metrics", {})
    return {
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spill_bytes": metrics.get("Memory Bytes Spilled", 0)
        + metrics.get("Disk Bytes Spilled", 0),
        "gc_s": metrics.get("JVM GC Time", 0) / 1000.0,
        "tasks": 1,
        "records_read": metrics.get("Input Metrics", {}).get("Records Read", 0),
    }


@dataclass
class EventLog:
    """Per-job task counters parsed from a finished Spark event log."""

    job_submit_s: dict[int, float]
    job_group: dict[int, str]
    job_counters: dict[int, dict[str, float]]

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        (path,) = glob.glob(f"{log_dir}/*")
        submit, group, stage_job = {}, {}, {}
        counters: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    submit[job] = ev["Submission Time"] / 1000.0
                    group[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    for st in ev["Stage IDs"]:
                        stage_job.setdefault(st, job)
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    job = stage_job.get(ev["Stage ID"])
                    if job is not None:
                        for k, v in _task_counters(ev["Task Metrics"]).items():
                            counters[job][k] += v
        return cls(submit, group, counters)

    def per_span(self, spans: list[Span]) -> dict[str, float]:
        """Counters of the jobs submitted inside the spans, per span."""
        out = dict.fromkeys(COUNTERS, 0.0)
        for job, t in self.job_submit_s.items():
            if any(s.start <= t <= s.end for s in spans):
                for k in COUNTERS:
                    out[k] += self.job_counters[job].get(k, 0.0) / len(spans)
        return out

    def records_read(self, group: str) -> float:
        return sum(
            self.job_counters[j].get("records_read", 0.0)
            for j, g in self.job_group.items()
            if g == group
        )
