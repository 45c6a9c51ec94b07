"""Spans around the benchmark's calls into each layer, and the Spark
event-log counters attributed to them.

A span is opened by the benchmark (never inside the program) around
one layer call.  While a span is open its id is the thread's Spark job
group, so every job the call runs is attributable from the event log.
Spark is lazy: in a traced run the benchmark materializes each layer
boundary (``Tracer.materialize``) so the work lands inside the span
that caused it.  Untraced, every method here is a no-op.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "pbspan-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: str | None
    start: float  # epoch seconds
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover
    (children may overlap each other, e.g. from worker threads)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    return {
        s.id: s.duration
        - union_length([(max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]])
        for s in spans
    }


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._persisted = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, spark, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(
            id=next(self._ids),
            name=name,
            parent=parent.id if parent else None,
            request=request or (parent.request if parent else None),
            start=time.time(),
        )
        stack.append(s)
        sc = spark.sparkContext
        sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if parent is not None:
                sc.setJobGroup(f"{GROUP_PREFIX}{parent.id}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(s)

    def materialize(self, df, span: Span | None, count_name: str):
        """Traced runs only: persist + count, so the layer's work runs
        inside ``span``; the row count is recorded on the span."""
        if not self.enabled:
            return df
        df = df.persist()
        span.counts[count_name] = df.count()
        with self._lock:
            self._persisted.append(df)
        return df

    def release(self) -> None:
        with self._lock:
            frames, self._persisted = self._persisted, []
        for df in frames:
            df.unpersist()


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    first_job_ms: float | None = None
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    input_records: int = 0
    task_wait_ms: float = 0.0


def read_event_log(log_dir: str) -> dict[int, GroupStats]:
    """Per-span engine counters from the Spark event log (one directory
    per application; plain or rolled JSON-lines files)."""
    stage_group: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    stats: dict[int, GroupStats] = defaultdict(GroupStats)
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(f)
    )

    def group_of(props: dict | None) -> int | None:
        gid = (props or {}).get("spark.jobGroup.id") or ""
        return int(gid[len(GROUP_PREFIX):]) if gid.startswith(GROUP_PREFIX) else None

    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = group_of(ev.get("Properties"))
                    if g is None:
                        continue
                    st = stats[g]
                    st.jobs += 1
                    t = ev["Submission Time"]
                    st.first_job_ms = t if st.first_job_ms is None else min(st.first_job_ms, t)
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_submit[info["Stage ID"]] = info.get("Submission Time") or 0
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    st = stats[g]
                    st.tasks += 1
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    submit = stage_submit.get(ev["Stage ID"])
                    if submit:
                        st.task_wait_ms += max(info["Launch Time"] - submit, 0)
                    st.gc_ms += m.get("JVM GC Time", 0)
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    inp = m.get("Input Metrics") or {}
                    st.input_bytes += inp.get("Bytes Read", 0)
                    st.input_records += inp.get("Records Read", 0)
    return dict(stats)


def write_spans(spans: list[Span], path: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for s in sorted(spans, key=lambda s: s.start):
            fh.write(json.dumps(s.__dict__) + "\n")
