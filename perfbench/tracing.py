"""Traced-run tooling: spans recorded from outside the engine, per-batch
spans rebuilt from the engine's metrics log, and Spark task counters read
from an event log and attributed to spans by time window.

Every run times its operations with ``Tracer`` spans.  Only the traced run
(``--trace 1``) adds the wrappers around engine functions and the event log.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None = None
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] that the intervals cover (overlaps counted once)."""
    clipped = [(max(a, lo), min(b, hi)) for a, b in intervals]
    return _union_length([(a, b) for a, b in clipped if b > a])


def assign_parents(spans: list[Span]) -> None:
    """Parent = the tightest other span whose interval contains this one.

    Spans come from two threads (the driver thread and the streaming
    query's callback thread) and from the engine's metrics log, so a
    call stack cannot link them; the benchmark runs one thing at a time,
    which makes containment exact."""
    for i, s in enumerate(spans):
        best = None
        for j, p in enumerate(spans):
            if j == i or not (p.start <= s.start and s.end <= p.end):
                continue
            # a parent is longer; of two equal spans the earlier-recorded one
            if p.wall < s.wall or (p.wall == s.wall and j > i):
                continue
            if best is None or p.wall < spans[best].wall:
                best = j
        s.parent = best


def self_time(spans: list[Span], idx: int) -> float:
    """Span wall minus the part of it that its direct children cover."""
    s = spans[idx]
    kids = [(c.start, c.end) for c in spans if c.parent == idx]
    return s.wall - covered(s.start, s.end, kids)


class Tracer:
    """In-memory span recorder; ``write`` dumps the spans at exit."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        # epoch anchor + perf_counter: durations immune to clock steps,
        # starts comparable with the event log's epoch milliseconds
        self._epoch0 = time.time()
        self._perf0 = time.perf_counter()

    def now(self) -> float:
        return self._epoch0 + (time.perf_counter() - self._perf0)

    def add(self, name: str, start: float, end: float, **attrs: Any) -> None:
        with self._lock:
            self.spans.append(Span(name, start, end, attrs=attrs))

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[dict[str, Any]]:
        t0 = self.now()
        try:
            yield attrs
        finally:
            self.add(name, t0, self.now(), **attrs)

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[Any, str, str]]) -> Iterator[None]:
        """Wrap ``owner.attr`` in a span named ``name`` for the duration;
        (owner, attr, name) triples.  Static methods stay static."""
        saved = []
        for owner, attr, name in targets:
            raw = owner.__dict__[attr]
            saved.append((owner, attr, raw))
            if isinstance(raw, staticmethod):
                setattr(owner, attr, staticmethod(self.wrap(name, raw.__func__)))
            else:
                setattr(owner, attr, self.wrap(name, raw))
        try:
            yield
        finally:
            for owner, attr, raw in reversed(saved):
                setattr(owner, attr, raw)

    def finish(self) -> list[Span]:
        assign_parents(self.spans)
        return self.spans

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, "self_s": self_time(self.spans, i),
                     **s.attrs}
                    for i, s in enumerate(self.spans)
                ],
                f,
                indent=1,
            )


# A batch record's wall clock is read after its duration, when the record
# is written: rebuilt spans start this much earlier so that they cover
# what the batch ran in its first milliseconds.
LOG_LAG_S = 0.002


def batch_spans(metrics_log: str) -> list[Span]:
    """Per-batch spans rebuilt from ``<ckpt>/metrics/batches.jsonl``: each
    record carries its duration and the wall clock when it was written,
    right after the batch committed."""
    out = []
    with open(metrics_log) as f:
        for line in f:
            r = json.loads(line)
            if r.get("skipped"):
                continue
            end = float(r["wall_clock"])
            out.append(Span("streaming.batch", end - float(r["seconds"]) - LOG_LAG_S, end,
                            attrs={"batch_id": r["batch_id"], "events": r["events"],
                                   "touched_buckets": r["touched_buckets"]}))
    return out


# --------------------------------------------------------------- event log


@dataclass
class Stage:
    stage_id: int
    submit: float  # epoch seconds
    tasks: list[dict[str, float]] = field(default_factory=list)


@dataclass
class Job:
    job_id: int
    start: float
    end: float | None = None


def parse_event_log(path: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs and stages with per-task counters from a Spark JSON event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = Job(e["Job ID"], e["Submission Time"] / 1000)
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                sid = info["Stage ID"]
                if sid not in stages:
                    stages[sid] = Stage(sid, info.get("Submission Time", 0) / 1000)
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                info = e["Task Info"]
                sw = m.get("Shuffle Write Metrics", {})
                sr = m.get("Shuffle Read Metrics", {})
                stage = stages.setdefault(
                    e["Stage ID"], Stage(e["Stage ID"], info["Launch Time"] / 1000)
                )
                stage.tasks.append({
                    "duration_s": (info["Finish Time"] - info["Launch Time"]) / 1000,
                    "run_s": m.get("Executor Run Time", 0) / 1000,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000,
                    # rows, not "Bytes Read": parquet scans under-report it
                    # (a 3.8 MB full scan read as 29 KB; its rows were exact)
                    "input_rows": m.get("Input Metrics", {}).get("Records Read", 0),
                    "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
                    "output_rows": m.get("Output Metrics", {}).get("Records Written", 0),
                    "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                })
    return jobs, stages


def skew(tasks: list[dict[str, float]]) -> float:
    """Max over median task duration (1.0 = perfectly even)."""
    d = [t["duration_s"] for t in tasks]
    med = statistics.median(d) if d else 0.0
    return max(d) / med if med > 0 else 1.0


def innermost(spans: list[Span], t: float, names: set[str] | None = None) -> int | None:
    """Index of the shortest span (optionally among ``names``) containing t."""
    best = None
    for i, s in enumerate(spans):
        if s.start <= t <= s.end and (names is None or s.name in names):
            if best is None or s.wall < spans[best].wall:
                best = i
    return best


def stages_by_span(spans: list[Span], stages: dict[int, Stage],
                   names: set[str]) -> dict[int, list[Stage]]:
    """Each stage goes to the innermost span among ``names`` that contains
    its submission time."""
    out: dict[int, list[Stage]] = {}
    for st in stages.values():
        i = innermost(spans, st.submit, names)
        if i is not None:
            out.setdefault(i, []).append(st)
    return out


def task_totals(stages: list[Stage]) -> dict[str, float]:
    tasks = [t for st in stages for t in st.tasks]
    keys = ("run_s", "cpu_s", "gc_s", "input_rows", "output_bytes", "output_rows",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    tot = {k: float(sum(t[k] for t in tasks)) for k in keys}
    tot["tasks"] = float(len(tasks))
    return tot


def reduce_stage_skew(stages: list[Stage]) -> float | None:
    """Skew of the heaviest shuffle-reading stage among ``stages``."""
    reducers = [st for st in stages
                if st.tasks and sum(t["shuffle_read_bytes"] for t in st.tasks) > 0]
    if not reducers:
        return None
    heaviest = max(reducers, key=lambda st: sum(t["run_s"] for t in st.tasks))
    return skew(heaviest.tasks)


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, n) for n in os.listdir(log_dir)
             if not n.startswith(".") and not n.endswith(".crc")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]
