"""Tracing from outside the program: spans around calls into each
layer's public functions, one Spark job group per span, and a parser
for Spark's uncompressed event log that attributes jobs, tasks,
shuffle bytes, GC time and task-idle time to those spans.

A span's wrapper materializes the layer's DataFrame output
(``localCheckpoint``) inside the span, so the span covers the layer's
own work rather than deferring it to whoever reads the result next.
Counts that need extra Spark work (rows out, rows changed) run after
the span closes, under the ``aux`` job group, so they are attributed
to no layer.
"""

from __future__ import annotations

import dataclasses
import importlib
import json
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame

AUX_GROUP = "aux"


@dataclasses.dataclass
class Span:
    sid: int
    layer: str
    parent: int | None
    start: float                 # epoch seconds
    end: float = 0.0
    counts: dict = dataclasses.field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"span-{self.sid}"


def materialize(result):
    """Pin a layer's DataFrame output (or each DataFrame field of a
    dataclass result) so its work happens inside the span."""
    if isinstance(result, DataFrame):
        return result.localCheckpoint(eager=True)
    if dataclasses.is_dataclass(result) and not isinstance(result, type):
        return dataclasses.replace(result, **{
            f.name: getattr(result, f.name).localCheckpoint(eager=True)
            for f in dataclasses.fields(result)
            if isinstance(getattr(result, f.name), DataFrame)})
    return result


class Tracer:
    """Records spans in memory; job groups tag every Spark job with the
    innermost open span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), layer, parent.sid if parent else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, layer)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.layer)

    @contextmanager
    def aux(self):
        """Untimed bookkeeping work outside every span."""
        self.sc.setJobGroup(AUX_GROUP, AUX_GROUP)
        try:
            yield
        finally:
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].layer)

    def wrap(self, fn, layer: str, hook=None):
        """``fn`` timed as a ``layer`` span with its output materialized;
        ``hook(args, kwargs, result)`` returns counts for the span and
        runs after it, outside every span's job group."""
        def traced(*args, **kwargs):
            with self.span(layer) as sp:
                result = materialize(fn(*args, **kwargs))
            if hook is not None:
                with self.aux():
                    sp.counts.update(hook(args, kwargs, result))
            return result
        traced.__wrapped__ = fn
        return traced

    @contextmanager
    def patched(self, patches):
        """Install wrappers for ``(module path or object, attribute,
        layer, hook)`` entries — on the name each caller looks up — and
        restore the originals afterwards."""
        saved = []
        try:
            for target, attr, layer, hook in patches:
                obj = importlib.import_module(target) if isinstance(target, str) else target
                orig = getattr(obj, attr)
                saved.append((obj, attr, orig))
                setattr(obj, attr, self.wrap(orig, layer, hook))
            yield
        finally:
            for obj, attr, orig in reversed(saved):
                setattr(obj, attr, orig)


# ------------------------------------------------------------ event log


@dataclasses.dataclass
class JobStats:
    group: str | None
    start_ms: int
    end_ms: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    gc_ms: int = 0


def parse_event_log(path: Path) -> tuple[dict[int, JobStats], list[tuple[int, int]]]:
    """Jobs (with their job group and task totals) and every task's
    (launch, finish) interval in epoch ms, from one uncompressed,
    non-rolling Spark event log."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    intervals: list[tuple[int, int]] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = JobStats(props.get("spark.jobGroup.id"),
                                     ev.get("Submission Time", 0))
                for sid in ev.get("Stage IDs", []):
                    # a stage runs in the first job that needs it; later
                    # jobs listing it skip it
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev.get("Completion Time", 0)
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                intervals.append((info.get("Launch Time", 0), info.get("Finish Time", 0)))
                job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                if job is None:
                    continue
                m = ev.get("Task Metrics") or {}
                job.tasks += 1
                job.gc_ms += m.get("JVM GC Time", 0)
                job.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
    return jobs, intervals


def busy_seconds(intervals: list[tuple[int, int]], start: float, end: float) -> float:
    """Length of the union of task intervals inside [start, end] (s)."""
    lo_ms, hi_ms = start * 1000.0, end * 1000.0
    clipped = sorted((max(a, lo_ms), min(b, hi_ms)) for a, b in intervals
                     if b > lo_ms and a < hi_ms)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0


def span_stats(spans: list[Span], jobs: dict[int, JobStats],
               intervals: list[tuple[int, int]]) -> dict[int, dict]:
    """Per span: wall and self time, and the jobs, tasks, shuffle bytes
    and GC time of its own and its descendants' job groups, plus idle
    time (span wall with no task running: driver round-trips)."""
    by_group: dict[str, list[JobStats]] = {}
    for j in jobs.values():
        by_group.setdefault(j.group, []).append(j)
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)

    def subtree(sp):
        yield sp
        for c in children.get(sp.sid, ()):
            yield from subtree(c)

    out = {}
    for sp in spans:
        own = [j for s in subtree(sp) for j in by_group.get(s.group, ())]
        wall = sp.end - sp.start
        out[sp.sid] = {
            "s": wall,
            "self_s": wall - sum(c.end - c.start for c in children.get(sp.sid, ())),
            "jobs": len(own),
            "tasks": sum(j.tasks for j in own),
            "shuffle_bytes": sum(j.shuffle_bytes for j in own),
            "gc_ms": sum(j.gc_ms for j in own),
            "idle_s": wall - busy_seconds(intervals, sp.start, sp.end),
        }
    return out


def find_event_log(log_dir: Path) -> Path:
    logs = [p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(logs)}")
    return logs[0]
