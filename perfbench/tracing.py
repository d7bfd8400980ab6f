"""Spans around calls into the engine, and the Spark event log folded
into them.

A span is recorded from the benchmark's side of each call (name, start,
end, parent, op id). When tracing is on, entering a span sets
``spark.job.description`` to ``<name>#<op id>``, so every Spark job the
call launches carries it into the event log. Folding then gives each job
to a span: by description first, and by time for the jobs whose
description Spark itself overwrites (parallel file listing). Within a
span, jobs are classified by what the event log says about them:

- ``listing``: jobs outside any SQL execution (file listing, parquet
  schema and footer reads);
- ``compact``: jobs of a SQL execution whose write target is a
  ``-compact-`` dir;
- ``light_pass``: ``collect`` jobs called from ``plans/merge.py``;
- ``write``: every other job. PySpark loses the call site of a write, so
  the main pass is what remains once the others are named.

Normalize is fused into the merge's scan stage by whole-stage codegen and
cannot be split out from outside the engine; its cost sits in ``write``
(and in ``light_pass`` for the key columns).
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

DESCRIPTION = "spark.job.description"


@dataclass
class Span:
    name: str
    op_id: int
    parent: int | None
    start: float = 0.0
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory. ``sc`` is the SparkContext whose job
    description each span sets; None records wall times only (the
    untraced end-to-end run)."""

    def __init__(self, sc=None):
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._sc = sc
        self._stack: list[Span] = []
        self._next_id = 0

    def reset(self) -> None:
        """Forget recorded spans (not the op-id counter, so a job from
        before the reset can never match a later span's description)."""
        self.spans = []
        self.overhead_s = 0.0

    def _describe(self, span: Span | None) -> None:
        if self._sc is not None:
            value = None if span is None else f"{span.name}#{span.op_id}"
            self._sc.setLocalProperty(DESCRIPTION, value)

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self._next_id, None if parent is None else parent.op_id)
        self._next_id += 1
        self.spans.append(s)
        self._stack.append(s)
        self._describe(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._describe(parent)
            self.overhead_s += (s.start - t0) + (time.time() - s.end)

    def wrap(self, obj, method: str, name: str) -> None:
        """Replace ``obj.method`` on this instance with a call in a span,
        so calls the engine makes internally (a Streamer calling its
        source and table) are timed without changing engine code."""
        inner = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(obj, method, traced)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.op_id]


# ---------------------------------------------------------------- event log


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    description: str | None
    call_site: str | None
    sql_id: int | None
    target: str = ""
    stages: list[int] = field(default_factory=list)
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_bytes_sent: int = 0
    span: int | None = None

    @property
    def kind(self) -> str:
        if self.sql_id is None:
            return "listing"
        if "-compact-" in self.target:
            return "compact"
        site = self.call_site or ""
        if site.startswith("collect at") and "merge.py" in site:
            return "light_pass"
        return "write"


# the output path of a write, as the physical plan description states it
_TARGET_RE = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: ([^,\s]+)")


def parse_event_log(lines) -> list[Job]:
    """Jobs with their task metrics summed, from event log JSON lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    plans: dict[int, str] = {}
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql = props.get("spark.sql.execution.id")
            job = Job(
                e["Job ID"], e["Submission Time"] / 1000.0, 0.0,
                props.get(DESCRIPTION), props.get("callSite.short"),
                None if sql is None else int(sql), stages=list(e["Stage IDs"]),
            )
            jobs[job.job_id] = job
            for sid in job.stages:
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif kind.endswith("SQLExecutionStart"):
            plans[e["executionId"]] = e.get("physicalPlanDescription", "")
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"], -1))
            m = e.get("Task Metrics")
            if job is None or not m:
                continue
            job.executor_cpu_s += m["Executor CPU Time"] / 1e9
            job.gc_s += m["JVM GC Time"] / 1000.0
            job.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            job.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            for acc in e["Task Info"].get("Accumulables", []):
                if acc.get("Name") == "data sent to Python workers":
                    job.python_bytes_sent += int(acc["Update"])
    for job in jobs.values():
        m = _TARGET_RE.search(plans.get(job.sql_id, ""))
        if m:
            job.target = m.group(1)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs of the one application that logged to ``log_dir`` (a plain,
    uncompressed event log: one file)."""
    (name,) = os.listdir(log_dir)
    with open(os.path.join(log_dir, name)) as f:
        return parse_event_log(line for line in f if line.strip())


_DESC_RE = re.compile(r"#(\d+)$")


def attribute(spans: list[Span], jobs: list[Job]) -> None:
    """Set ``job.span`` to the op id of the span that launched it: the one
    its description names, else the innermost span open when it was
    submitted. Jobs outside every span keep None."""
    by_id = {s.op_id: s for s in spans}
    for job in jobs:
        m = _DESC_RE.search(job.description or "")
        if m and int(m.group(1)) in by_id:
            job.span = int(m.group(1))
            continue
        open_spans = [s for s in spans if s.start <= job.start <= s.end]
        if open_spans:
            job.span = max(open_spans, key=lambda s: s.start).op_id


def breakdown(span: Span, spans: list[Span], jobs: list[Job]) -> dict[str, float]:
    """Split a span's wall into its direct jobs by kind, its child spans by
    name, and ``remainder`` (time in none of them: driver-side work).
    Overlaps go to whichever item started first, so the parts always sum
    to the span's wall."""
    items = [(c.start, c.end, c.name) for c in spans if c.parent == span.op_id]
    items += [(j.start, j.end, j.kind) for j in jobs if j.span == span.op_id]
    items.sort()
    parts: dict[str, float] = {}
    cursor = span.start
    for start, end, key in items:
        lo, hi = max(start, cursor), min(end, span.end)
        if hi > lo:
            parts[key] = parts.get(key, 0.0) + (hi - lo)
            cursor = hi
    parts["remainder"] = span.wall - sum(parts.values())
    return parts


def subtree_jobs(span: Span, spans: list[Span], jobs: list[Job]) -> list[Job]:
    """Jobs launched by ``span`` or any span under it."""
    ids, todo = set(), [span.op_id]
    while todo:
        sid = todo.pop()
        ids.add(sid)
        todo.extend(s.op_id for s in spans if s.parent == sid)
    return [j for j in jobs if j.span in ids]
