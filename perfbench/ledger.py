"""Spans around calls into the program, and the Spark work each one caused.

A span records a name, start and end (wall clock), the span that encloses
it and the thread it ran on. Spans nest per thread; a span opened on a
thread with no open span (a commit thread of `run_stages_parallel`) gets
the innermost open span of the tracer's own thread as its parent.

Spark jobs are attributed to spans by submission within the span: every
open span puts a job tag on its own thread, and a job belongs to the
deepest span whose tag it carries, that is, the innermost span open on the
submitting thread when it was submitted. Job groups are not used: threads
of a pool do not inherit the caller's job group, while tags are set from
inside each thread. A job with no span tag falls back to the deepest span
whose interval holds its submission time.

Stage metrics come from Spark's status store, which Spark keeps even
with the UI disabled. A stage is charged to the lowest job id that lists
it: a later job that reuses its shuffle output lists it as skipped.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import dataclass, field

MB = 2**20
TAG_PREFIX = "perfbench-span-"
_tracer_ids = itertools.count(1)

# per-span fields and their units, in the order they are printed
FIELDS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
    "cpu_s": "s", "run_s": "s", "gc_s": "s", "shuffle_write_mb": "MiB",
    "spill_mb": "MiB", "rows_out": "count", "task_max_over_p50": "ratio",
}


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    thread: str
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)
    tag: str = ""


class Tracer:
    """Records spans in memory; `wrap` times calls into a module's public
    functions without editing the module."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        # job tags outlive the tracer in the status store: keep them unique
        self._tag_prefix = f"{TAG_PREFIX}{next(_tracer_ids)}-"
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack = self._stack()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        outer = stack or self._main_stack
        with self._lock:
            sp = Span(
                sid=len(self.spans) + 1,
                name=name,
                parent=outer[-1].sid if outer else None,
                thread=threading.current_thread().name,
                start=0.0,
                attrs=dict(attrs),
            )
            sp.tag = f"{self._tag_prefix}{sp.sid}"
            self.spans.append(sp)
        tag = sp.tag
        self.sc.addJobTag(tag)
        stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self.sc.removeJobTag(tag)

    def wrap(self, module, fn_name: str, span_name, after=None, span_attrs=None):
        """Replace `module.fn_name` by a timed version until `restore()`.

        `span_name` is a string or a function of the call's arguments, and
        `span_attrs` an optional function of them giving the span's attrs.
        `after(result, span)` runs inside the span and returns the result
        handed back to the caller: for a function that returns lazy
        DataFrames it materializes them, so their jobs run inside the span."""
        orig = getattr(module, fn_name)

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            name = span_name(*args, **kwargs) if callable(span_name) else span_name
            attrs = span_attrs(*args, **kwargs) if span_attrs is not None else {}
            with self.span(name, **attrs) as sp:
                result = orig(*args, **kwargs)
                return after(result, sp) if after is not None else result

        setattr(module, fn_name, timed)
        self._patched.append((module, fn_name, orig))

    def restore(self):
        while self._patched:
            module, fn_name, orig = self._patched.pop()
            setattr(module, fn_name, orig)


# ------------------------------------------------------------ status store


class StatusStore:
    """Reads job and stage records from Spark's status store as JSON."""

    def __init__(self, sc):
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._quantiles = sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> list[dict]:
        # stageList(statuses, details, withSummaries, quantiles, taskStatuses):
        # Py4J needs all five arguments
        return self._json(self._store.stageList(None, False, True, self._quantiles, None))

    def cached_mb(self) -> float:
        """Memory plus disk held by persisted RDDs and cached DataFrames."""
        rdds = self._json(self._store.rddList(True))
        return sum(r["memoryUsed"] + r["diskUsed"] for r in rdds) / MB


# ------------------------------------------------------------ attribution


def _depths(spans: list[Span]) -> dict[int, int]:
    by_id = {s.sid: s for s in spans}
    depth: dict[int, int] = {}
    for s in spans:
        d, p = 0, s.parent
        while p is not None and p in by_id:
            d, p = d + 1, by_id[p].parent
        depth[s.sid] = d
    return depth


def attribute_jobs(spans: list[Span], jobs: list[dict]) -> dict[int, list[dict]]:
    """{span id: jobs charged to that span alone}."""
    depth = _depths(spans)
    by_tag = {s.tag: s.sid for s in spans}
    out: dict[int, list[dict]] = {s.sid: [] for s in spans}
    for job in jobs:
        tagged = [by_tag[t] for t in job.get("jobTags") or () if t in by_tag]
        if not tagged:
            t = (job.get("submissionTime") or 0) / 1000.0
            tagged = [s.sid for s in spans if s.start <= t <= (s.end or t)]
        if tagged:
            out[max(tagged, key=lambda sid: (depth[sid], sid))].append(job)
    return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_seconds(span: Span, children: list[Span]) -> float:
    """The span's wall time minus the part of its interval that child spans
    cover (children on other threads may overlap one another)."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end is not None and c.end > span.start and c.start < span.end
    ]
    return (span.end - span.start) - _covered([iv for iv in clipped if iv[1] > iv[0]])


def span_table(spans: list[Span], jobs: list[dict], stages: list[dict]) -> list[dict]:
    """One record per span with every field in FIELDS. Spark counts are
    inclusive of child spans, as is wall_s; self_s is exclusive."""
    owner: dict[int, int] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in job.get("stageIds") or ():
            owner.setdefault(sid, job["jobId"])
    stage_by_id: dict[int, list[dict]] = {}
    for st in stages:
        if st.get("status") in ("COMPLETE", "FAILED"):
            stage_by_id.setdefault(st["stageId"], []).append(st)

    own_jobs = attribute_jobs(spans, jobs)
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def own_stages(sid):
        for job in own_jobs[sid]:
            for stage_id in job.get("stageIds") or ():
                if owner.get(stage_id) == job["jobId"]:
                    yield from stage_by_id.get(stage_id, ())

    def subtree(sid):
        yield sid
        for c in children.get(sid, ()):
            yield from subtree(c.sid)

    rows = []
    for s in spans:
        ids = list(subtree(s.sid))
        sts = [st for i in ids for st in own_stages(i)]
        heaviest = max(sts, key=lambda st: st["executorRunTime"], default=None)
        skew = 0.0
        if heaviest is not None:
            dist = (heaviest.get("taskMetricsDistributions") or {}).get("duration") or [0, 0]
            skew = dist[1] / dist[0] if dist[0] > 0 else 1.0
        rows.append(
            {
                "sid": s.sid,
                "name": s.name,
                "parent": s.parent,
                "thread": s.thread,
                "start": s.start,
                "end": s.end,
                "wall_s": s.end - s.start,
                "self_s": self_seconds(s, children.get(s.sid, [])),
                "jobs": sum(len(own_jobs[i]) for i in ids),
                "tasks": sum(st["numCompleteTasks"] + st["numFailedTasks"] for st in sts),
                "cpu_s": sum(st["executorCpuTime"] for st in sts) / 1e9,
                "run_s": sum(st["executorRunTime"] for st in sts) / 1e3,
                "gc_s": sum(st["jvmGcTime"] for st in sts) / 1e3,
                "shuffle_write_mb": sum(st["shuffleWriteBytes"] for st in sts) / MB,
                "spill_mb": sum(st["diskBytesSpilled"] for st in sts) / MB,
                "rows_out": s.attrs.get("rows_out", 0),
                "task_max_over_p50": skew,
                "attrs": s.attrs,
            }
        )
    return rows


def layer_totals(rows: list[dict]) -> dict[str, dict]:
    """Sum the records of each span name. A span nested inside a span of
    the same name (read_stage recursing through a delta chain) is already
    counted by its ancestor, except for its self time; skew is the maximum."""
    by_sid = {r["sid"]: r for r in rows}

    def nested_in_same(r):
        p = r["parent"]
        while p is not None:
            if by_sid[p]["name"] == r["name"]:
                return True
            p = by_sid[p]["parent"]
        return False

    out: dict[str, dict] = {}
    for r in rows:
        acc = out.setdefault(r["name"], {f: 0 for f in FIELDS} | {"count": 0})
        if nested_in_same(r):
            acc["self_s"] += r["self_s"]
            continue
        acc["count"] += 1
        for f in FIELDS:
            if f == "task_max_over_p50":
                acc[f] = max(acc[f], r[f])
            else:
                acc[f] += r[f]
    return out
