"""Spans recorded from outside the engine, and the per-layer figures
built from them.

The traced run wraps public calls (``MicroLakeTable.merge``, the
``EpochContext`` frames, each maintainer's ``apply_epoch``,
``discover_schema``) and the benchmark's own read and query calls in
spans. Spans stay in memory until the run ends. Spark jobs and their
stage metrics come from Spark's event log; each job is attributed to
the innermost span open at its submission time. Trigger durations come
from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float            # wall clock, seconds (aligns with the event log)
    end: float = 0.0
    parent: int | None = None
    op: int | None = None   # index of the benchmark operation it served
    epoch: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``op`` is the benchmark operation
    (drain, landing, pass) in progress; spans opened on any thread are
    tagged with it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, epoch: int | None = None, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            s = Span(len(self.spans), name, time.time(),
                     parent=stack[-1].id if stack else None, op=self.op,
                     epoch=epoch, attrs=attrs)
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    def wrap(self, owner, attr: str, name, on_result=None) -> None:
        """Replace ``owner.attr`` (a function, or a property's getter)
        by a version that runs inside a span. ``name(*args)`` gives the
        span name, epoch and attributes; ``on_result(span, result,
        *args)`` records counts from the return value."""
        orig = owner.__dict__[attr]
        fn = orig.fget if isinstance(orig, property) else orig
        tracer = self

        def traced(*args, **kw):
            # a call re-entering the same wrapper (a property reading
            # itself through another property) runs untraced
            active = tracer._local.__dict__.setdefault("active", set())
            if traced in active:
                return fn(*args, **kw)
            active.add(traced)
            try:
                label, epoch, attrs = name(*args, **kw)
                with tracer.span(label, epoch=epoch, **attrs) as s:
                    out = fn(*args, **kw)
                    if on_result is not None:
                        on_result(s, out, *args)
                    return out
            finally:
                active.discard(traced)

        traced.__wrapped__ = fn
        setattr(owner, attr, property(traced) if isinstance(orig, property)
                else traced)


def install_engine_spans(tracer: Tracer, main_name: str = "t") -> None:
    """Wrap the engine's public layer boundaries in spans. A table
    whose directory is named ``main_name`` is a main table; every other
    merged table is derived."""
    from tap_github_search_spark.streaming import derived, job
    from tap_github_search_spark.table.microlake import MicroLakeTable

    def merge_name(table, batch_df, epoch, *a, **kw):
        role = ("main" if os.path.basename(table.path) == main_name
                else "derived")
        return f"microlake.merge_{role}", epoch, {"table": table.path}

    def merge_result(s, res, *args):
        s.attrs.update(skipped=res.skipped, events_in=res.events_in,
                       rows_applied=res.rows_applied,
                       rows_deleted=res.rows_deleted,
                       buckets_touched=res.buckets_touched)

    tracer.wrap(MicroLakeTable, "merge", merge_name, merge_result)
    tracer.wrap(derived.EpochContext, "root_keys",
                lambda ctx: ("derived.context", ctx.epoch, {}),
                lambda s, out, ctx: s.attrs.update(
                    root_keys=ctx.n_root_keys))
    tracer.wrap(derived.EpochContext, "dirty_live",
                lambda ctx: ("derived.context", ctx.epoch, {}))
    for cls, label in ((derived.RollupMaintainer, "derived.rollup"),
                       (derived.TextIndexMaintainer, "derived.text_index")):
        tracer.wrap(cls, "apply_epoch",
                    lambda m, epoch, *a, _l=label, **kw: (_l, epoch, {}))
    tracer.wrap(job, "discover_schema",
                lambda *a, **kw: ("job.discover_schema", None, {}))


class TriggerLog:
    """Collects each micro-batch's trigger start and ``durationMs``
    through a ``StreamingQueryListener``."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.batches: list[dict] = []
        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if "addBatch" not in p.durationMs:
                    return  # an idle trigger: no batch ran
                log.batches.append({
                    "start": _iso_to_epoch(p.timestamp),
                    "ms": dict(p.durationMs),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)


def _iso_to_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# ------------------------------------------------------------ event log

@dataclass
class Job:
    id: int
    submit: float
    end: float
    stages: list[int]
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    output_mb: float = 0.0
    span: int | None = None


_ACC = {
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1e-6),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1e-6),
    "internal.metrics.output.bytesWritten": ("output_mb", 1e-6),
}


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their stage metrics summed, from the JSON event log
    Spark writes when ``spark.eventLog.enabled`` is set."""
    jobs: dict[int, Job] = {}
    stages: dict[int, dict] = {}
    for path in glob.glob(f"{log_dir}/**/*", recursive=True):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0,
                        list(ev.get("Stage IDs", [])))
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {a.get("Name"): a.get("Value")
                           for a in info.get("Accumulables", [])}
                    m = {"tasks": info.get("Number of Tasks", 0)}
                    for key, (attr, scale) in _ACC.items():
                        m[attr] = float(acc.get(key) or 0) * scale
                    stages[info["Stage ID"]] = m
    for j in jobs.values():
        for sid in j.stages:
            m = stages.get(sid)
            if m is None:  # skipped stage: its output was reused
                continue
            j.tasks += m["tasks"]
            for attr in ("cpu_s", "gc_s", "shuffle_write_mb", "spill_mb",
                         "output_mb"):
                setattr(j, attr, getattr(j, attr) + m[attr])
        if not j.end:
            j.end = j.submit
    return sorted(jobs.values(), key=lambda j: j.submit)


def attribute(jobs: list[Job], spans: list[Span]) -> None:
    """Give each job the innermost span open when it was submitted."""
    for j in jobs:
        best = None
        for s in spans:
            if s.start <= j.submit <= s.end and (
                    best is None or s.start >= best.start):
                best = s
        j.span = best.id if best is not None else None


def busy(jobs: list[Job], start: float, end: float) -> float:
    """Seconds of [start, end] during which at least one job ran."""
    iv = sorted((max(j.submit, start), min(j.end, end)) for j in jobs
                if j.end > start and j.submit < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


class Layers:
    """Per-layer figures from spans and jobs: self time, job counts and
    stage metrics of each span, grouped by benchmark operation."""

    def __init__(self, spans: list[Span], jobs: list[Job]):
        self.spans = spans
        self.jobs = jobs
        attribute(jobs, spans)
        self.by_id = {s.id: s for s in spans}
        self.children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)
        self.jobs_of: dict[int, list[Job]] = {}
        for j in jobs:
            if j.span is not None:
                self.jobs_of.setdefault(j.span, []).append(j)

    def self_time(self, s: Span) -> float:
        return s.dur - sum(c.dur for c in self.children.get(s.id, []))

    def own_jobs(self, s: Span) -> list[Job]:
        return self.jobs_of.get(s.id, [])

    def all_jobs(self, s: Span) -> list[Job]:
        out = list(self.own_jobs(s))
        for c in self.children.get(s.id, []):
            out += self.all_jobs(c)
        return out

    def driver_s(self, s: Span) -> float:
        """Time inside the span with no Spark job running."""
        return s.dur - busy(self.jobs, s.start, s.end)

    def spark_totals(self, start: float, end: float) -> dict:
        js = [j for j in self.jobs if start <= j.submit <= end]
        return {
            "jobs": len(js),
            "tasks": sum(j.tasks for j in js),
            "cpu_s": sum(j.cpu_s for j in js),
            "gc_s": sum(j.gc_s for j in js),
            "shuffle_write_mb": sum(j.shuffle_write_mb for j in js),
            "spill_mb": sum(j.spill_mb for j in js),
            "driver_only_s": (end - start) - busy(self.jobs, start, end),
        }
