"""Spans with one Spark job group each, and the stage-metrics reader.

A span is opened by the benchmark around a call into one of the
engine's modules; it sets a job group unique to the span, so every
Spark job the call runs is attributed to the innermost open span.
Metrics are read only after an operation's timer has stopped, from
``sc.statusTracker()`` (the job ids of a group) and the application
status store (``job(id)`` for the call site and times,
``lastStageAttempt(id)`` for the stage metrics). Skipped stages are
dropped: their work ran in an earlier job.
"""

from __future__ import annotations

import ast
import functools
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Stage metrics summed per job, with the status-store getter and the
#: scale to the reported unit.
_STAGE_FIELDS = {
    "cpu_s": ("executorCpuTime", 1e-9),
    "run_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_mb": ("inputBytes", 1e-6),
    "shuffle_read_mb": ("shuffleReadBytes", 1e-6),
    "shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "spill_mb": ("diskBytesSpilled", 1e-6),
    "tasks": ("numTasks", 1),
}

_CALL_SITE = re.compile(r"^(?P<action>\S+) at (?P<file>.*?):(?P<line>\d+)$")


@dataclass
class Job:
    job_id: int
    action: str
    file: str
    function: str
    wall_s: float
    stages: int
    metrics: dict


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    group: str
    t0: float
    t1: float = 0.0
    jobs: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans while ``enabled``; a disabled tracer costs one
    attribute test per wrapped call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0
        self._functions: dict[str, list] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        s = Span(
            self._n, name, parent.sid if parent else None,
            f"perfbench-{id(self):x}-{self._n}", time.perf_counter(),
        )
        self.sc.setJobGroup(s.group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)

    @contextmanager
    def active(self, on: bool):
        """Record spans and call sites for one operation when ``on``."""
        if not on:
            yield
            return
        self.enabled = True
        try:
            with call_sites(self.sc):
                yield
        finally:
            self.enabled = False

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def take(self) -> list[Span]:
        """Spans closed since the last call, with their jobs read from
        the status store. Call only after the timed region."""
        spans, self.spans = self.spans, []
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in spans:
            for jid in sorted(tracker.getJobIdsForGroup(s.group)):
                s.jobs.append(self._job(store, tracker, jid))
        return spans

    def _job(self, store, tracker, jid: int) -> Job:
        jd = store.job(jid)
        m = _CALL_SITE.match(jd.name() or "")
        action, path, line = (
            (m["action"], m["file"], int(m["line"])) if m else (jd.name(), "", 0)
        )
        try:
            wall = (
                jd.completionTime().get().getTime()
                - jd.submissionTime().get().getTime()
            ) / 1e3
        except Exception:  # a job without both times reports no wall time
            wall = 0.0
        metrics = dict.fromkeys(_STAGE_FIELDS, 0.0)
        n_stages = 0
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # never attempted: skipped
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            n_stages += 1
            for key, (getter, scale) in _STAGE_FIELDS.items():
                metrics[key] += getattr(sd, getter)() * scale
        return Job(jid, action, path.rsplit("/", 1)[-1], self._function(path, line),
                   wall, n_stages, metrics)

    def _function(self, path: str, line: int) -> str:
        """Name of the innermost function of ``path`` that holds
        ``line``: a call site that survives edits elsewhere in the file."""
        if not path:
            return ""
        if path not in self._functions:
            try:
                with open(path, encoding="utf-8") as f:
                    tree = ast.parse(f.read())
            except (OSError, SyntaxError):
                tree = None
            self._functions[path] = [
                (n.lineno, n.end_lineno, n.name)
                for n in (ast.walk(tree) if tree is not None else ())
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
        best = ""
        width = None
        for lo, hi, name in self._functions[path]:
            if lo <= line <= hi and (width is None or hi - lo < width):
                best, width = name, hi - lo
        return best


@contextmanager
def call_sites(sc):
    """Give the engine's count, isEmpty, localCheckpoint, parquet reads
    (file listing and schema jobs) and parquet or noop writes the Python
    call site Spark records for ``collect``.

    PySpark sets the call site only around ``collect``-style actions,
    so the other actions arrive named after a JVM frame and cannot be
    told apart. The wrapper sets ``"<action> at <file>:<line>"`` from
    the calling frame, which is how ``count at woo_flow.py:386`` stays
    separate from the upsert probe jobs in a trace."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    def wrap(owner, name):
        orig = getattr(owner, name)

        def with_site(*args, **kwargs):
            caller = sys._getframe(1)
            sc._jsc.setCallSite(
                f"{name} at {caller.f_code.co_filename}:{caller.f_lineno}"
            )
            try:
                return orig(*args, **kwargs)
            finally:
                sc._jsc.setCallSite(None)

        return owner, name, orig, with_site

    targets = [
        wrap(DataFrame, "count"),
        wrap(DataFrame, "isEmpty"),
        wrap(DataFrame, "localCheckpoint"),
        wrap(DataFrameReader, "parquet"),
        wrap(DataFrameWriter, "parquet"),
        wrap(DataFrameWriter, "save"),
    ]
    try:
        for owner, name, _, new in targets:
            setattr(owner, name, new)
        yield
    finally:
        for owner, name, orig, _ in targets:
            setattr(owner, name, orig)


def self_time(span: Span, spans: list[Span]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    kids = sorted((c.t0, c.t1) for c in spans if c.parent == span.sid)
    covered, end = 0.0, span.t0
    for a, b in kids:
        a, b = max(a, end), min(b, span.t1)
        if b > a:
            covered += b - a
            end = b
    return span.wall_s - covered


def breakdown(spans: list[Span]) -> dict:
    """Where the traced time went: per span name, calls, wall and self
    seconds and the summed metrics of the jobs run in it; per call site
    (``action@file:function``), jobs, wall seconds and CPU seconds."""
    by_span: dict = {}
    by_site: dict = {}
    for s in spans:
        row = by_span.setdefault(s.name, {"calls": 0, "wall_s": 0.0, "self_s": 0.0,
                                          "jobs": 0, "stages": 0,
                                          **dict.fromkeys(_STAGE_FIELDS, 0.0)})
        row["calls"] += 1
        row["wall_s"] += s.wall_s
        row["self_s"] += self_time(s, spans)
        row["jobs"] += len(s.jobs)
        row["stages"] += sum(j.stages for j in s.jobs)
        for key in _STAGE_FIELDS:
            row[key] += total(s.jobs, key)
        for j in s.jobs:
            site = by_site.setdefault(f"{j.action}@{j.file}:{j.function}",
                                      {"jobs": 0, "wall_s": 0.0, "cpu_s": 0.0})
            site["jobs"] += 1
            site["wall_s"] += j.wall_s
            site["cpu_s"] += j.metrics["cpu_s"]
    rounded = lambda d: {k: round(v, 4) for k, v in d.items()}  # noqa: E731
    return {"spans": {k: rounded(v) for k, v in by_span.items()},
            "call_sites": {k: rounded(v) for k, v in by_site.items()}}


def subtree(root: Span, spans: list[Span]) -> list[Span]:
    """``root`` and every span below it."""
    out, frontier = [root], [root.sid]
    while frontier:
        kids = [s for s in spans if s.parent in frontier]
        out.extend(kids)
        frontier = [s.sid for s in kids]
    return out


def jobs_of(spans: list[Span]) -> list[Job]:
    return [j for s in spans for j in s.jobs]


def total(jobs: list[Job], key: str) -> float:
    return sum(j.metrics[key] for j in jobs)


@contextmanager
def patched(targets: list[tuple]):
    """Temporarily replace ``(owner, attribute, replacement)`` triples."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, new in targets:
            setattr(owner, attr, new)
        yield
    finally:
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)


class ModuleProxy:
    """Stands in for a module at one import site: the listed functions
    are wrapped in spans, every other attribute is the module's own."""

    def __init__(self, module, tracer: Tracer, names: list[str], prefix: str):
        self._module = module
        self._wrapped = {n: tracer.wrap(f"{prefix}.{n}", getattr(module, n)) for n in names}

    def __getattr__(self, name):
        if name in self._wrapped:
            return self._wrapped[name]
        return getattr(self._module, name)


class SessionProbe:
    """JVM-wide counters read between operations: GC time from the
    garbage-collector beans, persisted RDDs left behind, and peak
    resident memory of the JVM and of this Python process."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def peak_rss_mb(self) -> float:
        import resource

        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        jvm = 0.0
        try:
            with open(f"/proc/{self.pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm = int(line.split()[1]) / 1024
        except OSError:
            pass
        return py + jvm
