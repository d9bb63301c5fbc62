"""Spans around calls into the engine's layers, and Spark-side counters.

Spans are recorded only by wrapping public functions inside this benchmark
process; the engine's code is not changed.  ``Tracer.install`` swaps the
wrappers in and ``Tracer.uninstall`` restores the originals, so a traced run
can trace some ops and not others and report its own overhead.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans
    op_id: int | None


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    op_id: int | None = None
    _stack: list[int] = field(default_factory=list)
    _patches: list[tuple[object, str, object]] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    # -- wrapping ---------------------------------------------------------------

    def _wrap_function(self, owner, attr: str, name: str) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def _wrap_property(self, cls: type, attr: str, name: str) -> None:
        orig = cls.__dict__[attr]

        def fget(obj):
            with self.span(name):
                return orig.fget(obj)

        self._patches.append((cls, attr, orig))
        setattr(cls, attr, property(fget, doc=orig.__doc__))

    def install(self, spark_session_cls: type) -> None:
        """Wrap the layer entry points the benchmark's workloads reach."""
        from opteryx_spark import catalog, cursor, rewriter
        from opteryx_spark.operators import dedup, retrieval

        self._wrap_function(rewriter, "rewrite", "rewriter.rewrite")
        self._wrap_function(spark_session_cls, "sql", "spark.sql")
        self._wrap_function(cursor.Cursor, "execute", "cursor.execute")
        self._wrap_function(cursor.Cursor, "fetchall", "cursor.fetchall")
        self._wrap_property(cursor.Cursor, "description", "cursor.description")
        self._wrap_property(cursor.Cursor, "rowcount", "cursor.rowcount")
        self._wrap_function(catalog, "load_table", "catalog.load_table")
        for mod, fn in (
            (dedup, "fuzzy_dedup"),
            (retrieval, "postings_index"),
            (retrieval, "index_stats"),
            (retrieval, "bm25_search"),
        ):
            self._wrap_function(mod, fn, f"operators.{fn}")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- reading spans back --------------------------------------------------------

    def op_spans(self, op_id: int) -> list[tuple[int, Span]]:
        return [(i, s) for i, s in enumerate(self.spans) if s.op_id == op_id]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def layer_ms(spans: list[tuple[int, Span]], match, by_index: dict[int, Span]) -> float:
    """Total time of the outermost spans whose name equals ``match`` (or
    satisfies it, when it is a predicate): a matching span nested in another
    matching span is already counted by its ancestor."""
    hit = match if callable(match) else (lambda name: name == match)
    total = 0.0
    for _, s in spans:
        if not hit(s.name):
            continue
        p = s.parent
        while p is not None and not hit(by_index[p].name):
            p = by_index[p].parent
        if p is None:
            total += s.end - s.start
    return total * 1e3


def self_ms(spans: list[tuple[int, Span]], name: str) -> float:
    """Time of ``name`` spans minus the time of their direct children."""
    own = {i: s for i, s in spans if s.name == name}
    total = sum(s.end - s.start for s in own.values())
    children = sum(s.end - s.start for _, s in spans if s.parent in own)
    return (total - children) * 1e3


class SparkProbe:
    """Counters read from outside the engine: the status tracker under a job
    group the benchmark sets, JVM garbage-collector beans, the persisted-RDD
    table and the JVM's resident-set high-water mark."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.tracker = self.sc.statusTracker()
        proc = getattr(self.sc._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def group_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages that ran tasks, tasks completed) under ``group``."""
        jobs = stages = tasks = 0
        for jid in self.tracker.getJobIdsForGroup(group):
            jobs += 1
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return jobs, stages, tasks

    def gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans)

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def jvm_peak_rss_mb(self) -> float:
        if self.jvm_pid is None:
            return 0.0
        try:
            with open(f"/proc/{self.jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0


def planning_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations of ``df``'s query execution, from Spark's
    ``QueryPlanningTracker`` (whole milliseconds)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
