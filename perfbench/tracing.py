"""Per-layer tracing from outside the program.

The tracer replaces the public functions of each layer module with a
timing wrapper for the length of one traced pass, and patches every
module of the package that imported the same function by name (the
orchestrator's ``migrate_container``, ``verify_migration`` and
``merge_to_parquet``, the registry's ``load_table`` and operators).
Each span on the driver's main thread sets a Spark job group, so every
job the span starts can be read back from Spark's own status store
(``sc._jsc.sc().statusStore()``) together with its stage metrics. Jobs
started elsewhere (a streaming query's own thread) are attributed by
time to the innermost main-thread span open when they were submitted;
the rest are reported as unattributed.

Spans stay in memory and are written out by the caller at exit.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "sync_cosmos_db_spark"

#: layer name -> modules whose public functions make up the layer
LAYER_MODULES = {
    "session": [f"{PKG}.session"],
    "sources.catalog": [f"{PKG}.sources.catalog"],
    "document_model": [f"{PKG}.document_model"],
    "migration": [f"{PKG}.migration"],
    "sanitizer": [f"{PKG}.sanitizer"],
    "sinks": [f"{PKG}.sinks"],
    "orchestrator": [f"{PKG}.orchestrator"],
    "cache_scope": [f"{PKG}.cache_scope"],
    "operators": [f"{PKG}.operators."],
    "streaming": [f"{PKG}.streaming."],
}


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: str | None
    main: bool
    t0: float
    wall0_ms: float
    t1: float = 0.0
    jobs: list[int] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


def _layer_of(module_name: str) -> str | None:
    for layer, prefixes in LAYER_MODULES.items():
        for p in prefixes:
            if module_name == p or (p.endswith(".")
                                    and module_name.startswith(p)):
                return layer
    return None


class Tracer:
    """Spans around layer calls, with Spark job groups per span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, layer: str) -> Span:
        stack = self._stack()
        main = threading.get_ident() == self._main
        span = Span(f"pb-{next(self._ids)}", name, layer,
                    stack[-1].id if stack else None, main,
                    time.perf_counter(), time.time() * 1000.0)
        if main:
            span.attrs["_prev_group"] = self.sc.getLocalProperty(
                "spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", span.id)
        stack.append(span)
        self.spans.append(span)
        return span

    def end(self, span: Span) -> None:
        span.t1 = time.perf_counter()
        self._stack().pop()
        if span.main:
            self.sc.setLocalProperty("spark.jobGroup.id",
                                     span.attrs.pop("_prev_group"))

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        span = self.begin(name, layer)
        try:
            yield span
        finally:
            self.end(span)

    # -- wrapping ----------------------------------------------------------

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer.begin(name, layer)
            try:
                out = fn(*args, **kwargs)
                span.attrs["result"] = _summary(out)
                if name == "sinks.merge_to_parquet" and len(args) > 1:
                    span.attrs["path"] = args[1]
                return out
            except BaseException as exc:
                span.attrs["error"] = type(exc).__name__
                raise
            finally:
                tracer.end(span)

        return traced

    def install(self) -> None:
        """Wrap every public function of every layer module, and patch
        each package module that holds the same function object."""
        wrappers: dict[int, object] = {}
        pkg_modules = [m for n, m in list(sys.modules.items())
                       if m is not None and (n == PKG
                                             or n.startswith(PKG + "."))]
        for mod in pkg_modules:
            layer = _layer_of(mod.__name__)
            if layer is None:
                continue
            short = mod.__name__[len(PKG) + 1:].split(".")[-1]
            for attr, obj in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(obj)
                        or obj.__module__ != mod.__name__):
                    continue
                name = (f"{layer}.{attr}" if layer not in
                        ("operators", "streaming")
                        else f"{layer}.{short}.{attr}")
                wrappers[id(obj)] = self._wrap(obj, name, layer)
        for mod in pkg_modules:
            for attr, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None:
                    self._patched.append((mod, attr, obj))
                    setattr(mod, attr, w)

    def uninstall(self) -> None:
        while self._patched:
            mod, attr, obj = self._patched.pop()
            setattr(mod, attr, obj)

    # -- Spark status store --------------------------------------------------

    def attribute_jobs(self, jobs: list[dict]) -> int:
        """Assign each job to a span; returns the unattributed count."""
        by_id = {s.id: s for s in self.spans}
        main = [s for s in self.spans if s.main]
        unattributed = 0
        for job in jobs:
            span = by_id.get(job["group"])
            if span is None:
                # innermost main-thread span open at submission
                inside = [s for s in main
                          if s.wall0_ms <= job["submitted_ms"]
                          <= s.wall0_ms + s.ms]
                span = max(inside, key=lambda s: s.wall0_ms, default=None)
            if span is None:
                unattributed += 1
            else:
                span.jobs.append(job["id"])
        return unattributed


def _summary(out):
    """Keep the small results a metric needs (counts), never DataFrames
    or JVM handles."""
    from sync_cosmos_db_spark.migration import MigrationResult

    if isinstance(out, tuple) and out:
        out = out[-1]
    if isinstance(out, int) and not isinstance(out, bool):
        return out
    if isinstance(out, MigrationResult):
        return {"inserted": out.inserted, "updated": out.updated,
                "skipped": out.skipped, "errors": out.errors}
    return None


def read_jobs(sc, after_job_id: int) -> tuple[list[dict], dict[int, dict]]:
    """Jobs newer than ``after_job_id`` and the stages they ran, from the
    status store (works with ``spark.ui.enabled=false``)."""
    from py4j.protocol import Py4JJavaError

    store = sc._jsc.sc().statusStore()
    seq = store.jobsList(None)
    jobs, stages = [], {}
    for i in range(seq.length()):
        j = seq.apply(i)
        jid = j.jobId()
        if jid <= after_job_id:
            continue
        group = j.jobGroup()
        sids = j.stageIds()
        ids = [sids.apply(k) for k in range(sids.length())]
        jobs.append({"id": jid,
                     "group": group.get() if group.isDefined() else None,
                     "submitted_ms": j.submissionTime().get().getTime()})
        for sid in ids:
            if sid in stages:
                continue
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the store
                continue
            if str(s.status()) != "COMPLETE":
                continue
            stages[sid] = {
                "tasks": s.numCompleteTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ms": s.executorCpuTime() / 1e6,
                "shuffle_write": s.shuffleWriteBytes(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
    return jobs, stages


def last_job_id(sc) -> int:
    seq = sc._jsc.sc().statusStore().jobsList(None)
    return max((seq.apply(i).jobId() for i in range(seq.length())),
               default=-1)
