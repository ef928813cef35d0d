"""Spans around the package's public functions, recorded from outside.

``Tracer.patch`` replaces a function in every loaded package module that
holds a reference to it (``pipelines`` imports ``transpile_ddl`` by name,
``bulk_load`` imports ``read_table``, the plan modules import
``load_table``), and a method on its class. Each call records a span:
name, start, end and the enclosing span on the same thread. Spans stay
in memory; ``accounting.self_times`` turns them into self time.

``enabled`` switches recording off while the patches stay in place, so
one run can time the same ops untraced and traced.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager

from accounting import JobInfo, Span

PACKAGE = "data_migration_tool_spark"


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # ---- recording ------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Record a span; ``parent`` overrides the thread's enclosing span
        (callbacks that Spark runs on another thread name their parent)."""
        if not self.enabled:
            yield None
            return
        st = self._stack()
        sid = next(self._ids)
        par = parent if parent is not None else (st[-1] if st else None)
        st.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(Span(sid, par, name, t0, t1))

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, name: str, fn: Callable, after: Callable | None = None) -> Callable:
        """``fn`` inside a span; ``after(result)`` records counts."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out)
            return out

        return traced

    # ---- patching -------------------------------------------------------
    def patch(self, fn: Callable, name: str, after: Callable | None = None) -> None:
        """Replace ``fn`` wherever a package module or class binds it."""
        wrapped = self.wrap(name, fn, after)
        hits = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapped)
                    hits += 1
                elif isinstance(val, type) and val.__module__ == mod_name:
                    for cattr, cval in list(vars(val).items()):
                        if cval is fn:
                            setattr(val, cattr, wrapped)
                            hits += 1
        if hits == 0:
            raise LookupError(f"no package module binds {name}")


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------


class SparkCounters:
    """Jobs, stages and tasks from the SparkContext's status store (kept
    with the UI disabled). Job ids are sequential."""

    def __init__(self, spark) -> None:
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def _drain(self) -> None:
        self._bus.waitUntilEmpty()

    def max_job_id(self) -> int:
        self._drain()
        jobs = self._store.jobsList(None)
        best = -1
        for i in range(jobs.size()):
            best = max(best, jobs.apply(i).jobId())
        return best

    def jobs_after(self, job_id: int) -> list[JobInfo]:
        self._drain()
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() > job_id:
                out.append(JobInfo(j.jobId(), j.stageIds().size(), j.numTasks()))
        return out
