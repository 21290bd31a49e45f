"""Span recorder for traced benchmark runs.

A span is (id, name, kind, start, end, parent, thread) in epoch seconds.
While a span is open, the Spark jobs its thread submits carry the job
group ``pb<id>`` (``sc.setJobGroup`` on the calling thread); the previous
group is restored when the span closes, so nested spans and reused pool
threads attribute their jobs correctly. The event-log parser maps job
groups back to spans.

``Tracer.install`` wraps the library's public entry points in place —
``StageCatalog.stage/write/flush``, ``DedupPipeline.run`` and
``IncrementalDedup.bootstrap/append/apply`` — for the life of the
process. Untraced runs never call it.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "pb"
_GROUP_KEY = "spark.jobGroup.id"
_DESC_KEY = "spark.job.description"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op_stack: list[int] = []  # op spans, for spans on threads with no open span
        self.sc = None

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
            parent = stack[-1] if stack else (self._op_stack[-1] if self._op_stack else None)
        sc = self.sc
        prev = None
        if sc is not None:
            prev = (sc.getLocalProperty(_GROUP_KEY), sc.getLocalProperty(_DESC_KEY))
            sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        stack.append(sid)
        if kind == "op":
            with self._lock:
                self._op_stack.append(sid)
        rec = {"id": sid, "name": name, "kind": kind, "parent": parent,
               "thread": threading.current_thread().name, **attrs}
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if kind == "op":
                with self._lock:
                    self._op_stack.remove(sid)
            if sc is not None:
                sc.setLocalProperty(_GROUP_KEY, prev[0])
                sc.setLocalProperty(_DESC_KEY, prev[1])
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, kind: str, start: float, end: float, **attrs) -> None:
        """Record a span timed elsewhere (no jobs are tagged with it)."""
        with self._lock:
            self.spans.append({"id": next(self._ids), "name": name, "kind": kind,
                               "parent": None, "thread": threading.current_thread().name,
                               "start": start, "end": end, **attrs})

    def _wrap(self, cls, method: str, kind: str, name_of) -> None:
        orig = getattr(cls, method)
        tracer = self

        @functools.wraps(orig)
        def wrapper(obj, *args, **kwargs):
            name, attrs = name_of(args)
            with tracer.span(name, kind, **attrs):
                return orig(obj, *args, **kwargs)

        setattr(cls, method, wrapper)

    def install(self) -> None:
        from dedup_spark.catalog import StageCatalog
        from dedup_spark.incremental import IncrementalDedup
        from dedup_spark.pipeline import DedupPipeline

        self._wrap(StageCatalog, "stage", "stage",
                   lambda a: (f"stage:{a[0]}", {"stage": a[0]}))
        self._wrap(StageCatalog, "write", "write",
                   lambda a: (f"write:{a[0]}", {"stage": a[0]}))
        self._wrap(StageCatalog, "flush", "flush", lambda a: ("flush", {}))
        self._wrap(DedupPipeline, "run", "pipeline", lambda a: ("pipeline.run", {}))
        for m in ("bootstrap", "append", "apply"):
            self._wrap(IncrementalDedup, m, "op", lambda a, m=m: (f"incremental.{m}", {"op": m}))
