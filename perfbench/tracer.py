"""Spans recorded by the benchmark around its calls into the system's layers.

Each span sets a Spark job group (``pb-<span id>``) on the calling thread for
its duration, so the event log names the span that caused every job. Spans
are kept in memory and written once, when the run ends. A thread with no
open span of its own (a write-pool thread) parents its spans to the
innermost span open on the main thread.

``NullTracer`` is the untraced run's stand-in: same interface, no work.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

from ledger import GROUP_PREFIX

_GROUP_KEY = "spark.jobGroup.id"


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}

    def patch(self, owner, attr: str, name: str) -> None:
        pass

    def restore(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "thread": threading.current_thread().name, **attrs}
        prev_group = self.sc.getLocalProperty(_GROUP_KEY)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.sc.setLocalProperty(_GROUP_KEY, prev_group)
            with self._lock:
                self.spans.append(rec)

    def patch(self, owner, attr: str, name: str, wrapper=None) -> None:
        """Replace ``owner.attr`` (a module function, a class's method or an
        instance's method) with a wrapper that records a span per call, or
        with ``wrapper`` when given; ``restore`` undoes every patch."""
        fn = getattr(owner, attr)

        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, vars(owner).get(attr)))
        setattr(owner, attr, wrapper or wrapped)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), fh)
