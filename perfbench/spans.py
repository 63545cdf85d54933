"""Spans around calls into the program, for the traced run only.

A :class:`Tracer` records spans (name, start, end, parent, operation)
in memory and writes them out when the run ends.  It instruments the
program from the outside: :meth:`Tracer.wrap` replaces a public function
or method with a wrapper that opens a span, and :meth:`Tracer.restore`
puts every original back.  Nothing is installed in the timed run.

Each benchmark operation runs under its own Spark job group, set on the
thread that runs it (for ``ltcv_serve`` the HTTP handler thread, bound
through :meth:`Tracer.bind`), and every span sets a ``perfbench.span``
local property, so the event log ties each job to its operation and to
the innermost span that submitted it (see :mod:`eventlog`).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict

from eventlog import GROUP_PROP, SPAN_PROP, union_length


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.peaks: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []
        self._op_roots: dict[str, str] = {}

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[tuple[str | None, str | None, str]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _new_id(self, prefix: str) -> str:
        with self._lock:
            return f"{prefix}{next(self._ids)}"

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        stack = self._stack()
        parent, cur_op, _ = stack[-1] if stack else (None, None, "")
        op = op or cur_op
        sid = self._new_id("s")
        stack.append((sid, op, name))
        self.sc.setLocalProperty(SPAN_PROP, sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, stack[-1][0] if stack else None)
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "op": op, "parent": parent,
                     "start": start, "end": end, "thread": threading.get_ident()}
                )

    @contextlib.contextmanager
    def op(self, kind: str):
        """Root span of one operation, with its own job group on the
        calling thread.  Yields the operation id."""
        op_id = self._new_id("op")
        self.sc.setJobGroup(op_id, kind, interruptOnCancel=False)
        try:
            with self.span(f"op.{kind}", op=op_id) as sid:
                self._op_roots[op_id] = sid
                yield op_id
        finally:
            self.sc.setLocalProperty(GROUP_PROP, None)

    @contextlib.contextmanager
    def bind(self, op_id: str):
        """Continue operation ``op_id`` on another thread (the HTTP
        handler serving the client's request)."""
        stack = self._stack()
        stack.append((self._op_roots.get(op_id), op_id, "op"))
        self.sc.setJobGroup(op_id, "handler", interruptOnCancel=False)
        try:
            with self.span("webserver.handle"):
                yield
        finally:
            stack.pop()
            self.sc.setLocalProperty(GROUP_PROP, None)
            self.sc.setLocalProperty(SPAN_PROP, None)

    def open_names(self) -> list[str]:
        """Names of the spans open on the calling thread, outermost first."""
        return [name for _, _, name in self._stack()]

    # -- counters ------------------------------------------------------------

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counters[name] += value

    def peak(self, name: str, value: float) -> None:
        with self._lock:
            self.peaks[name] = max(self.peaks[name], value)

    # -- instrumentation -----------------------------------------------------

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper; ``after(result)``
        runs inside the span once the call returns."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
                if after is not None:
                    after(out)
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def replace(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` with ``make(original)``."""
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def wrap_lock(self, module) -> None:
        """Time how long ``module.table_write_lock`` callers wait to
        acquire the lock."""
        tracer = self

        def make(orig):
            @contextlib.contextmanager
            def traced_lock(path, *a, **k):
                t0 = time.perf_counter()
                with orig(path, *a, **k):
                    tracer.add("locks.wait_s", time.perf_counter() - t0)
                    yield

            return traced_lock

        self.replace(module, "table_write_lock", make)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- analysis ------------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it that its children cover."""
        kids: dict[str, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = union_length(
                [(max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(s["id"], ())
                 if min(b, s["end"]) > max(a, s["start"])]
            )
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str, summary: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"summary": summary, "self_time_s": self.self_times(),
                       "spans": self.spans}, f)

