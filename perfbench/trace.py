"""Spans for the traced run, recorded from outside the engine.

A :class:`Tracer` patches module attributes (the engine's public functions
and methods, and py4j's ``send_command``) with wrappers that open a span
around each call. Spans carry a name, start, end, parent span and the id
of the benchmark op they belong to. They are kept in memory; the caller
writes them out at exit with :meth:`Tracer.dump`.

py4j round trips are too many to record one span each (thousands per
commit), so each span counts its own py4j calls and the time they waited
instead; that time is reported as the ``py4j`` layer.

``run_jobs`` runs thunks on pool threads, which have no current span. The
wrapper from :meth:`Tracer.wrap_run_jobs` gives each thunk a span whose
parent is the ``run_jobs`` span, so their work is attributed and their
overlap is measured.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager

_clock = time.perf_counter


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "py4j_s", "py4j_n", "sid")

    def __init__(self, sid, name, start, parent, op):
        self.sid = sid
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.op = op
        self.py4j_s = 0.0
        self.py4j_n = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    def as_dict(self) -> dict:
        return {
            "id": self.sid,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": self.parent,
            "op": self.op,
            "py4j_s": self.py4j_s,
            "py4j_n": self.py4j_n,
        }


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of it that its
    child spans cover, minus the py4j wait recorded on it (never below 0).
    Children of one span may overlap (pool threads); their union counts."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            [(c.start, c.end) for c in kids.get(s.sid, ())], s.start, s.end
        )
        out[s.sid] = max(0.0, s.end - s.start - covered - s.py4j_s)
    return out


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.op: int | None = None

    # -- spans -------------------------------------------------------------
    def current(self) -> Span | None:
        return getattr(self._local, "span", None)

    def _open(self, name: str, parent: Span | None) -> Span:
        with self._lock:
            s = Span(len(self.spans), name, _clock(), parent.sid if parent else None, self.op)
            self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, parent: Span | None = None):
        prev = self.current()
        s = self._open(name, parent if parent is not None else prev)
        self._local.span = s
        try:
            yield s
        finally:
            s.end = _clock()
            self._local.span = prev

    # -- patching ----------------------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a function or method) with one that runs
        inside a span called ``name``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **k):
            with tracer.span(name):
                return orig(*a, **k)

        self._patch(owner, attr, traced)

    def wrap_run_jobs(self, module, name: str = "concurrency.run_jobs") -> None:
        """Wrap the ``run_jobs`` name bound in ``module``: a span for the
        call, and one ``concurrency.thunk`` span per thunk on its thread."""
        orig = module.run_jobs
        tracer = self

        def thunk_in(parent: Span, thunk):
            def run():
                with tracer.span("concurrency.thunk", parent=parent):
                    return thunk()

            return run

        @functools.wraps(orig)
        def traced(*thunks, **k):
            with tracer.span(name) as s:
                return orig(*[thunk_in(s, t) for t in thunks], **k)

        self._patch(module, "run_jobs", traced)

    def wrap_py4j(self) -> None:
        """Count py4j round trips and their wait on the calling thread's
        current span. Calls on threads without a span (listener callbacks,
        the benchmark's own bookkeeping) are not counted."""
        from py4j import clientserver, java_gateway

        tracer = self
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, _orig=orig, **k):
                s = tracer.current()
                if s is None:
                    return _orig(conn, command, *a, **k)
                t0 = _clock()
                try:
                    return _orig(conn, command, *a, **k)
                finally:
                    s.py4j_s += _clock() - t0
                    s.py4j_n += 1

            self._patch(cls, "send_command", send_command)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- output ------------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)


def op_breakdown(spans: list[Span], op_span: Span) -> dict[str, float]:
    """Self time per layer inside one op, plus ``py4j`` wait and the
    ``unattributed`` part of the op that no child span covers. The op
    span's own layer is not a layer of the program, so its self time is
    what ``unattributed`` reports."""
    inside = [s for s in spans if s.op == op_span.op and s.sid != op_span.sid]
    st = self_times([op_span, *inside])
    out: dict[str, float] = {"py4j": op_span.py4j_s}
    for s in inside:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.sid]
        out["py4j"] += s.py4j_s
    out["unattributed"] = st[op_span.sid]
    return out
