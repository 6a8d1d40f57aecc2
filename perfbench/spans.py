"""In-memory spans around calls into the engine's public functions.

A span is ``(name, layer, start, end, parent, stmt)``; spans nest by
call stack on the thread that opened them.  Self time is a span's
duration minus the part of its interval that its child spans cover.

``install_hooks`` wraps the named engine functions from outside: each
name is replaced on every ``adt_spark`` module that binds it, which
covers the lazy ``from … import`` inside callers (they read the
module attribute at call time) and the module-level imports made
before the hook went in.  ``remove_hooks`` restores the originals.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from dataclasses import dataclass

#: (module, attribute, layer, span name) of every hooked function.
HOOKS = (
    ("adt_spark.context", "ADTContext.sql", "context", "context.sql"),
    ("adt_spark.context", "register_sf_tables", "context", "context.register"),
    ("adt_spark.sources.registry", "register_table", "context", "context.register"),
    ("adt_spark.dialect.translate", "translate_sql", "dialect", "dialect.translate"),
    ("adt_spark.dialect.window_frames", "rewrite_window_frames", "dialect", "dialect.window_frames"),
    ("adt_spark.dialect.keyed_windows", "compress_keyed_windows", "dialect", "dialect.keyed_windows"),
    ("adt_spark.dialect.global_rank", "maybe_rewrite_global_rank", "dialect", "dialect.global_rank"),
    ("adt_spark.sources.delta_native", "replay_snapshot", "sources", "sources.delta.replay"),
    ("adt_spark.sources.delta_native", "read_delta_native", "sources", "sources.delta.read"),
    ("adt_spark.sources.delta_native_write", "write_delta_native", "sources", "sources.delta.commit"),
    ("adt_spark.sources.delta_dml", "execute_delta_dml", "sources", "sources.delta.commit"),
    ("adt_spark.sources.delta_native_write", "write_checkpoint", "sources", "sources.delta.checkpoint"),
)

#: Dialect passes whose return value says whether they fired.
_PASSES = {
    "dialect.window_frames": "changed",
    "dialect.keyed_windows": "none_refuses",
    "dialect.global_rank": "none_refuses",
}


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    stmt: int | None
    outcome: str = ""  # "fired" / "refused" for dialect passes
    count: int = 0  # a per-call counter (``Tracer.counters``)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the union of its children's
    intervals, clipped to the span (children on other threads may
    overlap each other)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(i, ())):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


class Tracer:
    """Collects spans; ``stmt`` tags every span with the statement the
    benchmark loop is running."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stmt: int | None = None
        self.enabled = True
        #: span name -> fn(args, result) giving the span's ``count``
        self.counters: dict = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, layer: str) -> int:
        stack = self._stack()
        span = Span(name, layer, time.perf_counter(), 0.0, stack[-1] if stack else None, self.stmt)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def close(self, idx: int, outcome: str = "", count: int = 0) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        span.outcome, span.count = outcome, count
        self._stack().pop()

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def wrap(self, fn, name: str, layer: str):
        mode = _PASSES.get(name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.open(name, layer)
            outcome, count = "", 0
            try:
                result = fn(*args, **kwargs)
                if mode == "changed":
                    outcome = "fired" if result != args[0] else "refused"
                elif mode == "none_refuses":
                    outcome = "refused" if result is None else "fired"
                if name in self.counters:
                    count = self.counters[name](args, result)
                return result
            finally:
                self.close(idx, outcome, count)

        return traced

    def install_hooks(self) -> None:
        for modname, *_rest in HOOKS:
            importlib.import_module(modname)
        for modname, attr, layer, name in HOOKS:
            mod = sys.modules[modname]
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._saved.append((cls, meth, orig))
                setattr(cls, meth, self.wrap(orig, name, layer))
                continue
            orig = getattr(mod, attr)
            wrapped = self.wrap(orig, name, layer)
            for other in list(sys.modules.values()):
                if getattr(other, "__name__", "").startswith("adt_spark") and (
                    vars(other).get(attr) is orig
                ):
                    self._saved.append((other, attr, orig))
                    setattr(other, attr, wrapped)

    def remove_hooks(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str) -> None:
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        self.idx = self.tracer.open(self.name, self.layer)
        return self

    def __exit__(self, *exc):
        self.tracer.close(self.idx)
        return False
