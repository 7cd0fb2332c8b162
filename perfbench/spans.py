"""In-memory span recorder plus the wrappers that put spans around
each layer's public functions, and the statistics the benchmark
reports (tail-percentile rule, span self time).

A span is ``(id, name, layer, start, end, parent, op)``.  Its parent
is the innermost open span on the same thread; a span opened on a
thread with no open span (the engine materializes independent models
on a thread pool) takes the current operation's root span as parent.
Self time is a span's duration minus the part of it that its children
cover, so parallel children are not subtracted twice.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from collections import defaultdict

PKG = "iot_simulator_datalake_spark"


# -- statistics -------------------------------------------------------------

def tail_index(n: int, beyond: int = 10) -> int | None:
    """0-based rank of the highest sample that still has ``beyond``
    samples above it, or None when there are too few samples."""
    return n - beyond - 1 if n > beyond else None


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """(value, percentile, sample count) of the highest percentile that
    has at least ``beyond`` samples beyond it.  With too few samples the
    maximum is returned at percentile 100."""
    s = sorted(values)
    i = tail_index(len(s), beyond)
    if i is None:
        return s[-1], 100.0, len(s)
    return s[i], 100.0 * (i + 1) / len(s), len(s)


def median(values: list[float]) -> float:
    s = sorted(values)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[tuple]) -> dict[int, float]:
    """span id → duration minus the union of its children's intervals
    (clipped to the span)."""
    kids: dict[int, list] = defaultdict(list)
    for sid, _n, _l, a, b, parent, _op in spans:
        if parent is not None:
            kids[parent].append((a, b))
    out = {}
    for sid, _n, _l, a, b, _p, _op in spans:
        cover = union_length([(max(a, x), min(b, y))
                              for x, y in kids.get(sid, ()) if y > a and x < b])
        out[sid] = (b - a) - cover
    return out


# -- span recorder ----------------------------------------------------------

class Tracer:
    """Collects spans in memory; ``enabled=False`` makes every call a
    no-op so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self.op_root: int | None = None
        self.op_id: str | None = None

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, layer: str) -> tuple | None:
        if not self.enabled:
            return None
        st = self._stack()
        parent = st[-1] if st else self.op_root
        with self._lock:
            sid = self._next
            self._next += 1
        st.append(sid)
        return sid, name, layer, time.monotonic(), parent, self.op_id

    def end(self, tok: tuple | None) -> None:
        if tok is None:
            return
        t1 = time.monotonic()
        sid, name, layer, t0, parent, op = tok
        st = self._stack()
        if st and st[-1] == sid:
            st.pop()
        with self._lock:
            self.spans.append((sid, name, layer, t0, t1, parent, op))

    def span(self, name: str, layer: str):
        return _Span(self, name, layer)

    def op(self, op_id: str, name: str):
        """Root span of one benchmark operation (a query, a refresh)."""
        return _Op(self, op_id, name)

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[key] += n

    def name_total(self, name: str) -> float:
        return sum(s[4] - s[3] for s in self.spans if s[1] == name)


class _Span:
    __slots__ = ("tr", "name", "layer", "tok")

    def __init__(self, tr, name, layer):
        self.tr, self.name, self.layer = tr, name, layer

    def __enter__(self):
        self.tok = self.tr.begin(self.name, self.layer)
        return self

    def __exit__(self, *exc):
        self.tr.end(self.tok)
        return False


class _Op(_Span):
    __slots__ = ("op_id", "prev")

    def __init__(self, tr, op_id, name):
        super().__init__(tr, name, "bench")
        self.op_id = op_id

    def __enter__(self):
        tr = self.tr
        self.prev = (tr.op_root, tr.op_id)
        tr.op_id = self.op_id
        self.tok = tr.begin(self.name, self.layer)
        if self.tok is not None:
            tr.op_root = self.tok[0]
        return self

    def __exit__(self, *exc):
        self.tr.end(self.tok)
        self.tr.op_root, self.tr.op_id = self.prev
        return False


def span_cost(n: int = 20000) -> float:
    """Seconds one enter/exit pair of a span costs on this host."""
    tr = Tracer(True)
    t0 = time.monotonic()
    for _ in range(n):
        with tr.span("x", "x"):
            pass
    return (time.monotonic() - t0) / n


# -- wrappers ---------------------------------------------------------------

def wrap(tracer: Tracer, fn, name: str, layer: str, on_return=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tracer.count(f"{layer}.calls")
        tok = tracer.begin(name, layer)
        try:
            out = fn(*args, **kwargs)
        finally:
            tracer.end(tok)
        if on_return is not None:
            on_return(out)
        return out
    return wrapper


def rebind(original, replacement) -> int:
    """Point every package module's binding of ``original`` at
    ``replacement`` (a ``from x import f`` copies the name at import
    time, so patching the defining module alone misses those callers).
    Returns the number of bindings replaced."""
    n = 0
    for mname, mod in list(sys.modules.items()):
        if not (mname == PKG or mname.startswith(PKG + ".")) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)
                n += 1
    return n


def wrap_module_functions(tracer: Tracer, module, layer: str) -> int:
    """Wrap every public function defined in ``module``."""
    n = 0
    for attr, fn in list(vars(module).items()):
        if (attr.startswith("_") or not inspect.isfunction(fn)
                or fn.__module__ != module.__name__):
            continue
        n += rebind(fn, wrap(tracer, fn, f"{layer}.{attr}", layer))
    return n


def wrap_method(tracer: Tracer, cls, attr: str, name: str, layer: str,
                on_return=None) -> None:
    fn = getattr(cls, attr)
    setattr(cls, attr, wrap(tracer, fn, name, layer, on_return))
