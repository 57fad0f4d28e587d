"""In-memory spans for the traced run.

A span is (id, name, start, end, parent, op): ``parent`` is the id of the
span that caused it, ``op`` groups the spans of one benchmark operation
(one request, one query run, one backfill). Spans are kept in a list and
written as JSON once, when the run ends. Untraced runs use ``NULL``, whose
``span`` is a shared no-op context manager.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, op=None):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": t0, "end": t1, "parent": parent, "op": op}
                )

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds. Self time is the
        span's duration minus the part of it that its children cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        agg: dict[str, dict] = defaultdict(lambda: {"count": 0, "total_s": 0.0, "self_s": 0.0})
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, edge, s["start"]), min(b, s["end"])
                if b > a:
                    covered += b - a
                    edge = b
            a = agg[s["name"]]
            a["count"] += 1
            a["total_s"] += s["end"] - s["start"]
            a["self_s"] += s["end"] - s["start"] - covered
        return dict(agg)

    def report(self) -> str:
        rows = sorted(self.self_times().items(), key=lambda kv: -kv[1]["self_s"])
        lines = [f"{'span':<44}{'count':>7}{'total_s':>11}{'self_s':>11}"]
        lines += [f"{k:<44}{v['count']:>7}{v['total_s']:>11.3f}{v['self_s']:>11.3f}" for k, v in rows]
        return "\n".join(lines)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans, "self_times": self.self_times()}, f)


class _NullTracer:
    _null = contextlib.nullcontext()

    def span(self, name: str, op=None):
        return self._null


NULL = _NullTracer()


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


@contextlib.contextmanager
def patched(targets):
    """Temporarily replace ``module.attr`` with ``make(original)`` for each
    (module, attr, make) in ``targets``; the originals come back on exit."""
    saved = [(m, a, getattr(m, a)) for m, a, _ in targets]
    try:
        for (m, a, make), (_, _, orig) in zip(targets, saved):
            setattr(m, a, make(orig))
        yield
    finally:
        for m, a, orig in saved:
            setattr(m, a, orig)


def spanned(tracer, name: str):
    """``make`` for :func:`patched`: wrap a callable in a span."""
    import functools

    def make(orig):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)
        return wrapper
    return make
