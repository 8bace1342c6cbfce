"""Span recorder for the traced benchmark run.

Spans are recorded from the benchmark's side only: ``Tracer.patched``
swaps a public function of the program for a wrapper that opens a span,
calls the original and, where the function returns a lazy DataFrame,
forces it (cache + count) before the span closes, so the work lands in the
layer that planned it. Spans live in memory and are written out once, when
the run ends.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict = defaultdict(float)  # (op, name) -> value
        self.op = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        self.counts[(self.op, name)] += value

    def wrap(self, name: str, fn, force=None, counter: str | None = None):
        """``fn`` inside a span; ``force(result)`` runs inside the same span
        and returns (result, count) — the count is recorded as ``counter``."""

        def wrapper(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if force is not None:
                    out, n = force(out)
                    if counter:
                        self.count(counter, n)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    @contextlib.contextmanager
    def patched(self, targets):
        """targets: (owner, attr, span_name, force, counter) tuples. Each
        attribute is restored on exit."""
        saved = []
        try:
            for owner, attr, name, force, counter in targets:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(name, orig, force, counter))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": self.spans,
                 "counts": [{"op": op, "name": n, "value": v}
                            for (op, n), v in sorted(self.counts.items(), key=str)]},
                f,
            )


def force_df(df):
    """Materialize a lazy DataFrame at the layer boundary."""
    df = df.cache()
    return df, df.count()


def force_sized(obj):
    """For results that are already materialized: record their length."""
    return obj, len(obj)


def self_times(spans: list[dict]) -> list[dict]:
    """Each span's duration minus the part its direct children cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [
        {**s, "dur": s["end"] - s["start"], "self": s["end"] - s["start"] - child[s["id"]]}
        for s in spans
    ]


def per_op(spans: list[dict], select) -> list[float]:
    """Per operation: sum of ``select(span)`` over its spans (None skips)."""
    totals = defaultdict(float)
    ops = {s["op"] for s in spans}
    for s in spans:
        v = select(s)
        if v is not None:
            totals[s["op"]] += v
    return [totals[o] for o in sorted(ops, key=str)]


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def layer_table(spans: list[dict]) -> dict:
    """span name -> median per-operation self time (s)."""
    timed = self_times(spans)
    names = sorted({s["name"] for s in timed})
    return {
        n: median_or_zero(per_op(timed, lambda s, n=n: s["self"] if s["name"] == n else None))
        for n in names
    }
