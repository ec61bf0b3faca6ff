"""Span tracer and the statistics the benchmark reports.

Spans live in memory (name, layer, start, end, parent, op id, counts)
and are written out once, when the run ends. A layer's self time is the
summed duration of its spans minus the part covered by their child
spans.
"""

from __future__ import annotations

import math
import time
from collections import defaultdict
from contextlib import contextmanager

#: a tail percentile is reported only with this many samples beyond it
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(math.ceil(p / 100.0 * len(s)), 1)
    return s[rank - 1]


def tail_percentile(values: list[float], want: int = 90) -> tuple[str, float]:
    """``(label, value)`` of the ``want`` percentile when at least
    ``MIN_BEYOND`` samples lie beyond it; otherwise of the highest whole
    percentile that still has ``MIN_BEYOND`` samples beyond it. With
    fewer than ``MIN_BEYOND + 1`` samples no percentile qualifies and the
    maximum is reported, labelled ``max``."""
    n = len(values)
    if n <= MIN_BEYOND:
        return "max", max(values)
    p = want
    while p > 0 and n - math.ceil(p / 100.0 * n) < MIN_BEYOND:
        p -= 1
    return f"p{p}", percentile(values, p)


class Tracer:
    """Records spans when ``enabled``; a disabled tracer's ``span`` costs
    one generator frame and records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": name.split(".", 1)[0],
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "counts": dict(counts),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the union of its
    direct children's intervals, summed by layer."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s["layer"]] += (s["end"] - s["start"]) - covered
    return dict(out)
