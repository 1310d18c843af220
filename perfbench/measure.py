"""Pure measurement helpers: spans and self time, percentiles, steady
trigger selection and seeded query order. Nothing here imports Spark,
so ``test_measure.py`` runs without a session."""

from __future__ import annotations

import json
import random
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A span records its name, id, parent id,
    start and end (``time.perf_counter`` seconds); the parent is the
    innermost span open when it starts. Spans stay in memory until
    ``dump``. A disabled tracer records nothing and costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "name": name,
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        """Write the closed spans as JSON, each with its self time
        (``self``). A span still open (a stream callback that outlived
        its query's stop) is left out."""
        closed = [s for s in self.spans if s["end"] is not None]
        own = self_times(closed)
        with open(path, "w") as fh:
            json.dump([{**s, "self": own[s["id"]]} for s in closed], fh)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    child spans cover (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - _covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def total_by_name(spans: list[dict], prefix: str = "") -> dict[str, float]:
    """Sum of span durations per name, for names starting with ``prefix``."""
    out: dict[str, float] = {}
    for s in spans:
        if s["name"].startswith(prefix):
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
    return out


def tail(samples: list[float], min_beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile with at least ``min_beyond`` samples above
    it: (percentile, value, sample count), or None when the sample is
    too small to support any. Percentile ``p`` is the sorted sample at
    index ``i``, with ``p = 100 * i / (n - 1)``."""
    n = len(samples)
    i = n - 1 - min_beyond
    if i < 0:
        return None
    ordered = sorted(samples)
    pct = 100.0 * i / (n - 1) if n > 1 else 0.0
    return pct, ordered[i], n


def steady_triggers(progress: list[dict], warmup: int) -> list[dict]:
    """Trigger progress records past the first ``warmup`` batches that
    consumed rows. Warm-up triggers pay JIT and codegen; empty triggers
    time only the scheduler."""
    return [
        p for p in progress if p["batchId"] >= warmup and p["numInputRows"] > 0
    ]


def pass_order(names: list[str], seed: int, pass_index: int) -> list[str]:
    """Query order for one catalog pass: a permutation fixed by
    (seed, pass_index), so the same seed replays the same schedule."""
    order = sorted(names)
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
