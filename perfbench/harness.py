"""Spark-free helpers of the benchmark: sample summaries, the span tracer,
failed-op accounting and the result line.

Nothing here imports pyspark, so ``test_harness.py`` runs in a second.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field

# A tail percentile is reported only when at least this many samples lie
# beyond it; otherwise it would be one or two outliers, not a tail.
MIN_BEYOND = 10
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of the ``p``-th percentile of ``n`` samples;
    rounding first keeps 99.9% of 10000 at 9990, not 9991."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``%
    of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    return sorted(samples)[_rank(len(samples), p) - 1]


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p``-th percentile."""
    return n - _rank(n, p)


def highest_valid_percentile(
    n: int, candidates: tuple[float, ...] = TAIL_CANDIDATES
) -> float | None:
    """The highest candidate percentile with >= MIN_BEYOND samples beyond
    it, or None when even the lowest candidate has too few."""
    for p in sorted(candidates, reverse=True):
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def summarize(samples: list[float]) -> dict:
    """Median, the highest valid tail and the sample count."""
    out: dict = {"n": len(samples)}
    if not samples:
        return out
    out["p50"] = statistics.median(samples)
    p = highest_valid_percentile(len(samples))
    if p is not None:
        out["tail_p"] = p
        out["tail"] = percentile(samples, p)
    return out


# ---------------------------------------------------------------- tracing


@dataclass
class Span:
    id: int
    name: str
    request: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "request": self.request,
            "parent": self.parent,
            "start": self.start,
            "end": self.end,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


class Tracer:
    """In-memory span recorder. Spans of one request share its id; the
    parent is the innermost open span of the same thread. A disabled
    tracer hands out a no-op context and records nothing."""

    def __init__(self, enabled: bool, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._requests = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def _open(self, name: str, new_request: bool, attrs: dict):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            span_id = next(self._ids)
            request = (
                next(self._requests)
                if new_request or parent is None
                else parent.request
            )
        span = Span(
            span_id, name, request, parent.id if parent else None,
            self.clock(), attrs=dict(attrs),
        )
        stack.append(span)
        try:
            yield span
        finally:
            span.end = self.clock()
            stack.pop()
            with self._lock:
                self.spans.append(span)

    def request(self, name: str, **attrs):
        """A root span that starts a new request id."""
        if not self.enabled:
            return contextlib.nullcontext()
        return self._open(name, True, attrs)

    def span(self, name: str, **attrs):
        """A child of the current span (a root one if none is open)."""
        if not self.enabled:
            return contextlib.nullcontext()
        return self._open(name, False, attrs)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.id):
                f.write(json.dumps(s.as_dict()) + "\n")


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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover.
    Children that overlap (parallel clients) are counted once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + own[s.id]
    return out


# ------------------------------------------------------- failed-op records


class OpLog:
    """Counts attempted and failed operations. An operation that raises is
    a failed op (its traceback is kept, the run goes on); a correctness
    check is an op of its own and fails when its condition is false."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.checks: dict[str, list[int]] = {}

    def run(self, fn, *args, **kwargs):
        """Run one operation; returns (ok, value)."""
        self.attempted += 1
        try:
            return True, fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - a failed op is recorded, not fatal
            self.failed += 1
            self.failures.append(traceback.format_exc(limit=8))
            return False, None

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        tally = self.checks.setdefault(name, [0, 0])
        tally[0] += 1
        if not ok:
            tally[1] += 1
            self.failed += 1
            self.failures.append(f"check {name} failed: {detail}")
        return ok

    @property
    def correct(self) -> bool:
        return self.failed == 0 and bool(self.checks)


# -------------------------------------------------------------- the result


def result_line(
    op_log: OpLog,
    metrics: dict[str, float],
    spec: list[dict],
) -> str:
    """The last stdout line: exactly ``correct``, ``attempted``, ``failed``
    and ``metrics``; ``metrics`` holds exactly the names of ``spec`` (one
    section of BENCHMARK.json), each with its unit."""
    names = [m["name"] for m in spec]
    if sorted(metrics) != sorted(names):
        raise ValueError(
            f"metrics {sorted(metrics)} do not match the declared {sorted(names)}"
        )
    if op_log.attempted < 1:
        raise ValueError("a run must attempt at least one operation")
    out = {}
    for m in spec:
        value = metrics[m["name"]]
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"metric {m['name']} is not a finite number: {value!r}")
        out[m["name"]] = {"value": value, "unit": m["unit"]}
    return json.dumps(
        {
            "correct": op_log.correct,
            "attempted": int(op_log.attempted),
            "failed": int(op_log.failed),
            "metrics": out,
        }
    )
