"""Pure helpers: percentiles, metric names, spans and the result line."""

from __future__ import annotations

import json
import math
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
LADDER = (0.99, 0.95, 0.9, 0.75, 0.5)
MIN_BEYOND = 10


def check_name(name: str) -> str:
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not UNIT_RE.fullmatch(unit):
        raise ValueError(f"bad metric unit {unit!r}")
    return unit


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n: int, q: float) -> int:
    """Samples strictly above the q-th percentile of n samples."""
    return n - 1 - math.floor(q * (n - 1))


def tail_percentile(n: int) -> float | None:
    """Highest percentile on the ladder with at least ten samples beyond it,
    or None when even the median has fewer."""
    for q in LADDER:
        if beyond(n, q) >= MIN_BEYOND:
            return q
    return None


def summarize(values) -> dict:
    """Median, p90 and the sample count, plus the highest percentile the
    sample supports, so a reader can see when p90 rests on too few points."""
    n = len(values)
    tail = tail_percentile(n)
    return {
        "n": n,
        "p50": percentile(values, 0.5),
        "p90": percentile(values, 0.9),
        "p90_beyond": beyond(n, 0.9),
        "supported_tail": tail,
        "tail": percentile(values, tail) if tail else None,
    }


# -- spans ----------------------------------------------------------------------

@dataclass(frozen=True)
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the parent span in the recorder, if any
    run_id: str


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it that its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            children.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end)))
    return [
        (s.end - s.start) - union_length(
            (a, b) for a, b in children.get(i, []) if b > a)
        for i, s in enumerate(spans)
    ]


class Recorder:
    """In-memory span recorder. Parents are tracked per thread, so a span
    opened inside another on the same thread becomes its child; spans from
    pool threads have no parent and are merged by interval union."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        # spans that start before this are kept but not reported
        self.since = float("-inf")
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            idx = len(self.spans)
            self.spans.append(None)  # reserved; filled on exit
        parent = stack[-1] if stack else None
        stack.append(idx)
        start = time.perf_counter()
        try:
            yield
        finally:
            stack.pop()
            span = Span(name, start, time.perf_counter(), parent, self.run_id)
            with self._lock:
                self.spans[idx] = span

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that records a span."""
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def closed(self, prefix: str = "") -> list[Span]:
        return [s for s in self.spans if s is not None and s.start >= self.since
                and s.name.startswith(prefix)]

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.closed() if s.name == name]

    def self_time(self, name: str) -> float:
        """Summed self time of every reported span called ``name``. Parents
        are indices into the whole list, so self times are computed over
        it; spans still open are left out."""
        spans = [s if s is not None else Span("", 0.0, 0.0, None, self.run_id)
                 for s in self.spans]
        return sum(t for s, t in zip(spans, self_times(spans))
                   if s.name == name and s.start >= self.since)

    def busy(self, prefix: str) -> float:
        return union_length((s.start, s.end) for s in self.closed(prefix))


# -- result line ------------------------------------------------------------------

def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    if attempted < 1:
        raise ValueError("a run must attempt at least one operation")
    out = {}
    for name, (value, unit) in metrics.items():
        if value is None or not math.isfinite(float(value)):
            raise ValueError(f"metric {name} has no finite value: {value!r}")
        out[check_name(name)] = {"value": float(value), "unit": check_unit(unit)}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": out})
