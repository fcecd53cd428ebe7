"""Pure measurement arithmetic for the benchmark: percentiles with the
sample-count rule, failed/attempted accounting, storage ratios, and
self time from nested spans. No Spark here, so the unit tests in
``perfbench/tests`` run in milliseconds.
"""

from __future__ import annotations

import math
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: a tail percentile is reported only with at least this many samples
#: strictly beyond it (p90 therefore needs >= 100 samples)
MIN_BEYOND = 10


class InsufficientSamples(ValueError):
    """A tail percentile was asked for with too few samples behind it."""


def min_samples_for(q: float) -> int:
    """Smallest sample count that leaves ``MIN_BEYOND`` samples above
    quantile ``q`` (the median is exempt: it is always reportable)."""
    if q <= 0.5:
        return 1
    return math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile ``q`` of ``values`` (numpy's default
    rule). Raises :class:`InsufficientSamples` when ``q`` is a tail
    percentile without ``MIN_BEYOND`` samples beyond it."""
    n = len(values)
    if n == 0:
        raise InsufficientSamples("no samples")
    if n < min_samples_for(q):
        raise InsufficientSamples(
            f"p{round(q * 100)} needs >= {min_samples_for(q)} samples, have {n}"
        )
    s = sorted(values)
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def quantile_or_none(values: list[float], q: float) -> float | None:
    """:func:`quantile`, or None where the sample-count rule forbids it."""
    try:
        return quantile(values, q)
    except InsufficientSamples:
        return None


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def ratio(num: float, den: float) -> float:
    """``num / den``, 0.0 for an empty denominator (nothing happened)."""
    return num / den if den else 0.0


def skip_ratio(files_scanned: int, files_total: int) -> float:
    """Share of live files a pruned scan did not open."""
    return 1.0 - ratio(files_scanned, files_total) if files_total else 0.0


def matched_rates(busy: dict[tuple[str, bool], list[float]]) -> tuple[float, float]:
    """Throughput (ops/s) of the traced and of the untraced operations
    of a run, over the same mix: every kind seen on both sides weighs
    in with its total count times that side's mean busy seconds per
    operation. Kinds seen on one side only are left out."""
    n = 0
    t_traced = t_untraced = 0.0
    for kind in {k for k, _ in busy}:
        traced, untraced = busy.get((kind, True)), busy.get((kind, False))
        if not traced or not untraced:
            continue
        count = len(traced) + len(untraced)
        n += count
        t_traced += count * sum(traced) / len(traced)
        t_untraced += count * sum(untraced) / len(untraced)
    return ratio(n, t_traced), ratio(n, t_untraced)


def write_amp(data_bytes_written: int, user_bytes_ingested: int) -> float:
    """Data-file bytes the table wrote per byte of user input."""
    return ratio(data_bytes_written, user_bytes_ingested)


@dataclass
class OpLog:
    """Per-class latency samples and failed/attempted accounting for a
    closed-loop run. Failed operations count as attempted and are kept
    out of the latency samples; a wrong result counts as a failure."""

    latencies: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    attempted: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    failed: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    errors: list[str] = field(default_factory=list)

    def record(self, kind: str, seconds: float, ok: bool, error: str | None = None) -> None:
        self.attempted[kind] += 1
        if ok:
            self.latencies[kind].append(seconds)
        else:
            self.failed[kind] += 1
            if error and len(self.errors) < 20:
                self.errors.append(f"{kind}: {error}")

    def check(self, kind: str, problem: str | None) -> None:
        """An untimed correctness check: attempted, and failed when it
        found a ``problem``; it adds no latency sample."""
        self.attempted[kind] += 1
        if problem is not None:
            self.failed[kind] += 1
            if len(self.errors) < 20:
                self.errors.append(f"{kind}: {problem}")

    @property
    def total_attempted(self) -> int:
        return sum(self.attempted.values())

    @property
    def total_failed(self) -> int:
        return sum(self.failed.values())

    @property
    def failed_ratio(self) -> float:
        return ratio(self.total_failed, self.total_attempted)

    def all_latencies(self, kinds: list[str] | None = None) -> list[float]:
        keys = kinds if kinds is not None else list(self.latencies)
        return [v for k in keys for v in self.latencies.get(k, [])]


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    span_id: int
    parent: int | None
    layer: str
    name: str
    op_id: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes :meth:`span` a
    bare timer so untraced runs pay no bookkeeping."""

    def __init__(self, enabled: bool, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), parent, layer, name, self.op_id, self.clock())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()


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


def self_times(spans: list[Span], in_ops: bool | None = None) -> dict[str, float]:
    """Total self time per layer: each span's duration minus the part
    of its interval covered by its direct children. ``in_ops`` keeps
    only spans inside an operation (True) or outside any (False)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if in_ops is not None and (s.op_id is not None) != in_ops:
            continue
        out[s.layer] += s.duration - _covered(children.get(s.span_id, []), s.start, s.end)
    return dict(out)

