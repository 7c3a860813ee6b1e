"""Pure helpers of the benchmark: percentiles, due-time latency
accounting and failure counting.  No Spark, no engine imports, so the
unit tests in ``perfbench/tests`` run in milliseconds."""

from __future__ import annotations

import math
import statistics
from collections import Counter
from dataclasses import dataclass, field

# A tail percentile must have at least this many samples beyond it.
TAIL_BEYOND = 10


@dataclass(frozen=True)
class Tail:
    value: float
    pct: float  # share of samples at or below ``value``, in percent
    n: int  # sample count
    beyond: int  # samples strictly beyond the tail rank


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def quantile(values, q: float) -> float:
    """Nearest-rank quantile (0 < q <= 1) of ``values``."""
    vals = sorted(values)
    if not vals:
        return 0.0
    return float(vals[min(len(vals) - 1, max(0, math.ceil(q * len(vals)) - 1))])


def tail(values) -> Tail:
    """The highest percentile that has at least ``TAIL_BEYOND`` samples
    beyond it.  With too few samples for that the rank falls back to
    the upper median, never below it, and ``beyond`` says how many
    samples actually lie past it."""
    vals = sorted(values)
    n = len(vals)
    if not n:
        return Tail(0.0, 0.0, 0, 0)
    idx = max(n - 1 - TAIL_BEYOND, n // 2)
    return Tail(float(vals[idx]), 100.0 * (idx + 1) / n, n, n - 1 - idx)


def due_latencies(
    due: dict[int, float], arrived: dict[int, float], deadline: float
) -> tuple[list[float], list[int]]:
    """Latency of each message from when it was DUE to be sent (not
    when it was sent), so a stall is charged to every message queued
    behind it.  A message that never arrived by ``deadline`` counts as
    at least ``deadline - due`` late (it misses any latency limit) and
    is returned in the second list."""
    lats, missing = [], []
    for key, t_due in due.items():
        t_arr = arrived.get(key)
        if t_arr is None or t_arr > deadline:
            missing.append(key)
            lats.append(max(deadline - t_due, 0.0))
        else:
            lats.append(t_arr - t_due)
    return lats, sorted(missing)


@dataclass
class Tally:
    """Operations attempted and failed, with the reasons of failure."""

    attempted: int = 0
    failed: int = 0
    reasons: Counter = field(default_factory=Counter)

    def record(self, ok: bool, reason: str = "", n: int = 1) -> bool:
        self.attempted += n
        if not ok:
            self.failed += n
            self.reasons[reason or "failed"] += n
        return ok

    def fail(self, reason: str, n: int = 1) -> None:
        """A failure of an operation already counted as attempted."""
        if n:
            self.failed += n
            self.reasons[reason] += n

    @property
    def ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def check_contiguous(offsets, first: int, last: int) -> dict:
    """Offsets in delivery order against the expected range
    ``first..last``: gaps (never delivered), order violations among first
    deliveries, and duplicates (at-least-once redelivery; counted, not
    failed)."""
    seen: set[int] = set()
    dups = out_of_order = 0
    prev = first - 1
    for o in offsets:
        if o in seen:
            dups += 1
            continue
        seen.add(o)
        if o < prev:
            out_of_order += 1
        prev = max(prev, o)
    expected = set(range(first, last + 1))
    return {
        "missing": len(expected - seen),
        "unexpected": len(seen - expected),
        "out_of_order": out_of_order,
        "duplicates": dups,
        "unique": len(seen & expected),
    }
