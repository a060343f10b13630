"""Summary statistics and failure accounting for one benchmark run."""

from __future__ import annotations

import math
import statistics
import time
from contextlib import contextmanager

# Percentiles a timing may be reported at, lowest first.
LADDER = (50.0, 90.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least ``p``% of
    the samples at or below it)."""
    if not samples:
        raise ValueError("no samples")
    ordered = sorted(samples)
    return ordered[_rank(p, len(ordered)) - 1]


def _rank(p: float, n: int) -> int:
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in floating point
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """The highest ladder percentile with at least ``MIN_BEYOND`` samples
    above it, as ``(p, value)``; None when even p50 lacks them."""
    best = None
    n = len(samples)
    for p in LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            best = (p, percentile(samples, p))
    return best


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def quartiles(values: list[float]) -> dict[str, float]:
    """Median, quartiles and their spread as a share of the median, the
    way ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else float("nan")}


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


class Window:
    """The measured window of a closed loop. The next operation starts only
    while it is expected to end inside the window (by the median duration
    of those before it), so a run overshoots its seconds by little; the
    first operation always starts."""

    def __init__(self, seconds: float, clock=time.perf_counter):
        self.seconds = seconds
        self.clock = clock
        self.start = clock()
        self.durations: list[float] = []

    def more(self) -> bool:
        if not self.durations:
            return True
        return self.elapsed() + median(self.durations) <= self.seconds

    def add(self, seconds: float) -> None:
        self.durations.append(seconds)

    def elapsed(self) -> float:
        return self.clock() - self.start


class Outcome:
    """The problems found with one operation."""

    def __init__(self):
        self.problems: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
        return ok


class Ledger:
    """Counts operations attempted and failed. An operation fails once,
    whether it raised, failed one check or failed several."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    @contextmanager
    def op(self, label: str):
        out = Outcome()
        self.attempted += 1
        try:
            yield out
        except Exception as exc:  # a failed operation is counted, not fatal
            out.problems.append(f"raised {type(exc).__name__}: {exc}"[:300])
        if out.problems:
            self.failed += 1
            self.problems.extend(f"{label}: {p}" for p in out.problems)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
