"""Arithmetic the benchmark reports with: percentiles, summaries, failure
counting. Pure Python so the self-tests run without Spark."""

from __future__ import annotations

import math
import statistics

# the percentiles a timing may be reported at, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile p among n samples (rounded before
    the ceiling so that 99.9% of 10000 is 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(samples, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest percentile on TAIL_LADDER with at least ten of ``n``
    samples beyond it, or None when even the lowest has fewer."""
    for p in TAIL_LADDER:
        # samples strictly above the nearest-rank position
        if n - _rank(p, n) >= 10:
            return p
    return None


def summarize(samples) -> dict:
    """Median, the highest percentile with >= 10 samples beyond it (when
    there is one) and the sample count."""
    xs = list(samples)
    out = {"n": len(xs), "p50": statistics.median(xs) if xs else None}
    p = tail_percentile(len(xs))
    if p is not None:
        out["tail_p"] = p
        out["tail"] = percentile(xs, p)
    return out


class Tally:
    """Operations attempted and failed. An operation fails when it raised
    or returned an answer that differs from the expected one."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.first_failures: list[str] = []

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.first_failures) < 5:
                self.first_failures.append(what)
        return ok

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
