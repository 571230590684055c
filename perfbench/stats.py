"""Summary statistics and metric bookkeeping shared by every workload."""

from __future__ import annotations

import math
import re

_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# Percentiles a timing may be reported at, lowest first.
TAIL_LADDER = (90.0, 99.0, 99.9)


def valid_metric_name(name: str) -> bool:
    """Names start with a letter or digit and use only letters,
    digits, `_`, `.` and `-` (at most 64 characters)."""
    return bool(_NAME.fullmatch(name))


def percentile(samples: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method),
    so p50 of an even-sized sample is the mean of the middle pair."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """The highest percentile on TAIL_LADDER that has at least ten of
    `n` samples beyond it, or None when even p90 has fewer."""
    best = None
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            best = p
    return best


class Outcomes:
    """Counts attempted and failed operations of one workload. An
    operation fails when it raised, was refused, returned a non-success
    status, or failed a later output check."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, reason: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.reasons.append(reason)

    def fail_all(self, reasons: list[str]) -> None:
        """A check on the combined output failed: every operation that
        produced it counts as failed."""
        self.failed = self.attempted
        self.reasons.extend(reasons)

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


class Result:
    """What a workload hands back to the runner."""

    def __init__(self) -> None:
        self.setup_s = 0.0
        self.latencies: list[float] = []  # seconds, successful operations
        self.throughput = 0.0  # operations (or rows) per second
        self.outcomes = Outcomes()
        self.named: dict[str, tuple[float, str]] = {}  # workload figures for the report
        self.layers: dict[str, float] = {}  # per-layer metrics, traced runs
        self.spans: list = []
