"""Latency statistics and op accounting for the benchmark.

Pure Python (no Spark): the harness tests import this module directly.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

# Percentiles a workload may fix as its tail; the tail rule picks from these.
TAIL_LADDER = (50.0, 60.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default, 'linear')."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the ``p``-th percentile
    position (the samples a tail estimate at ``p`` rests on)."""
    return n - 1 - math.floor((n - 1) * p / 100.0)


def tail_percentile(n: int, ladder: tuple[float, ...] = TAIL_LADDER,
                    min_beyond: int = MIN_BEYOND) -> float | None:
    """The highest ladder percentile with at least ``min_beyond`` samples
    beyond it among ``n``; None when even the lowest rung has fewer."""
    ok = [p for p in ladder if beyond(n, p) >= min_beyond]
    return max(ok) if ok else None


def median(values: list[float]) -> float:
    return statistics.median(values)


@dataclass
class OpRecord:
    """One attempted op. ``latency_s`` is None when the op raised."""

    index: int
    kind: str
    key: str
    start_s: float
    latency_s: float | None = None
    plan_s: float | None = None
    exec_s: float | None = None
    rows: int = 0
    traced: bool = False
    error: str | None = None
    check_error: str | None = None

    @property
    def failed(self) -> bool:
        return self.error is not None or self.check_error is not None


@dataclass
class OpLog:
    """Every op attempted in the timed window, in start order."""

    records: list[OpRecord] = field(default_factory=list)

    def add(self, rec: OpRecord) -> None:
        self.records.append(rec)

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        """Ops that raised or failed their output check, each counted once."""
        return sum(1 for r in self.records if r.failed)

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def mark_check_failure(self, key: str, message: str) -> int:
        """Fail every op that produced the result ``key``; returns how many."""
        n = 0
        for r in self.records:
            if r.key == key and r.error is None:
                r.check_error = message
                n += 1
        return n

    def latencies_s(self, traced: bool | None = None) -> list[float]:
        """Latencies of completed ops (optionally only traced/untraced)."""
        return [r.latency_s for r in self.records
                if r.latency_s is not None
                and (traced is None or r.traced == traced)]


def summarize(log: OpLog, window_s: float, tail_p: float) -> dict:
    """End-to-end numbers of one timed window.

    ``window_s`` runs from the first op start to the last op end, so a
    closed loop's throughput is completed ops over time actually spent.
    ``tail_p`` is the workload's fixed tail percentile; the summary also
    says how many samples lie beyond it."""
    lat = log.latencies_s()
    n = len(lat)
    out = {
        "samples": n,
        "attempted": log.attempted,
        "failed": log.failed,
        "failed_ratio": log.failed_ratio,
        "ops_per_s": n / window_s if window_s > 0 else 0.0,
        "tail_percentile": tail_p,
        "tail_beyond": beyond(n, tail_p) if n else 0,
    }
    if n:
        out["p50_ms"] = percentile(lat, 50.0) * 1000.0
        out["tail_ms"] = percentile(lat, tail_p) * 1000.0
    return out
