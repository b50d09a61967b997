"""Per-op records and the statistics reported from them."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass

# A tail percentile is reported only when at least this many samples lie
# beyond it; with fewer, one slow op moves it arbitrarily.
MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


@dataclass
class OpRecord:
    name: str
    latency_s: float
    rows_in: int
    ok: bool
    error: str | None = None


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q`` percentile, refused (TooFewSamples) when fewer than
    MIN_BEYOND samples lie above it."""
    n = len(values)
    rank = max(1, math.ceil(q * n))
    if n - rank < MIN_BEYOND:
        raise TooFewSamples(
            f"p{q * 100:g} of {n} samples has {n - rank} beyond it; need {MIN_BEYOND}"
        )
    return sorted(values)[rank - 1]


def end_to_end(passes: list[list[OpRecord]]) -> dict[str, float]:
    """Throughput and latency of the timed passes. Each pass gives one value
    of each figure and the median over passes is reported, so one pass slowed
    by another process on the machine does not move it. Busy time is the sum
    of op latencies: the benchmark's own checks between ops are not counted."""
    per_pass = []
    for records in passes:
        lat = [r.latency_s for r in records]
        busy = sum(lat)
        per_pass.append(
            {
                "ops_per_s": len(lat) / busy,
                "op_p50_s": statistics.median(lat),
                "rows_per_s": sum(r.rows_in for r in records) / busy,
            }
        )
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
