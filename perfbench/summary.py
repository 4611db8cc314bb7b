"""Order statistics and failure accounting for one benchmark run.

Pure Python on lists of floats, so the rules can be tested without Spark.
"""

from __future__ import annotations

import math
import statistics

# A tail percentile is reported only where at least this many executions
# lie beyond it; fewer would make the "tail" a single unlucky sample.
TAIL_MIN_BEYOND = 10


def tail_percentile(n: int) -> int:
    """The highest whole percentile p such that at least TAIL_MIN_BEYOND
    of `n` executions lie above it, i.e. n * (100 - p) / 100 >= 10.
    Returns 0 when n <= 10 (no percentile qualifies, so the tail
    degenerates to the minimum and says nothing)."""
    if n <= TAIL_MIN_BEYOND:
        return 0
    return 100 * (n - TAIL_MIN_BEYOND) // n


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default 'linear' rule)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    rank = (len(xs) - 1) * p / 100.0
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) exactly as `statistics.quantiles(values, n=4)`
    gives them, the rule the spread check of the benchmark uses."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def relative_spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    if q2 == 0:
        return 0.0 if q1 == q3 else float("inf")
    return (q3 - q1) / q2


class Outcomes:
    """Attempted/failed accounting over executions.

    An execution fails when it raised, or when its fingerprint differs
    from the reference and the oracle fallback also rejects the result.
    A fingerprint mismatch the oracle accepts (for instance a changed
    float summation order) is counted as `rescued`, not as failed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.rescued = 0
        self.errors: list[str] = []

    def record(self, name: str, *, raised: str | None = None,
               fingerprint_ok: bool = True, oracle_ok: bool | None = None) -> bool:
        """Count one execution and return whether it succeeded.
        `oracle_ok` is consulted only when the fingerprint mismatched."""
        self.attempted += 1
        if raised is not None:
            ok, why = False, f"{name}: raised {raised}"
        elif fingerprint_ok:
            ok, why = True, ""
        elif oracle_ok:
            self.rescued += 1
            ok, why = True, ""
        else:
            ok, why = False, f"{name}: fingerprint mismatch, oracle compare failed"
        if not ok:
            self.failed += 1
            self.errors.append(why)
        return ok

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
