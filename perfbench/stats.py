"""Small statistics and accounting helpers shared by the runner and tests."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        raise ValueError("quartiles need at least two values")
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def relative_spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


@dataclass
class Tally:
    """Ops attempted and failed in one run; a failure is an op that raised
    or whose output did not match its oracle."""

    attempted: int = 0
    failed: int = 0
    problems: dict[str, list[str]] = field(default_factory=dict)

    def record(self, op: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.setdefault(op, []).extend(problems)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
