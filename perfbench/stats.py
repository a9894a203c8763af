"""Summary statistics of one run: medians, the tail rule, failure counts."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field


def tail(samples: list[float], beyond: int = 10) -> tuple[int, float, int]:
    """The highest whole percentile that has at least ``beyond`` samples
    above it, by nearest rank: ``(percentile, value, samples_beyond)``.

    Raises ``ValueError`` when there are too few samples for any
    percentile to qualify."""
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"{n} samples: a tail needs more than {beyond}")
    p = 100 * (n - beyond) // n
    if p < 1:
        raise ValueError(f"{n} samples: no percentile has {beyond} samples beyond it")
    rank = math.ceil(p * n / 100)  # 1-based nearest rank
    return p, sorted(samples)[rank - 1], n - rank


@dataclass
class Sample:
    """One op's outcome: latency, where it ran, and whether it failed."""

    pass_no: int
    op: str
    kind: str
    seconds: float
    error: str | None = None
    counters: dict = field(default_factory=dict)


@dataclass
class RunLog:
    samples: list[Sample] = field(default_factory=list)

    def add(self, s: Sample) -> None:
        self.samples.append(s)

    @property
    def attempted(self) -> int:
        return len(self.samples)

    @property
    def failed(self) -> int:
        return sum(s.error is not None for s in self.samples)

    def fail_frac(self) -> float:
        return self.failed / self.attempted if self.samples else 0.0

    def passes(self) -> list[list[Sample]]:
        by: dict[int, list[Sample]] = {}
        for s in self.samples:
            by.setdefault(s.pass_no, []).append(s)
        return [by[k] for k in sorted(by)]

    def per_pass(self, value) -> float:
        """Median over passes of ``sum(value(sample))`` within a pass."""
        return statistics.median(sum(value(s) for s in p) for p in self.passes())
