"""Pure accounting for the benchmark: op records, the Harrell-Davis
percentile, failure share, span self time and Spark counter deltas.

Nothing here imports Spark, so the unit tests in ``perfbench/tests``
exercise it without a session.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field


@dataclass
class OpRecord:
    """One timed operation of a workload."""

    name: str
    seconds: float
    work: float  # work units this op completed (statements, rows, queries)
    error: str | None = None  # the op raised
    mismatch: str | None = None  # the op's output differs from its expectation
    known_defect: str | None = None  # failure matches a documented package defect
    info: dict = field(default_factory=dict)
    result: object = None  # what the op returned, for the workload's check

    @property
    def failed(self) -> bool:
        return self.error is not None or self.mismatch is not None


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 500):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def beta_cdf(x: float, a: float, b: float) -> float:
    """The regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def harrell_davis(samples: list[float], pct: float) -> float:
    """The ``pct`` percentile by the Harrell-Davis estimator: a weighted
    mean of all order statistics, the i-th (1-based) weighted by the mass
    a Beta(p(n+1), (1-p)(n+1)) distribution puts on ``[(i-1)/n, i/n]``.

    Over a few dozen samples a single order statistic jumps with whichever
    op happens to land on its rank; this estimate moves smoothly, so it
    repeats better from run to run."""
    if not samples:
        raise ValueError("harrell_davis needs at least one sample")
    if not 0 < pct < 100:
        raise ValueError("pct must be in (0, 100)")
    xs = sorted(samples)
    n = len(xs)
    p = pct / 100.0
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    cdf = [beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def failed_share(ops: list[OpRecord]) -> float:
    """Ops that raised or whose output differs from the expectation,
    known package defects included, over ops attempted."""
    if not ops:
        raise ValueError("failed_share needs at least one op")
    return sum(o.failed for o in ops) / len(ops)


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: summed duration minus the part of each span's
    interval covered by its direct children (overlapping children are
    counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - _covered(children.get(s.span_id, []), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


def total_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: summed duration, children included."""
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
    return out


def call_counts(spans: list[Span]) -> dict[str, int]:
    out: dict[str, int] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0) + 1
    return out


# --------------------------------------------------------------------------
# Spark status-tracker deltas
# --------------------------------------------------------------------------


@dataclass
class JobInfo:
    job_id: int
    n_stages: int
    n_tasks: int


def spark_deltas(before_max_job: int, jobs: list[JobInfo], after_max_job: int) -> dict[str, int]:
    """Jobs, stages and tasks run between two status-tracker reads.

    Job ids are sequential, so the job count is the id difference even
    when the tracker no longer retains every job; stages and tasks are
    summed over the retained jobs in ``(before_max_job, after_max_job]``.
    """
    new = [j for j in jobs if before_max_job < j.job_id <= after_max_job]
    return {
        "jobs": max(0, after_max_job - before_max_job),
        "stages": sum(j.n_stages for j in new),
        "tasks": sum(j.n_tasks for j in new),
    }

