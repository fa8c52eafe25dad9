"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics
from collections import Counter
from dataclasses import dataclass, field

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def tail(xs: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``: the ``beyond + 1``-th largest
    sample, the percentile it stands at (share of samples at or below it)
    and the sample count.  With ``beyond`` samples or fewer no percentile
    qualifies; the maximum is returned at percentile 100 so the caller can
    still report a number, and must state the sample count with it."""
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    s = sorted(xs)
    if n <= beyond:
        return float(s[-1]), 100.0, n
    k = n - beyond - 1  # index of the (beyond + 1)-th largest
    return float(s[k]), 100.0 * (k + 1) / n, n


def steady(ops: list[tuple[str, float, int]]) -> tuple[float, float]:
    """``(p50 seconds, events per second)`` of timed operations given as
    ``(kind, seconds, events)``.

    Every round of a workload runs the same mix of operation kinds, so
    each operation's latency is first replaced by the median latency of
    its kind over the rounds: one slow repetition of a kind, from a
    collector pause or a busy host, then moves neither figure.  The p50 is
    the median of these per-kind medians over all operations; the rate is
    the operations' events over their summed per-kind medians."""
    if not ops:
        raise ValueError("no timed operations")
    by_kind: dict[str, list[float]] = {}
    for kind, dt, _ in ops:
        by_kind.setdefault(kind, []).append(dt)
    med = {k: median(v) for k, v in by_kind.items()}
    eff = [med[kind] for kind, _, _ in ops]
    return median(eff), sum(ev for _, _, ev in ops) / sum(eff)


@dataclass
class Outcomes:
    """Operations attempted and failed, keyed by the query they ran.

    An operation fails when it raises, or when its query's result was
    found wrong: results are checked once per distinct query, and a wrong
    result marks every operation of that query as failed."""

    attempts: Counter = field(default_factory=Counter)
    errored: Counter = field(default_factory=Counter)
    wrong: dict = field(default_factory=dict)  # key -> reason
    first_error: dict = field(default_factory=dict)  # key -> message

    def record(self, key: str, error: str | None = None) -> None:
        self.attempts[key] += 1
        if error is not None:
            self.errored[key] += 1
            self.first_error.setdefault(key, error)

    def mark_wrong(self, key: str, reason: str) -> None:
        self.wrong.setdefault(key, reason)

    @property
    def attempted(self) -> int:
        return sum(self.attempts.values())

    @property
    def failed(self) -> int:
        return sum(self.attempts[k] if k in self.wrong else self.errored[k]
                   for k in self.attempts)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
