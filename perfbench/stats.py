"""Pure logic of the harness, kept free of Spark so it can be tested
without a session: query order, percentiles, span self time and failure
accounting."""

from __future__ import annotations

import math
import random


def pass_order(names, seed: int, pass_index: int) -> list[str]:
    """The query order of one pass: a permutation of ``names`` fixed by
    ``(seed, pass_index)``.  The seed permutes order only; it never
    chooses which queries run."""
    order = sorted(names)
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order


def percentile(samples, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``q`` of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    s = sorted(samples)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def beyond(samples, value: float) -> int:
    """How many samples lie strictly above ``value``."""
    return sum(1 for x in samples if x > value)


def tail_percentile(samples, cap: float = 0.9, min_beyond: int = 10) -> tuple[float, float]:
    """The highest percentile, at most ``cap``, that leaves at least
    ``min_beyond`` samples above it, as ``(q, value)``.  Raises
    ``ValueError`` when fewer than ``min_beyond + 1`` samples exist,
    since then no percentile has that many beyond it."""
    n = len(samples)
    if n <= min_beyond:
        raise ValueError(f"{n} samples cannot leave {min_beyond} beyond any percentile")
    q = min(cap, math.floor(100 * (n - min_beyond) / n) / 100)
    while q > 0:
        value = percentile(samples, q)
        if beyond(samples, value) >= min_beyond:
            return q, value
        q = round(q - 0.01, 2)
    raise ValueError("ties leave no percentile with enough samples beyond it")


def self_times(spans) -> list[float]:
    """Per span, its duration minus the part of its interval covered by
    its direct children.  ``spans`` are objects with ``start``, ``end``
    and ``parent`` (an index into ``spans``, or -1)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent >= 0:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, reach = 0.0, s.start
        for a, b in sorted(children.get(i, ())):
            a, b = max(a, reach), min(b, s.end)
            if b > a:
                covered += b - a
                reach = b
        out.append(s.end - s.start - covered)
    return out


class Outcomes:
    """Failure accounting of one run: a query fails once however many
    passes it raised in, and an oracle mismatch fails it too."""

    def __init__(self, names) -> None:
        self.names = sorted(names)
        self.failures: dict[str, str] = {}

    def fail(self, name: str, reason: str) -> None:
        self.failures.setdefault(name, reason)

    @property
    def attempted(self) -> int:
        return len(self.names)

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted
