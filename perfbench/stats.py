"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """``(value, percentile, n)`` for the highest nearest-rank percentile
    that still has at least ``beyond`` samples above it.

    With fewer than ``2 * beyond + 1`` samples that percentile would sit
    at or below the median, so the median is reported instead (as
    percentile 50): a tail is never lower than the middle.
    """
    xs = sorted(samples)
    n = len(xs)
    if not n:
        raise ValueError("no samples")
    med = statistics.median(xs)
    i = n - 1 - beyond  # index with exactly `beyond` samples after it
    if i < 0 or xs[i] <= med:
        return med, 50.0, n
    return xs[i], 100.0 * (i + 1) / n, n


def by_kind(samples: list[tuple[str, float]]) -> tuple[float, float, list[str]]:
    """``(p50, tail, notes)`` of latencies tagged with their operation kind.

    Each kind's median and tail are taken on its own samples and combined
    across kinds by geometric mean, so in a mix of queries whose
    latencies differ by 5x the result does not hinge on which query
    happens to sit in the middle of the pooled samples. With one kind
    this is that kind's median and tail.
    """
    kinds: dict[str, list[float]] = {}
    for kind, x in samples:
        kinds.setdefault(kind, []).append(x)
    p50s, tails, notes = [], [], []
    for kind, xs in sorted(kinds.items()):
        value, pct, n = tail(xs)
        p50s.append(statistics.median(xs))
        tails.append(value)
        notes.append(f"{kind}: p50={p50s[-1]:.3f} p{pct:.1f}={value:.3f} n={n}")
    return statistics.geometric_mean(p50s), statistics.geometric_mean(tails), notes
