"""Summary statistics and output digests for the crawl benchmark.

Pure functions only (no Spark), so the unit tests can pin them down.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterable
from fractions import Fraction

# Percentiles the benchmark may report as a wave-time tail, lowest first.
PERCENTILE_LADDER = (50, 75, 90, 95, 99, 99.9)


def rank(n: int, p: float) -> int:
    """1-based nearest rank of the p-th percentile in n samples:
    ceil(p/100 * n), in exact arithmetic (99.9% of 10000 is 9990)."""
    return max(1, math.ceil(Fraction(str(p)) * n / 100))


def nearest_rank(values: list[float], p: float) -> float:
    """The p-th percentile of ``values`` by the nearest-rank rule."""
    if not values:
        raise ValueError("percentile of an empty sample")
    return sorted(values)[rank(len(values), p) - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of n samples rank strictly above the p-th percentile."""
    return n - rank(n, p)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest ladder percentile with at least ``min_beyond`` samples
    beyond it, or None when even the median has fewer (n < 20 for the
    default of 10)."""
    ok = [p for p in PERCENTILE_LADDER if samples_beyond(n, p) >= min_beyond]
    return ok[-1] if ok else None


def order_digest(rows: Iterable[tuple[int, int, str]]) -> str:
    """Digest of a crawl order: (wave, seq, url) rows, order-insensitive
    on input (rows are sorted first) but sensitive to every field."""
    h = hashlib.sha256()
    for wave, seq, url in sorted(rows):
        h.update(f"{wave}\t{seq}\t{url}\n".encode())
    return h.hexdigest()[:16]


def set_digest(items: Iterable[str]) -> str:
    """Digest of a multiset of strings: duplicates change it, order does
    not."""
    h = hashlib.sha256()
    for item in sorted(items):
        h.update(item.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]
