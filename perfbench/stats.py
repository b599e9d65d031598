"""Summary statistics and result fingerprints shared by the workloads."""

from __future__ import annotations

import hashlib
import math
import statistics


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile that has at least ten samples beyond it.

    Returns ``(value, percentile, n)``.  With sorted samples x[0..n-1]
    that is x[n-11]: exactly ten samples lie above it, and it sits at
    percentile 100*(n-10)/n.  With ten samples or fewer no such
    percentile exists and the maximum is returned at percentile 100.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def fingerprint(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    """Row count plus an order-insensitive value hash.

    Columns are put in name order and rows sorted by their repr, so two
    engines that return the same bag of rows in any row or column order
    hash alike."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    h.update(repr(sorted(columns)).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()
