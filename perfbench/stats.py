"""Aggregates the benchmark reports. No Spark."""

from __future__ import annotations

import math
import statistics

import numpy as np

TAIL_MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def gmean(values) -> float:
    """Geometric mean of positive values."""
    values = list(values)
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(samples) -> tuple[float, float, int]:
    """The highest nearest-rank percentile that still has at least
    ``TAIL_MIN_BEYOND`` samples above its rank: returns (value, percentile,
    samples beyond). With ``n`` samples that is rank ``n - TAIL_MIN_BEYOND``
    (1-based); with too few samples it falls back to the minimum, and the
    sample count beyond says how much evidence the figure has."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    k = max(0, len(xs) - TAIL_MIN_BEYOND - 1)  # 0-based index of the rank
    return float(xs[k]), 100.0 * (k + 1) / len(xs), len(xs) - 1 - k


def failed_share(failed: int, attempted: int) -> float:
    if attempted <= 0:
        raise ValueError("nothing attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must be within [0, attempted]")
    return failed / attempted


def iqr_share(values) -> float:
    """Inter-quartile range over the median, with the quartiles
    ``statistics.quantiles(values, n=4)`` gives."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


CHECKSUM_MASK = (1 << 63) - 1


def combine_row_hashes(hashes) -> tuple[int, int]:
    """(row count, order-insensitive content checksum) from unsigned
    64-bit per-row hashes: their sum modulo 2**63, so any permutation of
    the rows gives the same value while a dropped, duplicated or changed
    row moves it. (The uint64 sum wraps modulo 2**64, a multiple of
    2**63, so masking it gives the exact sum modulo 2**63.)"""
    h = np.asarray(hashes, dtype=np.uint64)
    return len(h), int(h.sum(dtype=np.uint64)) & CHECKSUM_MASK
