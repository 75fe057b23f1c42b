"""Result canonicalization, comparison and the percentile rules.

Results are compared as order-insensitive row sets: column names are
lower-cased and sorted, every value is canonicalized, and the rows are
sorted. Floats compare by exact ``repr`` (the engine's fixed-point
aggregation policy makes Spark and DuckDB produce identical doubles),
decimals compare by value whatever their scale, and NULL and NaN have
their own tokens.
"""

from __future__ import annotations

import hashlib
import math
import statistics
from datetime import date, datetime
from decimal import Decimal


def canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, Decimal):
        # fixed-point values compare by value: 1.50 == 1.5 == 1.5 (float)
        v = float(v)
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, datetime):
        return f"t:{v.replace(tzinfo=None).isoformat()}"
    if isinstance(v, date):
        return f"d:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    return f"s:{v}"


def rowset(cols: list[str], rows) -> list[str]:
    names = [c.lower() for c in cols]
    order = sorted(range(len(names)), key=lambda i: names[i])
    header = "|".join(names[i] for i in order)
    body = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return [header] + body


def digest(cols: list[str], rows) -> str:
    h = hashlib.sha256()
    for line in rowset(cols, rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def tail_rank(n: int) -> tuple[int, int]:
    """The highest integer percentile with at least ten samples beyond
    it at ``n`` samples, and the nearest-rank index of that percentile
    in the sorted samples: (75, 29) for n = 40."""
    if n < 11:
        raise ValueError(f"a tail percentile needs at least 11 samples, got {n}")
    p = (100 * (n - 10)) // n
    return p, math.ceil(p * n / 100) - 1


def nearest_rank(samples: list[float], p: int) -> float:
    """The ``p``-th percentile of ``samples`` by the nearest-rank rule."""
    return sorted(samples)[max(0, math.ceil(p * len(samples) / 100) - 1)]


def spread(values: list[float]) -> dict[str, float]:
    """Median, quartiles (``statistics.quantiles(n=4)``), extremes and
    the inter-quartile range as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "min": min(values),
        "max": max(values),
        "iqr_frac": (q3 - q1) / med if med else float("nan"),
    }


def warmup_drift(labels: list[str], latencies: list[float]) -> float | None:
    """Median over templates of (mean latency of the template's ops in
    the first half of the list) / (in the second half). Comparing each
    template with itself keeps the op mix out of the ratio; well above
    1 means the timed ops were still warming up."""
    half = len(labels) // 2
    ratios = []
    for name in set(labels):
        first = [t for i, (n, t) in enumerate(zip(labels, latencies)) if n == name and i < half]
        second = [t for i, (n, t) in enumerate(zip(labels, latencies)) if n == name and i >= half]
        if first and second:
            ratios.append(statistics.mean(first) / statistics.mean(second))
    return statistics.median(ratios) if ratios else None
