"""Pure helpers shared by the benchmark, its steadiness record and its tests.

Nothing here imports Spark, so the helpers can be tested and reused by the
record tools without starting a JVM.
"""

from __future__ import annotations

import hashlib
import math
import re
import statistics

#: the pattern metric and workload names must match
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them —
    the same definition the benchmark's steadiness gate uses."""
    if len(values) < 2:
        v = median(values)
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


def geomean(values: list[float]) -> float:
    if not values or any(v <= 0 for v in values):
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def summary(values: list[float]) -> dict[str, float]:
    q1, q2, q3 = quartiles(values)
    return {
        "n": len(values),
        "median": q2,
        "q1": q1,
        "q3": q3,
        "min": min(values),
        "max": max(values),
        "iqr_share": iqr_share(values),
    }


def rows_checksum(columns: list[str], rows: list[tuple]) -> str:
    """Row-order-insensitive digest of a result.

    ``rows`` come as ``quackspark.oracle.spark_rows`` returns them: cells
    normalized and laid out in name-sorted column order, whatever order
    ``columns`` lists the names in."""
    body = sorted(repr(tuple(r)) for r in rows)
    h = hashlib.sha256()
    h.update(repr(sorted(columns)).encode())
    for line in body:
        h.update(b"\n")
        h.update(line.encode())
    return f"{len(rows)}:{h.hexdigest()[:32]}"
