"""Pure summary statistics and span arithmetic (no Spark imports)."""

from __future__ import annotations

import math
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
TAIL_BEYOND = 10  # samples that must lie beyond the reported tail percentile


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest percentile that still has at
    least TAIL_BEYOND samples beyond it. With fewer than 2 * TAIL_BEYOND + 1
    samples that percentile would sit at or below the median, so the median
    is reported instead (percentile 50)."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    k = n - TAIL_BEYOND  # samples at or below the tail value
    if k <= math.ceil(n / 2):
        return statistics.median(xs), 50.0, n
    return xs[k - 1], 100.0 * k / n, n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the part of its interval that its child
    spans cover (children may overlap each other or poke outside)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        covered = union_length(clipped(children.get(sp["id"], []), sp["start"], sp["end"]))
        out[sp["id"]] = (sp["end"] - sp["start"]) - covered
    return out
