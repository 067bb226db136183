"""Metric arithmetic of the benchmark: percentiles, recall and span self time.

Pure functions over plain Python values, so ``test_stats.py`` can check
them without Spark.
"""

from __future__ import annotations

import math
import statistics


def median(values):
    return statistics.median(values)


def tail(values, min_beyond=10):
    """The highest whole percentile that still has ``min_beyond`` samples
    above its nearest-rank position (the smallest sample with at least
    ``p`` percent of the samples at or below it), never below the median.

    Returns ``(p, value, beyond)``: the percentile, its value and how many
    samples lie beyond it. With fewer than ``2 * min_beyond`` samples the
    rule lands at or below the median, so the median is reported and
    ``beyond`` says how thin the tail is."""
    n = len(values)
    p = max(50, (100 * (n - min_beyond)) // n) if n > min_beyond else 50
    rank = max(1, math.ceil(p * n / 100))
    return p, sorted(values)[rank - 1], n - rank


def recall(result_ids, truth_ids):
    """Share of the exact answer that the approximate answer found."""
    truth = set(truth_ids)
    if not truth:
        return 1.0
    return len(truth & set(result_ids)) / len(truth)


def covered(intervals, lo, hi):
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover. ``spans`` maps span id to ``(parent, start, end)``;
    returns span id to seconds."""
    children = {}
    for sid, (parent, start, end) in spans.items():
        if parent is not None:
            children.setdefault(parent, []).append((start, end))
    return {
        sid: (end - start) - covered(children.get(sid, ()), start, end)
        for sid, (_, start, end) in spans.items()
    }
