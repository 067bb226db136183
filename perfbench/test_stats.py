"""Self-test of the benchmark's metric arithmetic and of BENCHMARK.json.

Needs no Spark. Run from the root of a checkout:

    python3 -m pytest -q perfbench/test_stats.py
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def test_tail_keeps_ten_samples_beyond():
    assert stats.tail(list(range(100))) == (90, 89, 10)
    assert stats.tail(list(range(100, 0, -1))) == (90, 90, 10)
    # 30 samples: p66 is rank 20, p67 would be rank 21 with only 9 beyond
    assert stats.tail(list(range(30))) == (66, 19, 10)
    # too few samples for a tail: the nearest-rank median, and how thin
    assert stats.tail(list(range(15))) == (50, 7, 7)
    assert stats.tail([4.0]) == (50, 4.0, 0)


def test_recall():
    assert stats.recall(["a", "b", "c"], ["a", "b", "d", "e"]) == 0.5
    assert stats.recall(["x"], []) == 1.0
    assert stats.recall(["a", "a"], ["a"]) == 1.0


def test_covered_merges_and_clips():
    assert stats.covered([(1, 3), (2, 4)], 0, 10) == 3
    assert stats.covered([(-1, 2), (8, 12)], 0, 10) == 4
    assert stats.covered([(5, 6), (1, 2)], 0, 10) == 2
    assert stats.covered([], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = {
        1: (None, 0.0, 10.0),
        2: (1, 1.0, 4.0),
        3: (1, 3.0, 6.0),  # overlaps its sibling: the union counts once
        4: (2, 1.5, 2.0),
    }
    own = stats.self_times(spans)
    assert own == {1: 5.0, 2: 2.5, 3: 3.0, 4: 0.5}


def test_self_times_of_nested_spans_sum_to_root():
    spans = {1: (None, 0.0, 8.0), 2: (1, 1.0, 7.0), 3: (2, 2.0, 3.0), 4: (2, 4.0, 6.0)}
    own = stats.self_times(spans)
    assert sum(own.values()) == 8.0
    assert own[1] == 2.0 and own[2] == 3.0


def test_mirror_truth_skips_deleted_and_filtered():
    m = workloads.Mirror()
    vecs = np.zeros((4, workloads.DIM), dtype=np.float32)
    vecs[:, 0] = [0.0, 1.0, 2.0, 3.0]
    m.add(["a", "b", "c", "d"], vecs, np.array([0, 1, 0, 1]), np.array([1.0, 2, 3, 4]),
          np.array([True, False, True, False]))
    q = np.zeros(workloads.DIM)
    assert m.truth(q, None) == ["a", "b", "c", "d"]
    m.kill(["b"])
    assert m.truth(q, None) == ["a", "c", "d"]
    assert m.truth(q, lambda mm: mm.cat == 1) == ["d"]
    assert m.meta("c") == {"cat": "c0", "n": 3.0, "flag": True}


def test_benchmark_json_matches_the_metrics_reported():
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert set(run.HEADLINE) == set(workloads.WORKLOADS)
