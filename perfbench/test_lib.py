"""Unit tests for the benchmark's pure helpers (no Spark needed).

Run: python3 -m pytest perfbench/test_lib.py -q
"""

from __future__ import annotations

import decimal
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import lib  # noqa: E402


@pytest.mark.parametrize(
    "text, value",
    [
        ("7.6 s", 7.6),
        ("466 ms", 0.466),
        ("1.2 min", 72.0),
        ("2 h", 7200.0),
        ("783.3 KiB", 783.3 * 1024),
        ("1.5 MiB", 1.5 * 1024**2),
        ("12 B", 12.0),
        ("100,000", 100000.0),
        ("0", 0.0),
        (
            "total (min, med, max (stageId: taskId))\n7.6 s (0 ms, 1.1 s, 3.1 s (stage 3.0: task 12))",
            7.6,
        ),
        (
            "total (min, med, max (stageId: taskId))\n783.3 KiB (0.0 B, 1.0 KiB, 2.0 KiB (stage 1.0: task 3))",
            783.3 * 1024,
        ),
    ],
)
def test_parse_metric(text, value):
    assert lib.parse_metric(text) == pytest.approx(value)


def test_parse_metric_rejects_garbage():
    with pytest.raises(ValueError):
        lib.parse_metric("n/a")
    with pytest.raises(ValueError):
        lib.parse_metric("3 furlongs")


def test_parse_rest_time():
    assert lib.parse_rest_time("1970-01-01T00:00:01.500GMT") == pytest.approx(1.5)
    assert lib.parse_rest_time("1970-01-01T00:00:02.250Z") == pytest.approx(2.25)


def test_tail_percentile_keeps_ten_samples_beyond():
    # too few samples for a percentile with ten beyond it: the maximum
    assert lib.tail_percentile(list(range(10))) == (100, 9, 10)
    assert lib.tail_percentile(list(range(15)), min_samples=20) == (100, 14, 15)
    with pytest.raises(ValueError):
        lib.tail_percentile([])
    p, v, n = lib.tail_percentile(list(range(100)))
    assert (p, v, n) == (90, 89, 100)
    # exactly ten samples lie above the reported value
    assert sum(1 for x in range(100) if x > v) == 10
    p, v, n = lib.tail_percentile([float(x) for x in range(40)])
    assert (p, n) == (75, 40)
    assert sum(1 for x in range(40) if x > v) >= 10
    # order of the input does not matter
    xs = list(range(37))
    random.Random(1).shuffle(xs)
    p, v, _ = lib.tail_percentile(xs)
    assert sum(1 for x in xs if x > v) >= 10
    assert p == (100 * 27) // 37


def test_union_length_merges_overlaps():
    assert lib.union_length([]) == 0
    assert lib.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert lib.union_length([(0, 10), (2, 3)]) == 10


def test_self_times():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps 2
        {"id": 4, "parent": 2, "start": 2.0, "end": 3.0},
        {"id": 5, "parent": 1, "start": 9.0, "end": 12.0},  # clipped to parent
    ]
    st = lib.self_times(spans)
    assert st[1] == pytest.approx(10 - 5 - 1)
    assert st[2] == pytest.approx(2)
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(1)
    assert st[5] == pytest.approx(3)


def test_assign_to_spans_by_time():
    spans = [("q2", 5.0, 9.0), ("q1", 0.0, 4.0)]
    jobs = [("j0", 0.5), ("j1", 4.0), ("j2", 4.5), ("j3", 5.0), ("j4", 10.0), ("j5", -1.0)]
    got = lib.assign_to_spans(jobs, spans)
    assert got == {"j0": "q1", "j1": "q1", "j2": None, "j3": "q2", "j4": None, "j5": None}


def test_result_digest_ignores_row_and_column_order():
    rows = [(1, "a", 0.5), (2, "b", None), (3, "c", float("nan"))]
    d1 = lib.result_digest(["k", "s", "x"], rows)
    shuffled = rows[::-1]
    assert lib.result_digest(["k", "s", "x"], shuffled) == d1
    # same data with columns in another order
    swapped = [(s, x, k) for k, s, x in rows]
    assert lib.result_digest(["s", "x", "k"], swapped) == d1
    assert d1[1] == 3
    # a changed value changes the digest
    assert lib.result_digest(["k", "s", "x"], [(1, "a", 0.25)] + rows[1:]) != d1


def test_result_digest_is_engine_neutral():
    # Spark returns Decimal / float for what DuckDB may return as int
    a = lib.result_digest(["n", "v"], [(decimal.Decimal("3.00"), [1.0, 2.5])])
    b = lib.result_digest(["n", "v"], [(3, (1, 2.5))])
    assert a == b
    assert lib.canonical({"b": 1, "a": 2.0}) == (("a", 2), ("b", 1))
    assert lib.canonical(True) is True and lib.canonical(1) == 1


def test_tree_rss_counts_this_process():
    assert lib.tree_rss_bytes(os.getpid()) > 0
