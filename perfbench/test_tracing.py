"""Tests for the span arithmetic the per-layer metrics rest on.

Run: ``python -m pytest perfbench/test_tracing.py -q`` from the repo root.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import Span, covered_s, self_times  # noqa: E402


def test_covered_s_merges_overlaps_and_clips_to_the_window():
    jobs = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.0, 12.0), (0.0, 0.5)]
    # [1,4] + [6,7] + [9,10] inside the window [0.8, 10]
    assert covered_s(jobs, 0.8, 10.0) == pytest.approx(3.0 + 1.0 + 1.0)


def test_covered_s_of_nothing_is_zero():
    assert covered_s([], 0.0, 5.0) == 0.0
    assert covered_s([(6.0, 7.0)], 0.0, 5.0) == 0.0


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span(0, "pass", None, "r", 0.0, 10.0),
        Span(1, "increment", 0, "r", 1.0, 5.0),
        Span(2, "commit", 1, "r", 2.0, 3.0),
        Span(3, "extract", 1, "r", 3.0, 4.5),
        Span(4, "increment", 0, "r", 5.0, 8.0),
        Span(5, "commit", 4, "r", 5.5, 6.0),
    ]
    got = self_times(spans)
    assert got["pass"] == pytest.approx(10.0 - 4.0 - 3.0)
    assert got["increment"] == pytest.approx((4.0 - 1.0 - 1.5) + (3.0 - 0.5))
    assert got["commit"] == pytest.approx(1.0 + 0.5)
    assert got["extract"] == pytest.approx(1.5)
