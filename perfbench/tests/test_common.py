"""The percentile helper and the width refusal.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import pytest

from perfbench import common


def test_nearest_rank_is_exact_on_round_counts():
    vals = [float(v) for v in range(1, 101)]
    assert common.nearest_rank(vals, 50.0) == 50.0
    assert common.nearest_rank(vals, 90.0) == 90.0
    assert common.nearest_rank(vals, 99.9) == 100.0
    assert common.nearest_rank([7.0], 90.0) == 7.0


@pytest.mark.parametrize("n, pct", [
    (100, 90.0),    # ten samples (91..100) beyond p90, nine beyond p95
    (199, 90.0),
    (200, 95.0),
    (1000, 99.0),
    (10000, 99.9),
    (40, 75.0),
])
def test_summary_reports_highest_percentile_with_ten_beyond(n, pct):
    vals = [float(v) for v in range(n, 0, -1)]  # order must not matter
    s = common.latency_summary(vals)
    assert s["n"] == n
    assert s["tail_pct"] == pct
    assert n - s["tail"] >= 10  # the tail value has at least ten samples above it
    assert s["p50"] == float(-(-n // 2))


def test_summary_without_a_tail():
    s = common.latency_summary([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0, "tail_pct": None, "tail": None}
    assert common.latency_summary([])["p50"] is None


def test_width_above_nproc_is_refused():
    n = common.nproc()
    assert common.check_width(n) == n
    with pytest.raises(common.BenchError):
        common.check_width(n + 1)
    with pytest.raises(common.BenchError):
        common.check_width(0)
