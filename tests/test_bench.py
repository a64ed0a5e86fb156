"""bench.py's host-CPU shares over a window of /proc/stat ticks."""

from __future__ import annotations

import bench


def test_window_pcts_shares_of_elapsed_ticks():
    # (total, steal, idle) ticks: 400 elapsed, 100 stolen, 100 idle
    assert bench._window_pcts((1000, 10, 500), (1400, 110, 600)) == (25.0, 75.0)


def test_window_pcts_without_a_window():
    assert bench._window_pcts(None, (1, 0, 0)) is None
    assert bench._window_pcts((1, 0, 0), None) is None
    assert bench._window_pcts((5, 0, 0), (5, 0, 0)) is None
