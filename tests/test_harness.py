"""Pins for the measurement and test harnesses themselves: the slow-test
list in conftest.py must name real tests (under the full run, `-m ""`, a
stale entry fails collection, so a renamed slow test cannot slip back into
the driver-facing fast suite unnoticed), and bench.py's load sentinel flags
a flight whose final re-time disagrees with its min or its steady value."""

from __future__ import annotations

import os

import bench
import conftest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_unmatched_slow_tests_flags_renames_and_missing_files(monkeypatch):
    kept = "tests/test_indicators.py::test_ema_golden_recursive"
    renamed = "tests/test_indicators.py::test_ema_old_name"
    elsewhere = "tests/test_streaming.py::test_compact_bars"
    gone = "tests/test_no_such_file.py::test_anything"
    monkeypatch.setattr(
        conftest, "SLOW_TESTS", frozenset({kept, renamed, elsewhere, gone})
    )
    collected = [kept + "[param]", "tests/test_indicators.py::test_other"]
    # test_streaming.py was not collected (a subset run): not stale
    assert conftest.unmatched_slow_tests(collected, ROOT) == [renamed, gone]
    assert conftest.unmatched_slow_tests(
        collected + [renamed, elsewhere], ROOT
    ) == [gone]


def test_sentinel_flags_final_far_above_steady():
    # final vs min: both directions, as before
    assert bench.sentinel_polluted(1.0, None, 1.6)
    assert bench.sentinel_polluted(1.6, None, 1.0)
    assert not bench.sentinel_polluted(1.0, None, 1.4)
    # a slow block-0 min hides end-of-run contention; steady exposes it
    assert not bench.sentinel_polluted(2.0, None, 2.5)
    assert bench.sentinel_polluted(2.0, 1.0, 2.5)
    assert not bench.sentinel_polluted(2.0, 1.8, 2.5)
    # 50 ms floor: sub-floor jitter never flags
    assert not bench.sentinel_polluted(0.01, 0.01, 0.07)
