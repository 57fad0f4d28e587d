"""Pins for the measurement and test harnesses themselves: the slow-test
list in conftest.py must name real tests (under the full run, `-m ""`, a
stale entry fails collection, so a renamed slow test cannot slip back into
the driver-facing fast suite unnoticed), bench.py's load sentinel flags
a flight whose final re-time disagrees with its min or its steady value,
the sources compile without warnings, and parity_check's verdict lines
survive a merged stderr."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import warnings

import bench
import conftest
import pytest

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


@pytest.mark.parametrize("pattern", [
    "soict20221_bigdata_financialplatform_spark/**/*.py",
    "bench.py",
    "tools/**/*.py",
])
def test_sources_compile_without_warnings(pattern):
    """An invalid string escape such as ``\\p`` is a DeprecationWarning at
    compile time (a SyntaxWarning from Python 3.12, and slated to become an
    error). Compile every engine, bench and tools source with both as
    errors."""
    paths = sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True))
    assert paths
    for path in paths:
        with open(path, encoding="utf-8") as f:
            src = f.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error", SyntaxWarning)
            warnings.simplefilter("error", DeprecationWarning)
            compile(src, path, "exec")


def test_parity_check_pass_line_starts_a_line(sf_dir):
    """Spark's console progress bar writes to stderr without a newline; with
    ``2>&1`` it must not glue itself in front of a verdict, or a
    ``grep ^PASS`` count drops that query."""
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "parity_check.py"), sf_dir,
         "q01_pricing_summary"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=600,
    )
    assert out.returncode == 0, out.stdout[-2000:]
    # bytes split on b"\n" only, as grep reads them: text mode and
    # splitlines() would also break lines at the bar's carriage returns
    lines = out.stdout.split(b"\n")
    assert any(line.startswith(b"PASS q01_pricing_summary") for line in lines), out.stdout[-2000:]
