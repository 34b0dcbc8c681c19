"""bench.py's comparison logic and the profiler's import surface. No
Spark session: these pin what the bench decides, not what it measures."""

from __future__ import annotations

import os
import subprocess
import sys

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_regression_rule_floors():
    """Flagged only when the baseline time is at least 0.2 s, the ratio is
    above 1.5x and the excess is above 0.3 s; worst ratio first."""
    baseline = {
        "under_time_floor": 0.19,
        "at_time_floor": 0.2,
        "under_ratio": 1.0,
        "under_delta": 0.4,
        "regressed": 1.0,
    }
    timings = {
        "under_time_floor": 0.6,  # 3.2x, +0.41 s, but prev < 0.2 s
        "at_time_floor": 0.55,  # 2.75x, +0.35 s
        "under_ratio": 1.45,  # +0.45 s, but 1.45x
        "under_delta": 0.65,  # 1.63x, but +0.25 s
        "regressed": 1.6,  # 1.6x, +0.6 s
        "not_in_baseline": 9.0,
    }
    flagged = bench.regressions(timings, baseline)
    assert [r["query"] for r in flagged] == ["at_time_floor", "regressed"]
    assert flagged[1] == {
        "query": "regressed", "prev_sec": 1.0, "now_sec": 1.6, "ratio": 1.6,
    }


def test_baseline_file_per_scale_and_core_count():
    """An 8-core run and a 32-core run at one scale keep separate records;
    the committed sf0.1 8-core record is where an 8-core sf0.1 run reads."""
    assert bench.baseline_name("0.1", 8) == "BENCH_FULL_sf0.1_c8.json"
    assert bench.baseline_name("0.1", 32) == "BENCH_FULL_sf0.1_c32.json"
    assert bench.baseline_name("0.01", 8) == "BENCH_FULL_sf0.01_c8.json"
    assert os.path.exists(os.path.join(ROOT, bench.baseline_name("0.1", 8)))


def test_imports_start_no_session():
    """Importing the bench or the profiler launches no JVM: each starts
    its session in main()."""
    code = (
        "import bench, tools.profile_queries\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._gateway is None\n"
        "assert SparkContext._active_spark_context is None\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True)
