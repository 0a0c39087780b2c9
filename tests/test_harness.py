"""The repository's A/B statistics (`scripts/ab.py`) and query profiler
(`scripts/query_profile.py`)."""

from __future__ import annotations

import importlib.util
import re
from pathlib import Path

import pytest

from tests.conftest import SF_DIR

SCRIPTS = Path(__file__).resolve().parent.parent / "scripts"


def _script(name: str):
    spec = importlib.util.spec_from_file_location(f"scripts_{name}", SCRIPTS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


ab = _script("ab")


def test_median_and_quartiles():
    s = ab.compare([float(x) for x in range(1, 11)], [float(x) for x in range(1, 11)])
    assert s["A"] == {"median": 5.5, "q1": 3.25, "q3": 7.75}
    assert s["B"] == s["A"]
    assert (s["A_wins"], s["B_wins"], s["pairs"]) == (0, 0, 10)


def test_ties_count_for_neither_arm():
    s = ab.compare([1.0, 2.0, 3.0], [1.0, 1.0, 4.0])
    assert (s["A_wins"], s["B_wins"]) == (1, 1)
    s = ab.compare([1.0, 2.0, 3.0], [1.0, 1.0, 4.0], better="higher")
    assert (s["A_wins"], s["B_wins"]) == (1, 1)


def test_gain_needs_nine_in_ten_pairs_and_a_gap_over_the_iqr():
    a = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.0]
    b = [x - 1.0 for x in a]
    assert ab.compare(a, b)["verdict"] == "gain"
    b9 = b[:9] + [a[9] + 1.0]  # 9 of 10 pairs won
    assert ab.compare(a, b9)["B_wins"] == 9
    assert ab.compare(a, b9)["verdict"] == "gain"
    b8 = b[:8] + [a[8], a[9] + 1.0]  # 8 won, 1 tie, 1 lost
    assert (ab.compare(a, b8)["A_wins"], ab.compare(a, b8)["B_wins"]) == (1, 8)
    assert ab.compare(a, b8)["verdict"] == "no gain"
    # every pair won, but by less than the baseline's interquartile range
    assert ab.compare(a, [x - 0.05 for x in a])["verdict"] == "no gain"
    # higher is better: the same runs read the other way round
    assert ab.compare(b, a, better="higher")["verdict"] == "gain"
    assert ab.compare(a, b, better="higher")["verdict"] == "no gain"
    # fewer than ten pairs never make a gain
    assert ab.compare(a[:5], b[:5])["verdict"] == "no gain"


@pytest.mark.parametrize(
    "b_scale, spread, verdict",
    [
        (1.10, 0.01, "within bound"),  # 10% worse, bound 25%
        (1.40, 0.01, "regressed"),  # 40% worse
        (1.00, 0.30, "unresolved"),  # quartiles 30% apart, wider than the bound
        (0.20, 0.30, "gain"),  # every run of B beats every run of A
    ],
)
def test_bound_and_unresolved(b_scale, spread, verdict):
    a = [1.0 + spread * (i % 5 - 2) for i in range(10)]
    b = [x * b_scale for x in a]
    assert ab.compare(a, b, "lower", bound=0.25)["verdict"] == verdict


def test_spread_over_the_bound_is_resolved_when_every_run_of_b_is_better():
    a = [1.0, 1.3, 0.7, 1.3, 0.7, 1.0, 1.3, 0.7, 1.0, 1.0]
    b = [0.6, 0.69, 0.65, 0.69, 0.62, 0.6, 0.69, 0.65, 0.6, 0.6]  # all below 0.7, gap < IQR
    s = ab.compare(a, b, "lower", bound=0.25)
    assert s["B_wins"] == 10
    assert s["verdict"] == "within bound"


def test_profile_reports_jobs_and_shuffle_bytes(spark):
    from mutable_spark.catalog import load_tables

    profiler = _script("query_profile")
    load_tables(spark, SF_DIR)
    q6 = profiler.profile(spark, "tpch_q6", SF_DIR)
    q3 = profiler.profile(spark, "tpch_q3", SF_DIR)
    for p in (q6, q3):
        assert p["build"]["jobs"] + p["exec"]["jobs"] > 0
        assert p["exec_s"] > 0 and p["rows"] > 0
    assert q3["exec"]["shuffle_read_bytes"] > 0 and q3["exec"]["shuffle_write_bytes"] > 0
    assert q3["scans"] == {"customer": 1, "lineitem": 1, "orders": 1}
    assert q6["scans"] == {"lineitem": 1}
    assert "#" in q3["plan"] and not re.search(r"#\d|plan_id=\d", q3["plan"])
    assert "Location: orders," in q3["plan"]
