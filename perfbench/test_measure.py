"""Tests of the benchmark's pure helpers. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import pytest

from measure import covered, digest, parse_metric, summarize, tail_percentile


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(0) is None
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50.0
    assert tail_percentile(39) == 50.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(199) == 90.0
    assert tail_percentile(200) == 95.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9


def test_summarize_reports_count_and_supported_tail():
    assert summarize([3.0, 1.0, 2.0]) == {"median": 2.0, "n": 3}
    s = summarize([float(i) for i in range(1, 41)])
    assert s["n"] == 40 and s["median"] == 20.5
    # nearest rank: the 30th of 40 ordered values, with 10 beyond it
    assert s["p75"] == 30.0
    with pytest.raises(ValueError):
        summarize([])


def test_digest_ignores_order_and_counts_rows():
    a = digest([("a.com", "a.com", 0), ("b.a.com", "a.com", 1)])
    b = digest([("b.a.com", "a.com", 1), ("a.com", "a.com", 0)])
    assert a == b and a[0] == 2
    assert digest([("a.com", "a.com", 1)]) != digest([("a.com", "a.com", 0)])
    # fields are joined with a separator that cannot merge two fields
    assert digest([("ab", "c")]) != digest([("a", "bc")])
    assert digest([]) == (0, digest([])[1])


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(1, 4), (1, 4), (2, 3)], 0, 10) == 3
    assert covered([(4, 6)], 0, 3) == 0
    assert covered([(0, 1), (1, 2)], 0, 10) == 2


def test_parse_metric_forms_and_units():
    assert parse_metric("0 ms") == 0.0
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "5.6 s (1.4 s, 1.4 s, 1.4 s (stage 0.0: task 0))") \
        == pytest.approx(5.6)
    assert parse_metric("723 ms") == pytest.approx(0.723)
    assert parse_metric("2.1 m") == pytest.approx(126.0)
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "782.9 KiB (195.7 KiB, 195.7 KiB, 195.7 KiB "
                        "(stage 0.0: task 3))") == pytest.approx(782.9 * 1024)
    assert parse_metric("12 B") == 12.0
    assert parse_metric("1.5 GiB") == pytest.approx(1.5 * 2 ** 30)
    assert parse_metric("42") == 42.0
    with pytest.raises(ValueError):
        parse_metric("n/a")
    with pytest.raises(ValueError):
        parse_metric("3 parsecs")
