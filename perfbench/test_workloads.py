"""Tests of the benchmark's input generation. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import workloads


def test_rename_roots_changes_names_but_not_the_work():
    from subdomain_crawler_spark.sources import fixtures

    w = workloads.WORKLOADS["crawl-polite"]
    base = fixtures.make_web(scale=1)
    a = workloads._rename_roots(base, 1)
    b = workloads._rename_roots(base, 2)
    assert a["corpus"].equals(workloads._rename_roots(base, 1)["corpus"])
    assert set(a["corpus"]["host"]).isdisjoint(b["corpus"]["host"])
    assert set(a["dns"]["host"]) == set(a["corpus"]["host"])
    ref_a = workloads._reference(w, a, list(a["seeds"]["seed"]))
    ref_b = workloads._reference(w, b, list(b["seeds"]["seed"]))
    assert ref_a["stats"] == ref_b["stats"]
    assert ref_a["frontiers"] != ref_b["frontiers"]
