"""Connected-components operator: adversarial diameters, convergence
guarantees, and the non-convergence raise (round-4 review asks)."""

import pytest
from pyspark.sql import functions as F

from subdomain_crawler_spark.operators.components import connected_components


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "a: long, b: long")


def _labels(df):
    return {r["id"]: r["label"] for r in df.collect()}


def test_long_chain_converges(spark):
    """A 40-node path graph (diameter 39) — the exact shape the round-4
    silent 20-iteration cap got wrong.  Pointer jumping must converge in
    ~log2(39) + confirmation rounds, and every node must carry the true
    component minimum."""
    n = 40
    out = connected_components(_pairs(spark, [(i, i + 1) for i in range(n)]),
                               driver_threshold=0)
    got = _labels(out)
    assert got == {i: 0 for i in range(n + 1)}


def test_multiple_components_and_cliques(spark):
    edges = (
        [(i, i + 1) for i in range(10, 15)]          # path 10..15
        + [(a, b) for a in range(20, 24) for b in range(a + 1, 24)]  # clique
        + [(100, 101)]                                # lone pair
    )
    got = _labels(connected_components(_pairs(spark, edges)))
    assert all(got[i] == 10 for i in range(10, 16))
    assert all(got[i] == 20 for i in range(20, 24))
    assert got[100] == got[101] == 100


def test_nonconvergence_raises(spark):
    """max_rounds too small for the diameter → RuntimeError, never silently
    wrong labels."""
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            _pairs(spark, [(i, i + 1) for i in range(60)]), max_rounds=3,
            driver_threshold=0)


def test_round_count_is_logarithmic(spark):
    """The doubling property: a 60-node chain must converge well under the
    ~diameter rounds plain propagation needs — 12 rounds is ample for
    log2(59)+confirmation, and far below 59."""
    out = connected_components(
        _pairs(spark, [(i, i + 1) for i in range(60)]), max_rounds=12,
        driver_threshold=0)
    got = _labels(out)
    assert got == {i: 0 for i in range(61)}


def test_empty_pairs(spark):
    out = connected_components(
        _pairs(spark, []).filter(F.col("a") > 0))
    assert out.count() == 0


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
               .toArray())


def test_no_leaked_cache_entries(spark):
    """Round-5 review ask: every intermediate (edges persist, per-round
    label checkpoints) must be released eagerly — only the RESULT's own
    checkpoint blocks may remain, and free_checkpoint_blocks drops those.
    Net persistent-RDD delta after the operator + explicit result free
    must be zero (no waiting on the async ContextCleaner)."""
    from subdomain_crawler_spark.operators.components import \
        free_checkpoint_blocks

    before = _persistent_rdd_ids(spark)
    out = connected_components(
        _pairs(spark, [(i, i + 1) for i in range(30)] + [(50, 51)]),
        driver_threshold=0)
    assert out.count() == 33
    leaked = _persistent_rdd_ids(spark) - before
    # the result itself is checkpoint-backed — exactly one live entry
    assert len(leaked) <= 1, f"leaked cache entries: {leaked}"
    free_checkpoint_blocks(out)
    assert not (_persistent_rdd_ids(spark) - before)


def test_driver_fast_path_parity(spark):
    """The size-gated union-find fast path must match the distributed loop
    bit-for-bit on a mixed graph (chains + cliques + lone pairs + dup and
    reversed edges)."""
    edges = (
        [(i, i + 1) for i in range(10, 15)]
        + [(a, b) for a in range(20, 24) for b in range(a + 1, 24)]
        + [(100, 101), (101, 100), (100, 101)]      # dup + reversed
        + [(59 - i, 60 - i) for i in range(20)]      # descending chain
    )
    fast = _labels(connected_components(_pairs(spark, edges)))
    dist = _labels(connected_components(_pairs(spark, edges),
                                        driver_threshold=0))
    assert fast == dist
    assert fast[101] == 100 and fast[15] == 10
    assert all(fast[i] == 40 for i in range(40, 61))

    # string ids: lexicographic-min labels on both paths; a self-pair
    # makes c.com/0 a singleton component labelled by itself
    spairs = spark.createDataFrame(
        [("b.com/0", "a.com/0"), ("c.com/0", "c.com/0")],
        "a: string, b: string")
    for thr in (250_000, 0):
        got = _labels(connected_components(spairs, driver_threshold=thr))
        assert got == {"a.com/0": "a.com/0", "b.com/0": "a.com/0",
                       "c.com/0": "c.com/0"}
