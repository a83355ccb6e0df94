"""Physical-plan shape assertions — the scale contract, checked in CI.

These pin the properties that make the 100 TB story true: filters reach the
parquet scan, small sides broadcast, the extraction UDF is Arrow-evaluated,
and nothing silently degenerates into a cartesian or a dropped hint.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from subdomain_crawler_spark.plans import driver_queries as dq

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    df = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity"))
    p = plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]" in p
    # column pruning: only the two projected columns are read
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in p


def test_tpch_q3_broadcasts_dimension(spark):
    p = plan(dq.q_tpch_q3(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_semi_join_is_broadcast(spark):
    p = plan(dq.q_j3_semi_join(spark, SF))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_extraction_is_arrow_eval(spark):
    p = plan(dq.q_fingerprint64(spark, SF))
    assert "ArrowEvalPython" in p  # vectorized pandas UDF, not BatchEvalPython
    assert "BatchEvalPython" not in p


def test_anti_join_shape(spark):
    p = plan(dq.q_d1_anti_join(spark, SF))
    assert "LeftAnti" in p


def test_q1_map_side_partial_aggregate(spark):
    """Two HashAggregates around one exchange = map-side combine before the
    single shuffle (WholeStageCodegen spans only show post-AQE-finalization,
    so the structural partial-agg shape is what CI pins)."""
    p = plan(dq.q_tpch_q1(spark, SF))
    assert p.count("HashAggregate") >= 2
    assert p.count("Exchange") <= 2  # one shuffle (+AQE reuse marker at most)


def test_dedup_frontier_partial_aggregate(spark):
    """Frontier dedup is a groupBy+min-struct (map-side combine collapses a
    hot host's duplicates before the shuffle), not a window row_number
    (which would ship every duplicate to one task)."""
    from subdomain_crawler_spark.plans.crawl import CrawlEngine

    df = spark.createDataFrame(
        [("a.com", "a.com", 1), ("a.com", "a.com", 2)],
        "host string, root string, depth int")
    p = plan(CrawlEngine._dedup_frontier(df))
    # struct-min lowers to SortAggregate; partial_min = map-side combine
    assert "partial_min" in p
    assert "Window" not in p


def test_politeness_robots_join_broadcasts(spark, fixture_web):
    """The robots table joins broadcast (tiny dim vs 10^10-row frontier), and
    one ranked frame carries both sides of the split: its plan holds the
    salted phase-1 window and the per-root phase-2 window once each, with
    no anti-join, so a persisted frame serves the scheduled and the
    deferred rows from one evaluation."""
    import re

    from subdomain_crawler_spark.operators.politeness import apply_budgets

    base = fixture_web["base"]
    frontier = spark.createDataFrame(
        [("www.a.com", "a.com", 0)], "host string, root string, depth int")
    robots = spark.read.parquet(f"{base}/robots.parquet")
    p = plan(apply_budgets(frontier, robots))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert len(re.findall(r"^\(\d+\) Window$", p, re.M)) == 2
    assert "LeftAnti" not in p


def test_round0_frontier_dedups_on_the_host_shuffle(spark, fixture_web,
                                                    tmp_path):
    """Round 0 takes one Python stage (the fused seed expander) and one
    shuffle of the expanded rows, by host. The dedup is a codegen
    HashAggregate over that same exchange: no key UDF spreads the seeds
    and no SortAggregate sorts on host. Checked on the frame ``start``
    writes as ``frontier/round=0``."""
    from subdomain_crawler_spark.config import CrawlConfig
    from subdomain_crawler_spark.plans.crawl import CrawlEngine

    base = fixture_web["base"]
    eng = CrawlEngine(spark, CrawlConfig(), str(tmp_path / "c"),
                      spark.read.parquet(f"{base}/corpus.parquet"),
                      spark.read.parquet(f"{base}/dns.parquet"))
    written = {}
    append = eng.io.append

    def capture(table, df, rnd):
        written[table, rnd] = df
        append(table, df, rnd)

    eng.io.append = capture
    eng.start(fixture_web["seeds"])
    # the write runs its own copy of this frame, so the frame's plan is the
    # one AQE starts from
    p = written["frontier", 0]._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in p, p
    assert p.count("MapInPandas") == 1, p
    assert p.count("Exchange hashpartitioning(host") == 1, p
    assert (p.index("Exchange hashpartitioning(host")
            < p.index("MapInPandas")), p  # above the expander
    assert "HashAggregate" in p and "SortAggregate" not in p, p


def test_crawl_fetch_join_broadcasts_frontier(spark, fixture_web, tmp_path):
    """The small-round join chain must keep every join broadcast — the
    corpus/dns tables stream through broadcast-inner extracts and the
    frontier LEFT-joins the broadcast extracts: zero frontier shuffles, no
    SortMergeJoin anywhere (a dropped hint here silently shuffles the
    100 TB side). Giant rounds must instead be a shuffle join chain with no
    broadcast of the frontier (a 10^10-row broadcast would kill the
    driver)."""
    from subdomain_crawler_spark.config import CrawlConfig
    from subdomain_crawler_spark.plans.crawl import CrawlEngine

    base = fixture_web["base"]
    eng = CrawlEngine(spark, CrawlConfig(),
                      str(tmp_path / "c"),
                      spark.read.parquet(f"{base}/corpus.parquet"),
                      spark.read.parquet(f"{base}/dns.parquet"))
    eng.start(fixture_web["seeds"])
    f = eng.io.read_round("frontier", 0)

    p = plan(eng._join_frontier(f, small_round=True))
    assert p.count("BroadcastHashJoin") >= 4  # 2 extracts + 2 left joins
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p

    # disable auto-broadcast so the tiny fixture corpus doesn't mask the
    # giant-round plan shape (at 10^10 rows nothing auto-broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p_big = plan(eng._join_frontier(f, small_round=False))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in p_big
    assert "BroadcastHashJoin" not in p_big


def test_a2_rates_partial_aggregate(spark):
    """A2 rates is a tumbling-window groupBy: two HashAggregates around one
    exchange (map-side combine — per-bucket partials collapse before the
    shuffle; the shuffled key space is (bucket, event_type), which grows
    with time span, not row count)."""
    p = plan(dq.q_a2_rates(spark, SF))
    assert p.count("HashAggregate") >= 2
    assert p.count("Exchange") <= 2
    assert "Window" not in p  # tumbling window = project + group, no W-node


def test_round_table_codec_default_zstd(spark, tmp_path):
    """Round tables are written zstd (BENCH §3e codec A/B) and the engine
    reads its own rounds back."""
    import glob

    from subdomain_crawler_spark.sources.tableio import ParquetSnapshotIO

    df = spark.range(10).selectExpr("cast(id as string) as host")
    io = ParquetSnapshotIO(spark, str(tmp_path / "w"))
    io.append("t", df, 0)
    assert glob.glob(io.round_dir("t", 0) + "/*.zstd.parquet")
    assert io.read_upto("t", 0).count() == 10


def test_ann_ivf_arrow_parity(spark):
    """The Arrow argmax kernel is BIT-EQUAL to an argmax over the
    oracle-pinned `_cos4` expression (the q_ann_ivf docstring's contract):
    same cell for every vector and the same final top-k, at the default
    k=16 and at k=40, on the sf0.1 embeddings — the kernel emulates
    `_cos4`'s arithmetic exactly (f32 products, sequential f64 fold,
    HALF_UP round; _ivf_scores_np).  The reference is built here: a
    vectors × centroids crossJoin scored with `_cos4`, argmax by
    row_number over (score desc, cid asc)."""
    from pyspark.sql import Window

    sf = "/root/testdata/sf0.1"
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))

    for k in (16, 40):
        cents = (e.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= k))
                 .select("vec_id", "embedding").orderBy("vec_id").collect())
        cmat = [list(map(float, r["embedding"])) for r in cents]
        cids = [int(r["vec_id"]) for r in cents]
        vectors = e.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
        c = e.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= k)).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))

        w = Window.partitionBy("vec_id").orderBy(F.desc("score"), "cid")
        ref = (vectors.crossJoin(F.broadcast(c))
               .withColumn("score", dq._cos4(F.col("embedding"),
                                             F.col("cv")))
               .withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1)
               .select("vec_id", F.col("cid").alias("cell"), "embedding"))
        arw = dq._ivf_cells_arrow(vectors, cmat, cids)
        cells_ref = {r["vec_id"]: r["cell"]
                     for r in ref.select("vec_id", "cell").collect()}
        cells_arw = {r["vec_id"]: r["cell"]
                     for r in arw.select("vec_id", "cell").collect()}
        assert cells_ref == cells_arw, f"cell assignment diverged at k={k}"

        # end-to-end: the full query returns the reference's top-k
        probe = (c.crossJoin(q)
                 .select("cid", dq._cos4(F.col("cv"), F.col("qv"))
                         .alias("qcos"))
                 .orderBy(F.desc("qcos"), "cid").limit(dq._IVF_NPROBE)
                 .select(F.col("cid").alias("cell")))
        rows_ref = [tuple(r) for r in
                    ref.join(F.broadcast(probe), "cell").crossJoin(q)
                    .select("vec_id", "cell",
                            dq._cos4(F.col("embedding"), F.col("qv"))
                            .alias("cos_sim"))
                    .orderBy(F.desc("cos_sim"), "vec_id")
                    .limit(dq._IVF_TOPK).collect()]
        rows_arw = [tuple(r) for r in dq.q_ann_ivf(spark, sf, k=k).collect()]
        assert rows_ref == rows_arw, f"top-k diverged at k={k}"


def test_ann_recall_matches_python_recomputation(spark):
    """q_ann_recall (round 9): the recall row equals the set intersection
    of the two underlying top-k queries recomputed in python, and is a
    valid proportion of k."""
    sf = "/root/testdata/sf0.01"
    exact = {r["vec_id"] for r in dq.q_cosine_topk(spark, sf).collect()}
    ivf = {r["vec_id"] for r in dq.q_ann_ivf(spark, sf).collect()}
    [row] = dq.q_ann_recall(spark, sf).collect()
    assert row["k"] == dq._IVF_TOPK
    assert row["n_hits"] == len(exact & ivf)
    assert row["recall_at_k"] == round(len(exact & ivf) / dq._IVF_TOPK, 4)
    assert 0 <= row["n_hits"] <= dq._IVF_TOPK


def test_pair_cos4_parity(spark):
    """The Arrow pair-cosine kernel (_pair_cos4_np / _udf_pair_cos4) is
    BIT-EQUAL to the literal `_cos4` zip_with/aggregate expression it
    replaced on every pair-scoring path (round 11): same rounded value for
    every (vector, query) pair of the sf0.1 embeddings — f32 products,
    sequential f64 fold, HALF_UP round."""
    sf = "/root/testdata/sf0.1"
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    j = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    lit = {r["vec_id"]: r["c"] for r in j.select(
        "vec_id", dq._cos4("embedding", F.col("qv")).alias("c")).collect()}
    arw = {r["vec_id"]: r["c"] for r in j.select(
        "vec_id",
        dq._udf_pair_cos4("embedding", "qv").alias("c")).collect()}
    assert lit == arw
