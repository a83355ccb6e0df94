"""Iceberg binding test-readiness (skip-gated — round-5 review stretch ask).

This sandbox ships no iceberg-spark-runtime jar and has no network, so the
engine's snapshot seam runs on ParquetSnapshotIO (same interface, parquet
round-dirs + atomic manifest).  The moment a jar appears on the classpath,
this module proves the Iceberg twin in one run: the full
append / read_round / read_upto / commit_round / resume contract, plus the
engine itself crawling over IcebergSnapshotIO end-to-end.

The gate is a capability check (iceberg_jar_present), not an import-try:
pyspark imports fine either way — only the catalog needs the jar.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from subdomain_crawler_spark.sources.tableio import (
    IcebergSnapshotIO, iceberg_jar_present,
)

pytestmark = pytest.mark.skipif(
    not iceberg_jar_present(),
    reason="no iceberg-spark-runtime jar on the Spark classpath "
           "(expected in this sandbox — see tableio.py module docstring)")


@pytest.fixture(scope="module")
def iceberg_spark():
    from pyspark.sql import SparkSession

    wh = tempfile.mkdtemp(prefix="iceberg_wh_")
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("iceberg-seam-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.extensions",
                "org.apache.iceberg.spark.extensions"
                ".IcebergSparkSessionExtensions")
        .config("spark.sql.catalog.local",
                "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.local.type", "hadoop")
        .config("spark.sql.catalog.local.warehouse", wh)
        .config("spark.ui.enabled", "false")
        .getOrCreate())
    yield spark
    spark.stop()
    shutil.rmtree(wh, ignore_errors=True)


def test_append_read_roundtrip(iceberg_spark):
    io = IcebergSnapshotIO(iceberg_spark, base="", namespace="t_roundtrip")
    df = iceberg_spark.createDataFrame(
        [("a.com", 0), ("b.com", 1)], "host STRING, depth INT")
    io.append("frontier", df, 0)
    io.append("frontier", df.withColumn("depth", df.depth + 10), 1)
    assert io.exists("frontier", 0) and io.exists("frontier", 1)
    assert not io.exists("frontier", 2)
    r0 = io.read_round("frontier", 0)
    assert sorted(r.host for r in r0.collect()) == ["a.com", "b.com"]
    assert "_snap_round" not in r0.columns  # partition col stays internal
    both = io.read_upto("frontier", 1)
    assert both.count() == 4
    assert io.read_upto("missing_table", 5) is None
    # a caller-owned "round" column (http_log/dns_log/results carry one)
    # must survive the roundtrip — the JSONL exporters select it from
    # read_upto output, and ParquetSnapshotIO preserves it (parity)
    logs = iceberg_spark.createDataFrame(
        [(0, "a.com", "https")], "round INT, host STRING, proto STRING")
    io.append("http_log", logs, 0)
    back = io.read_upto("http_log", 0)
    assert back.columns == ["round", "host", "proto"]
    assert back.head()["round"] == 0


def test_commit_resume_contract(iceberg_spark):
    io = IcebergSnapshotIO(iceberg_spark, base="", namespace="t_commit")
    assert io.committed_round() == -1
    io.commit_round(0)
    io.commit_round(1, extra={"note": "x"})
    assert io.committed_round() == 1
    assert io.manifest()["committed_round"] == 1
    assert io.manifest()["note"] == "x"
    # a fresh handle over the same catalog sees the committed state (resume)
    io2 = IcebergSnapshotIO(iceberg_spark, base="", namespace="t_commit")
    assert io2.committed_round() == 1


def test_engine_crawls_over_iceberg(iceberg_spark, tmp_path):
    """The whole engine runs unchanged over the Iceberg seam: swap the io
    attribute (the engine only talks to the interface) and crawl the small
    deterministic fixture web."""
    from subdomain_crawler_spark.config import CrawlConfig
    from subdomain_crawler_spark.plans.crawl import CrawlEngine
    from subdomain_crawler_spark.sources import fixtures

    tables = fixtures.make_web(scale=1, seed=7)
    base = str(tmp_path / "web")
    fixtures.write_parquet(tables, base)
    corpus = iceberg_spark.read.parquet(f"{base}/corpus.parquet")
    dns = iceberg_spark.read.parquet(f"{base}/dns.parquet")
    eng = CrawlEngine(iceberg_spark, CrawlConfig(),
                      str(tmp_path / "crawl"), corpus, dns)
    eng.io = IcebergSnapshotIO(iceberg_spark, base="", namespace="t_engine")
    stats = eng.run(seeds=list(tables["seeds"]["seed"]), max_rounds=4)
    assert stats and stats[0].tasks_processed > 0
    assert eng.io.committed_round() == stats[-1].round
    # every round's results are readable back through the seam
    assert eng.io.read_upto("results", stats[-1].round).count() >= 0
