"""M2/M3 — end-to-end equivalence: CrawlEngine (Spark) vs ReferenceSimulator.

SURVEY.md §5.3: (a) exact seen-set equality, (b) per-round frontier-set
equality under synchronized-BFS, (c) result rows match after canonical sort,
(d) per-round metrics equality. The engine's seen set has one regime, the
exact ``left_anti`` against the cumulative seen table, so one crawl of the
fixture web serves every check in this module.
"""

from __future__ import annotations

import pandas as pd
import pytest

from subdomain_crawler_spark.config import CrawlConfig
from subdomain_crawler_spark.plans.crawl import CrawlEngine
from subdomain_crawler_spark.plans.reference_sim import ReferenceSimulator


def _run_engine(spark, fixture_web, tmp_path, cfg):
    base = fixture_web["base"]
    corpus = spark.read.parquet(f"{base}/corpus.parquet")
    dns = spark.read.parquet(f"{base}/dns.parquet")
    eng = CrawlEngine(spark, cfg, str(tmp_path / "crawl"), corpus, dns, robots=None)
    stats = eng.run(seeds=fixture_web["seeds"], max_rounds=10)
    return eng, stats


def _sim(fixture_web, cfg):
    t = fixture_web["tables"]
    return ReferenceSimulator(t["corpus"], t["dns"], cfg).run(
        fixture_web["seeds"], max_rounds=10)


@pytest.fixture(scope="module")
def crawl_pair(spark, fixture_web, tmp_path_factory):
    cfg = CrawlConfig(honor_robots=False)
    eng, stats = _run_engine(spark, fixture_web,
                             tmp_path_factory.mktemp("run"), cfg)
    sim = _sim(fixture_web, cfg)
    return eng, stats, sim


def test_round_count_matches(crawl_pair):
    eng, stats, sim = crawl_pair
    assert len(stats) == len(sim.frontiers)


def test_frontier_sets_per_round(crawl_pair):
    eng, stats, sim = crawl_pair
    for r, sim_rows in enumerate(sim.frontiers):
        got = {
            (x.host, x.root, x.depth)
            for x in eng.io.read_round("frontier", r).collect()
        }
        assert got == set(sim_rows), f"round {r} frontier mismatch"


def test_seen_set_equality(crawl_pair):
    eng, stats, sim = crawl_pair
    got = {
        x.host
        for x in eng.io.read_upto("seen", len(stats) - 1).collect()
    }
    assert got == set(sim.seen)


def test_results_match_golden(crawl_pair):
    eng, stats, sim = crawl_pair
    got = (
        eng.io.read_upto("results", len(stats) - 1)
        .toPandas()
        .sort_values(["round", "domain"])
        .reset_index(drop=True)
    )
    want = sim.results.sort_values(["round", "domain"]).reset_index(drop=True)
    assert len(got) == len(want)
    for col in ["round", "domain", "status", "status_code", "title",
                "content_length"]:
        pd.testing.assert_series_equal(
            got[col], want[col], check_dtype=False, check_names=False,
            obj=f"results.{col}")
    # list/nullable columns compared row-wise
    for i in range(len(got)):
        assert list(got["subdomains"][i]) == list(want["subdomains"][i]), \
            f"subdomains mismatch at {want['domain'][i]} (round {want['round'][i]})"
        assert list(got["ips"][i]) == list(want["ips"][i])
        g_err, w_err = got["error"][i], want["error"][i]
        assert (g_err is None or pd.isna(g_err)) == (w_err is None), \
            f"error mismatch at {want['domain'][i]}"


def _assert_metrics_match(stats, sim):
    want = sim.metrics
    for st in stats:
        row = want[want["round"] == st.round].iloc[0]
        for k in ["tasks_processed", "tasks_enqueued", "http_requests",
                  "dns_requests", "success_count", "error_count",
                  "unique_subdomains"]:
            assert getattr(st, k) == row[k], f"round {st.round} metric {k}"


def test_metrics_match(crawl_pair):
    eng, stats, sim = crawl_pair
    _assert_metrics_match(stats, sim)


def test_log_volumes_match(crawl_pair):
    eng, stats, sim = crawl_pair
    last = len(stats) - 1
    assert eng.io.read_upto("http_log", last).count() == len(sim.http_log)
    assert eng.io.read_upto("dns_log", last).count() == len(sim.dns_log)


def test_giant_regime_crawl_equivalence(spark, fixture_web, tmp_path,
                                        monkeypatch):
    """The shuffle-join regime (every round above BROADCAST_FRONTIER_MAX:
    plain left-join chain on host, no broadcast hints on the frontier or
    its derived sides) must produce the same crawl as the simulator. The
    corpus and dns tables arrive with >= defaultParallelism splits, so the
    corpus pre-partition (hash-partitioned, persisted join sides) is
    active too."""
    from subdomain_crawler_spark.plans import crawl as crawl_mod

    monkeypatch.setattr(crawl_mod, "BROADCAST_FRONTIER_MAX", 0)
    width = spark.sparkContext.defaultParallelism
    base = fixture_web["base"]
    corpus = spark.read.parquet(f"{base}/corpus.parquet").repartition(width)
    dns = spark.read.parquet(f"{base}/dns.parquet").repartition(width)
    cfg = CrawlConfig(honor_robots=False)
    eng = CrawlEngine(spark, cfg, str(tmp_path / "crawl"), corpus, dns)
    assert eng.corpus_meta.is_cached and eng.corpus_text.is_cached
    assert eng.dns.is_cached
    stats = eng.run(seeds=fixture_web["seeds"], max_rounds=10)
    sim = _sim(fixture_web, cfg)
    assert len(stats) == len(sim.frontiers)
    got = {x.host
           for x in eng.io.read_upto("seen", len(stats) - 1).collect()}
    assert got == set(sim.seen)
    for st, sim_rows in zip(stats, sim.frontiers):
        assert st.tasks_processed == len(sim_rows)
        got_f = {(x.host, x.root, x.depth) for x in
                 eng.io.read_round("frontier", st.round).collect()}
        assert got_f == set(sim_rows), f"round {st.round} frontier mismatch"
    _assert_metrics_match(stats, sim)


def test_response_size_cap(spark, tmp_path):
    """T1 — bodies truncate at max_response_size BEFORE extraction
    (fetcher.go:84 io.LimitReader, 10 MiB default): a host mentioned past
    the cap is never discovered, and content_length clamps to the cap.
    Engine and simulator twins must agree."""
    body = "early.cap.com " + "x" * 60 + " late.cap.com"
    corpus = pd.DataFrame({
        "host": ["cap.com", "early.cap.com"],
        "proto_ok": [["https"], ["https"]],
        "status_code": [200, 200],
        "caption": [body, "no links here"],
    })
    dns = pd.DataFrame({"host": ["cap.com", "early.cap.com"],
                        "ips": [["1.1.1.1"], ["1.1.1.2"]],
                        "rcode": [0, 0]})
    cfg = CrawlConfig(honor_robots=False, expand_sld=False,
                      max_response_size=40)
    sim = ReferenceSimulator(corpus, dns, cfg).run(["cap.com"])
    base = str(tmp_path / "web")
    spark.createDataFrame(corpus).write.parquet(f"{base}/corpus.parquet")
    spark.createDataFrame(dns).write.parquet(f"{base}/dns.parquet")
    eng = CrawlEngine(spark, cfg, str(tmp_path / "crawl"),
                      spark.read.parquet(f"{base}/corpus.parquet"),
                      spark.read.parquet(f"{base}/dns.parquet"))
    stats = eng.run(seeds=["cap.com"], max_rounds=5)
    got = (eng.io.read_upto("results", len(stats) - 1).toPandas()
           .sort_values(["round", "domain"]).reset_index(drop=True))
    want = sim.results.sort_values(["round", "domain"]).reset_index(drop=True)
    assert list(got["domain"]) == list(want["domain"])
    assert list(got["content_length"]) == list(want["content_length"])
    row = got[got["domain"] == "cap.com"].iloc[0]
    assert row["content_length"] == 40  # clamped, not len(body)
    assert list(row["subdomains"]) == ["early.cap.com"]  # late.* unseen
    all_seen = {x.host for x in
                eng.io.read_upto("seen", len(stats) - 1).collect()}
    assert "late.cap.com" not in all_seen


def test_depth4_host_seen_but_never_crawled(crawl_pair):
    """The F4-after-D1 quirk: toodeep.* enters the seen set, never a frontier."""
    eng, stats, sim = crawl_pair
    deep = "toodeep.deep.cs.lab.hotuni.edu.cn"
    assert deep in sim.seen
    seen = {x.host for x in eng.io.read_upto("seen", len(stats) - 1).collect()}
    assert deep in seen
    for r in range(len(stats)):
        hosts = {x.host for x in eng.io.read_round("frontier", r).collect()}
        assert deep not in hosts


def test_wildcard_parent_seeds_multipartition_dedup(spark, tmp_path,
                                                    monkeypatch):
    """Round-7 ADVICE (high): with seed-expander width > 1, seeds
    'kawasaki.jp' (wildcard-rule parent, expands) and 'www.kawasaki.jp'
    (PSL-error child, identity row) must still land in ONE partition —
    the old coalesce(get_root, seed) key scattered them, so the
    per-partition dedup missed the cross-partition duplicate host and
    round 0 processed www.kawasaki.jp twice. Pin: frontier 0 has no
    duplicate hosts and equals the deduped reference expansion."""
    from subdomain_crawler_spark.plans import crawl as crawl_mod

    # ~1k expanded rows at 128 rows/task: the expander runs ~9 partitions
    monkeypatch.setattr(crawl_mod, "_SEED_ROWS_PER_TASK", 128)
    corpus = spark.createDataFrame(
        [("kawasaki.jp", ["https"], 200, "hello")],
        "host string, proto_ok array<string>, status_code int, caption string")
    dns = spark.createDataFrame(
        [("kawasaki.jp", ["1.2.3.4"], 0)],
        "host string, ips array<string>, rcode int")
    cfg = CrawlConfig(honor_robots=False)
    seeds = ["kawasaki.jp", "www.kawasaki.jp", "city.kawasaki.jp",
             "x.city.kawasaki.jp", "example.com", "www.example.com",
             "www.ck", "bar.ck"]
    eng = CrawlEngine(spark, cfg, str(tmp_path / "crawl"), corpus, dns)
    eng.start(seeds)
    got = eng.io.read_round("frontier", 0).toPandas()
    assert got["host"].is_unique, (
        got[got["host"].duplicated(keep=False)].sort_values("host"))
    from subdomain_crawler_spark.plans.reference_sim import expand_seeds
    want = {}
    for host, root, depth in expand_seeds(seeds, cfg):
        cur = want.get(host)
        if cur is None or (root, depth) < cur:
            want[host] = (root, depth)
    assert {(r.host, r.root, r.depth) for r in got.itertuples()} \
        == {(h, rd[0], rd[1]) for h, rd in want.items()}


def test_seed_file_path_is_distributed(spark, tmp_path):
    """S1 scale path (round-7): seeds given as a spark.read.text DataFrame
    must flow scan→expand entirely on executors — the round-0 frontier's
    plan reads the text file directly (FileScan text), with no
    driver-list / createDataFrame(pandas) hop (which would appear as a
    LocalTableScan leaf), and matches the list-path output exactly."""
    seeds = ["example.com", "www.example.com", "# comment",
             "kawasaki.jp", "www.kawasaki.jp", "", "b.site.ck"]
    seeds_file = tmp_path / "seeds.txt"
    seeds_file.write_text("\n".join(seeds) + "\n")
    corpus = spark.createDataFrame(
        [("example.com", ["https"], 200, "hello")],
        "host string, proto_ok array<string>, status_code int, caption string")
    dns = spark.createDataFrame(
        [("example.com", ["1.2.3.4"], 0)],
        "host string, ips array<string>, rcode int")
    cfg = CrawlConfig(honor_robots=False)

    eng = CrawlEngine(spark, cfg, str(tmp_path / "c1"), corpus, dns)
    eng.start(spark.read.text(str(seeds_file)))
    plan = eng._frontier0._jdf.queryExecution().toString()
    assert "FileScan text" in plan
    assert "LocalTableScan" not in plan and "ExistingRDD" not in plan

    eng2 = CrawlEngine(spark, cfg, str(tmp_path / "c2"), corpus, dns)
    eng2.start(seeds)
    a = eng.io.read_round("frontier", 0).toPandas()
    b = eng2.io.read_round("frontier", 0).toPandas()
    key = ["host", "root", "depth"]
    assert sorted(map(tuple, a[key].itertuples(index=False))) \
        == sorted(map(tuple, b[key].itertuples(index=False)))
    assert eng._n0 == eng2._n0


def test_engine_dedup_documents_records_cap_metrics(spark, tmp_path):
    """The production dedup entry point (CrawlEngine.dedup_documents)
    persists its star-expansion cap telemetry into the engine checkpoint
    (round-8 VERDICT ask #6): one ``dedup_metrics`` row per run,
    schema-matched to q_lsh_cap_stats, riding the pipeline's own action —
    zero extra scans."""
    corpus = spark.createDataFrame(
        [("example.com", ["https"], 200, "hello")],
        "host string, proto_ok array<string>, status_code int, "
        "caption string")
    dns = spark.createDataFrame(
        [("example.com", ["1.2.3.4"], 0)],
        "host string, ips array<string>, rcode int")
    eng = CrawlEngine(spark, CrawlConfig(honor_robots=False),
                      str(tmp_path / "crawl"), corpus, dns)
    docs = spark.createDataFrame(
        [("d1", "alpha beta gamma delta"),
         ("d2", "alpha beta gamma delta"),
         ("d3", "totally different text with other words entirely")],
        "doc_id string, text string")
    labels = eng.dedup_documents(docs, bucket_cap=100)
    got = labels.toPandas().set_index("doc_id")["group_id"]
    assert got["d1"] == got["d2"] != got["d3"]
    m = eng.io.read_round("dedup_metrics", 0).toPandas()
    assert sorted(m.columns) == ["bucket_cap", "capped_buckets",
                                 "dropped_pairs", "star_edges"]
    assert len(m) == 1 and int(m["bucket_cap"].iloc[0]) == 100
    assert int(m["dropped_pairs"].iloc[0]) == 0


def test_engine_quality_filter_exports_and_records_reasons(spark, tmp_path):
    """The production quality-gate entry point (CrawlEngine.
    quality_filter_documents, round-9 VERDICT ask #6): kept rows land in
    the checkpoint's kept_documents table WITHOUT the verdict helper
    columns, per-reason counts land in quality_metrics, and both ride
    the ONE export write (the observe node sits below the keep filter,
    so rejected rows are counted without a second scan)."""
    from subdomain_crawler_spark.plans.driver_queries import QF_REASONS

    corpus = spark.createDataFrame(
        [("example.com", ["https"], 200, "hello")],
        "host string, proto_ok array<string>, status_code int, "
        "caption string")
    dns = spark.createDataFrame(
        [("example.com", ["1.2.3.4"], 0)],
        "host string, ips array<string>, rcode int")
    eng = CrawlEngine(spark, CrawlConfig(honor_robots=False),
                      str(tmp_path / "crawl"), corpus, dns)
    good = ("the quick brown fox jumps over the lazy dog and then "
            "the dog was very happy about it all day long indeed")
    docs = spark.createDataFrame(
        [(1, good),                    # kept
         (2, good),                    # exact dup of 1 -> duplicate
         (3, "der die das und ist nicht " * 5),   # -> non_english
         (4, "the cat sat")],          # -> too_short
        "doc_id long, text string")
    counts = eng.quality_filter_documents(docs)
    assert counts == {"duplicate": 1, "non_english": 1, "too_short": 1,
                      "low_quality": 0, "repetitive": 0, "kept": 1}
    kept = eng.io.read_round("kept_documents", 0).toPandas()
    assert sorted(kept.columns) == ["doc_id", "text"]  # helpers dropped
    assert list(kept["doc_id"]) == [1]
    m = eng.io.read_round("quality_metrics", 0).toPandas()
    assert len(m) == 1 and sorted(m.columns) == sorted(QF_REASONS)
    assert int(m["kept"].iloc[0]) == 1 and int(m["duplicate"].iloc[0]) == 1


def test_queue_cap_deterministic_drop(spark, tmp_path):
    """G1 deterministic analog (round 10): with enforce_queue_cap on, each
    round's next frontier is capped at queue_size rows in (depth, host)
    order, the drop count lands in RoundStats.tasks_dropped and the
    metrics table, and the kept set is exactly the lexicographic head of
    the uncapped frontier — a fixed priority replacing the reference's
    timing-dependent enqueue race (queue.go:25-39).  Dropped hosts are
    SEEN but never crawled — the same observable the reference produces
    (bloom Add happens before the enqueue attempt, worker.go:172-174)."""
    subs = [f"{c}.hub.com" for c in "abcdef"]
    hosts = ["hub.com"] + subs
    corpus = pd.DataFrame({
        "host": hosts,
        "proto_ok": [["https"]] * len(hosts),
        "status_code": [200] * len(hosts),
        "caption": [" ".join(subs)] + ["no links here"] * len(subs),
    })
    dns = pd.DataFrame({"host": hosts,
                        "ips": [["1.1.1.1"]] * len(hosts),
                        "rcode": [0] * len(hosts)})
    base = str(tmp_path / "web")
    spark.createDataFrame(corpus).write.parquet(f"{base}/corpus.parquet")
    spark.createDataFrame(dns).write.parquet(f"{base}/dns.parquet")
    cdf = spark.read.parquet(f"{base}/corpus.parquet")
    ddf = spark.read.parquet(f"{base}/dns.parquet")

    cfg = CrawlConfig(honor_robots=False, expand_sld=False,
                      enforce_queue_cap=True, queue_size=4)
    eng = CrawlEngine(spark, cfg, str(tmp_path / "capped"), cdf, ddf)
    stats = eng.run(seeds=["hub.com"], max_rounds=4)
    got = sorted(r.host for r in eng.io.read_round("frontier", 1).collect())
    assert got == ["a.hub.com", "b.hub.com", "c.hub.com", "d.hub.com"]
    assert stats[0].tasks_dropped == 2    # e./f. cut, observed exactly
    m = eng.io.read_round("metrics", 0).toPandas()
    assert int(m["tasks_dropped"].iloc[0]) == 2
    # dropped hosts are in the seen set (reference parity) but no later
    # frontier ever carries them
    seen = {x.host for x in
            eng.io.read_upto("seen", len(stats) - 1).collect()}
    assert {"e.hub.com", "f.hub.com"} <= seen
    for r in range(1, len(stats)):
        hosts_r = {x.host
                   for x in eng.io.read_round("frontier", r).collect()}
        assert not {"e.hub.com", "f.hub.com"} & hosts_r


def test_queue_cap_root_enqueue_fatal(spark, fixture_web, tmp_path):
    """G1 root parity: a round-0 frontier the cap would cut is FATAL
    (crawl_usecase.go:253-257 treats root-enqueue failure as fatal)."""
    base = fixture_web["base"]
    corpus = spark.read.parquet(f"{base}/corpus.parquet")
    dns = spark.read.parquet(f"{base}/dns.parquet")
    cfg = CrawlConfig(honor_robots=False, expand_sld=False,
                      enforce_queue_cap=True, queue_size=1)
    eng = CrawlEngine(spark, cfg, str(tmp_path / "fatal"), corpus, dns)
    assert len(fixture_web["seeds"]) > 1
    with pytest.raises(RuntimeError, match="queue is full"):
        eng.start(fixture_web["seeds"])


def test_engine_dedup_images_groups_and_metrics(spark, tmp_path):
    """CrawlEngine.dedup_images (round 10): the multimodal twin of
    dedup_documents — phash MIH + shared CC over STRING image_ids
    (lexicographic min labels), singletons own group, telemetry row in
    img_dedup_metrics; with a bucket_cap the hot-bucket counts land."""
    corpus = spark.createDataFrame(
        [("example.com", ["https"], 200, "hello")],
        "host string, proto_ok array<string>, status_code int, "
        "caption string")
    dns = spark.createDataFrame(
        [("example.com", ["1.2.3.4"], 0)],
        "host string, ips array<string>, rcode int")
    eng = CrawlEngine(spark, CrawlConfig(honor_robots=False),
                      str(tmp_path / "crawl"), corpus, dns)
    # i1~i2 (Hamming 1), i3 far from both (no shared band, dist >> 3)
    imgs = spark.createDataFrame(
        [("a.com/0", 0x0F0F), ("b.com/0", 0x0F0E),
         ("c.com/0", -0x0123456789ABCDF0)],
        "image_id string, phash long")
    labels = eng.dedup_images(imgs).toPandas().set_index("image_id")
    g = labels["group_id"]
    assert g["a.com/0"] == g["b.com/0"] == "a.com/0"  # lexicographic min
    assert g["c.com/0"] == "c.com/0"                  # singleton
    m = eng.io.read_round("img_dedup_metrics", 0).toPandas()
    assert len(m) == 1 and int(m["bucket_cap"].iloc[0]) == 0
    assert int(m["capped_buckets"].iloc[0]) == 0
    # capped form: telemetry rides the CC action
    eng2 = CrawlEngine(spark, CrawlConfig(honor_robots=False),
                       str(tmp_path / "crawl2"), corpus, dns)
    hot = spark.createDataFrame(
        [(f"h{i:02d}.com/0", 7 | (1 << 48 + i)) for i in range(5)],
        "image_id string, phash long")
    labels2 = eng2.dedup_images(hot, bucket_cap=2).toPandas()
    assert set(labels2["group_id"]) == {"h00.com/0"}  # one group via stars
    m2 = eng2.io.read_round("img_dedup_metrics", 0).toPandas()
    assert int(m2["bucket_cap"].iloc[0]) == 2
    assert int(m2["capped_buckets"].iloc[0]) == 3
    assert int(m2["star_edges"].iloc[0]) == 9
