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


# Spark jobs one run of the fixture crawl submits (local[4], 4 shuffle
# partitions, AQE on), measured when this ceiling was set. A change that
# adds jobs to a round must raise it deliberately.
CRAWL_JOB_CEILING = 133


def _sim(fixture_web, cfg):
    t = fixture_web["tables"]
    return ReferenceSimulator(t["corpus"], t["dns"], cfg).run(
        fixture_web["seeds"], max_rounds=10)


@pytest.fixture(scope="module")
def crawl_run(spark, fixture_web, tmp_path_factory, count_jobs):
    """One crawl of the fixture web and the Spark jobs its run submitted."""
    base = fixture_web["base"]
    eng = CrawlEngine(spark, CrawlConfig(),
                      str(tmp_path_factory.mktemp("run") / "crawl"),
                      spark.read.parquet(f"{base}/corpus.parquet"),
                      spark.read.parquet(f"{base}/dns.parquet"))
    stats, jobs = count_jobs(eng.run, seeds=fixture_web["seeds"],
                             max_rounds=10)
    return eng, stats, jobs


@pytest.fixture(scope="module")
def crawl_pair(crawl_run, fixture_web):
    eng, stats, _ = crawl_run
    return eng, stats, _sim(fixture_web, CrawlConfig())


def test_crawl_job_ceiling(crawl_run):
    jobs = crawl_run[2]
    assert jobs <= CRAWL_JOB_CEILING, (
        f"fixture crawl submitted {jobs} Spark jobs, ceiling "
        f"{CRAWL_JOB_CEILING}")


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
    cfg = CrawlConfig()
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
    cfg = CrawlConfig(expand_sld=False, max_response_size=40)
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
    cfg = CrawlConfig()
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
    cfg = CrawlConfig()

    eng = CrawlEngine(spark, cfg, str(tmp_path / "c1"), corpus, dns)
    written = {}
    append = eng.io.append

    def capture(table, df, rnd):
        written[table, rnd] = df
        append(table, df, rnd)

    eng.io.append = capture
    n_file = eng.start(spark.read.text(str(seeds_file)))
    plan = written["frontier", 0]._jdf.queryExecution().toString()
    assert "FileScan text" in plan
    assert "LocalTableScan" not in plan and "ExistingRDD" not in plan

    eng2 = CrawlEngine(spark, cfg, str(tmp_path / "c2"), corpus, dns)
    n_list = eng2.start(seeds)
    a = eng.io.read_round("frontier", 0).toPandas()
    b = eng2.io.read_round("frontier", 0).toPandas()
    key = ["host", "root", "depth"]
    assert sorted(map(tuple, a[key].itertuples(index=False))) \
        == sorted(map(tuple, b[key].itertuples(index=False)))
    assert n_file == n_list == len(a)


def test_start_caches_nothing(spark, fixture_web, tmp_path):
    """``start`` writes the round-0 frontier straight from the expansion
    plan: it leaves nothing in Spark's cache, and the row count it returns
    is the committed table's. Every round reads its frontier back from
    that table."""
    base = fixture_web["base"]
    eng = CrawlEngine(spark, CrawlConfig(), str(tmp_path / "crawl"),
                      spark.read.parquet(f"{base}/corpus.parquet"),
                      spark.read.parquet(f"{base}/dns.parquet"))
    spark.catalog.clearCache()
    n = eng.start(fixture_web["seeds"])
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert n == eng.io.read_round("frontier", 0).count()


def test_queue_cap_deterministic_drop(spark, tmp_path):
    """G1 deterministic analog (round 10): with queue_cap set, each
    round's next frontier is capped at queue_cap rows in (depth, host)
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

    cfg = CrawlConfig(expand_sld=False, queue_cap=4)
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
    cfg = CrawlConfig(expand_sld=False, queue_cap=1)
    eng = CrawlEngine(spark, cfg, str(tmp_path / "fatal"), corpus, dns)
    assert len(fixture_web["seeds"]) > 1
    with pytest.raises(RuntimeError, match="queue is full"):
        eng.start(fixture_web["seeds"])
