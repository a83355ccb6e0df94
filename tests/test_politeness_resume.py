"""M4 (politeness budgets) + M6 (checkpoint/resume) E2E tests."""

from __future__ import annotations

import pandas as pd
import pytest

from subdomain_crawler_spark.config import CrawlConfig
from subdomain_crawler_spark.plans.crawl import CrawlEngine
from subdomain_crawler_spark.plans.reference_sim import ReferenceSimulator


def _mk_engine(spark, fixture_web, workdir, cfg, with_robots):
    base = fixture_web["base"]
    return CrawlEngine(
        spark, cfg, workdir,
        spark.read.parquet(f"{base}/corpus.parquet"),
        spark.read.parquet(f"{base}/dns.parquet"),
        robots=spark.read.parquet(f"{base}/robots.parquet") if with_robots else None,
    )


# ---------------------------------------------------------------------------
# politeness (W2): engine vs simulator with per-root budgets from robots
# ---------------------------------------------------------------------------


# Spark jobs one run of the politeness fixture crawl submits (local[4], 4
# shuffle partitions, AQE on), measured when this ceiling was set. A change
# that adds jobs to a round must raise it deliberately.
POLITE_CRAWL_JOB_CEILING = 699


@pytest.fixture(scope="module")
def polite_run(spark, fixture_web, tmp_path_factory, count_jobs):
    """One politeness crawl of the fixture web and the Spark jobs its run
    submitted."""
    eng = _mk_engine(spark, fixture_web, str(tmp_path_factory.mktemp("pol")),
                     CrawlConfig(), with_robots=True)
    stats, jobs = count_jobs(eng.run, seeds=fixture_web["seeds"],
                             max_rounds=24)
    return eng, stats, jobs


@pytest.fixture(scope="module")
def polite_pair(polite_run, fixture_web):
    cfg = CrawlConfig()
    eng, stats, _ = polite_run
    t = fixture_web["tables"]
    sim = ReferenceSimulator(t["corpus"], t["dns"], cfg,
                             robots=t["robots"]).run(fixture_web["seeds"],
                                                     max_rounds=24)
    return eng, stats, sim


def test_polite_crawl_job_ceiling(polite_run):
    jobs = polite_run[2]
    assert jobs <= POLITE_CRAWL_JOB_CEILING, (
        f"politeness fixture crawl submitted {jobs} Spark jobs, ceiling "
        f"{POLITE_CRAWL_JOB_CEILING}")


def test_politeness_changes_schedule(polite_pair, crawl_ref_rounds):
    _, stats, sim = polite_pair
    # budgets must actually bite: more rounds than the unbudgeted crawl
    assert len(stats) > crawl_ref_rounds


@pytest.fixture(scope="module")
def crawl_ref_rounds(spark, fixture_web, tmp_path_factory):
    cfg = CrawlConfig()
    t = fixture_web["tables"]
    sim = ReferenceSimulator(t["corpus"], t["dns"], cfg).run(
        fixture_web["seeds"], max_rounds=24)
    return len(sim.frontiers)


def test_politeness_frontier_equivalence(polite_pair):
    eng, stats, sim = polite_pair
    assert len(stats) == len(sim.frontiers)
    for r in range(len(stats)):
        got = {(x.host, x.root, x.depth)
               for x in eng.io.read_round("frontier", r).collect()}
        assert got == set(sim.frontiers[r]), f"round {r}"


def test_politeness_seen_and_results(polite_pair):
    eng, stats, sim = polite_pair
    last = len(stats) - 1
    seen = {x.host for x in eng.io.read_upto("seen", last).collect()}
    assert seen == set(sim.seen)
    got = (eng.io.read_upto("results", last).toPandas()
           .sort_values(["round", "domain"]).reset_index(drop=True))
    want = sim.results.sort_values(["round", "domain"]).reset_index(drop=True)
    assert len(got) == len(want)
    assert list(got["domain"]) == list(want["domain"])
    assert list(got["round"]) == list(want["round"])
    for i in range(len(got)):
        assert list(got["subdomains"][i]) == list(want["subdomains"][i])


def test_politeness_metrics(polite_pair):
    eng, stats, sim = polite_pair
    for st in stats:
        row = sim.metrics[sim.metrics["round"] == st.round].iloc[0]
        for k in ["tasks_processed", "tasks_enqueued", "http_requests",
                  "success_count", "error_count", "unique_subdomains"]:
            assert getattr(st, k) == row[k], f"round {st.round} {k}"


def test_budget_respected_per_round(polite_pair, fixture_web):
    """beta.org has max_per_round=2: no round schedules more than 2 of its
    hosts (scheduled = processed minus deferred = rows that produced
    http attempts — check via the http_log)."""
    eng, stats, sim = polite_pair
    for r in range(len(stats)):
        hosts = {x.host for x in eng.io.read_round("http_log", r).collect()
                 if x.host.endswith("beta.org")}
        assert len(hosts) <= 2, f"round {r}: {sorted(hosts)}"


def test_robots_disallow_blocks_hosts(polite_pair, fixture_web):
    """The hot root disallows host-prefix 'cdn.': no cdn.* host under it is
    ever fetched (no http_log rows), while its PATH rule '/private' blocks
    nothing (we only fetch '/'). Disallowed hosts exist in the corpus, so
    the rule — not absence — is what blocks them."""
    eng, stats, sim = polite_pair
    hot = fixture_web["tables"]["robots"].iloc[0]["root"]
    corpus_cdn = {h for h in fixture_web["tables"]["corpus"]["host"]
                  if h.startswith("cdn.") and h.endswith(hot)}
    assert corpus_cdn, "fixture must contain cdn.* hosts under the hot root"
    for r in range(len(stats)):
        fetched = {x.host for x in eng.io.read_round("http_log", r).collect()}
        assert not any(h.startswith("cdn.") and h.endswith("." + hot)
                       for h in fetched), f"round {r}"


def test_crawl_delay_longer_than_window_still_schedules(spark):
    """crawl_delay > ROUND_WINDOW_SEC clamps to budget 1 (not 0): rows must
    not defer forever."""
    from subdomain_crawler_spark.operators.politeness import apply_budgets

    frontier = spark.createDataFrame(
        [(f"h{i}.slow.com", "slow.com", 0) for i in range(4)],
        "host string, root string, depth int")
    robots = spark.createDataFrame(
        [("slow.com", [], 3600, 1000)],
        "root string, disallow_prefixes array<string>, crawl_delay int,"
        "max_per_round int")
    marked = apply_budgets(frontier, robots)
    assert marked.filter("scheduled").count() == 1
    assert marked.filter("NOT scheduled").count() == 3


def test_robots_table_missing_a_column_is_refused(spark, fixture_web,
                                                   tmp_path):
    """The robots schema is fixed: a table without crawl_delay fails when
    the engine is built, before any round is committed."""
    from pyspark.errors import AnalysisException

    base = fixture_web["base"]
    robots = spark.read.parquet(f"{base}/robots.parquet").drop("crawl_delay")
    wd = tmp_path / "wd"
    with pytest.raises(AnalysisException, match="crawl_delay"):
        CrawlEngine(spark, CrawlConfig(), str(wd),
                    spark.read.parquet(f"{base}/corpus.parquet"),
                    spark.read.parquet(f"{base}/dns.parquet"), robots=robots)
    assert not (wd / "_manifest.json").exists()


def test_simulator_reads_robots_back_from_parquet(fixture_web, tmp_path):
    """``pd.read_parquet`` returns list cells as numpy arrays and null ints
    as NaN. The simulator over the fixture's robots.parquet, read back,
    must equal the simulator over the in-memory frame, and a row whose
    limits are both null (NaN after the round trip) is unlimited."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = fixture_web["tables"]
    cfg = CrawlConfig()
    seeds = fixture_web["seeds"]
    mem = ReferenceSimulator(t["corpus"], t["dns"], cfg, robots=t["robots"])
    back = pd.read_parquet(f"{fixture_web['base']}/robots.parquet")
    disk = ReferenceSimulator(t["corpus"], t["dns"], cfg, robots=back)
    assert disk.budgets == mem.budgets
    a, b = mem.run(seeds, max_rounds=24), disk.run(seeds, max_rounds=24)
    assert a.frontiers == b.frontiers and a.seen == b.seen

    path = str(tmp_path / "robots_nulls.parquet")
    pq.write_table(pa.table({
        "root": ["open.com"],
        "disallow_prefixes": pa.array([None], pa.list_(pa.string())),
        "crawl_delay": pa.array([None], pa.int32()),
        "max_per_round": pa.array([None], pa.int32()),
    }), path)
    nulls = ReferenceSimulator(t["corpus"], t["dns"], cfg,
                               robots=pd.read_parquet(path))
    assert nulls.budgets == {"open.com": ([], None)}


def test_crawl_delay_budget(polite_pair, fixture_web):
    """alpha.com: crawl_delay=5 with ROUND_WINDOW_SEC=60 → ≤12 hosts per
    round even though max_per_round is 10^6."""
    eng, stats, sim = polite_pair
    for r in range(len(stats)):
        hosts = {x.host for x in eng.io.read_round("http_log", r).collect()
                 if x.host.endswith("alpha.com")}
        assert len(hosts) <= 12, f"round {r}: {len(hosts)}"


# ---------------------------------------------------------------------------
# resume (M6)
# ---------------------------------------------------------------------------


def _final_state(eng, n_rounds):
    seen = frozenset(x.host for x in eng.io.read_upto("seen", n_rounds - 1).collect())
    res = (eng.io.read_upto("results", n_rounds - 1).toPandas()
           .sort_values(["round", "domain"]).reset_index(drop=True))
    return seen, res


def _assert_states_equal(a, b):
    assert a[0] == b[0]  # seen sets
    ra, rb = a[1], b[1]
    assert len(ra) == len(rb)
    for col in ["round", "domain", "status_code", "title", "content_length"]:
        assert list(ra[col]) == list(rb[col]), col
    for i in range(len(ra)):
        assert list(ra["subdomains"][i]) == list(rb["subdomains"][i])


def test_resume_equals_uninterrupted(spark, fixture_web, tmp_path_factory):
    cfg = CrawlConfig()
    # uninterrupted
    full = _mk_engine(spark, fixture_web,
                      str(tmp_path_factory.mktemp("full")), cfg, False)
    full_stats = full.run(seeds=fixture_web["seeds"], max_rounds=24)

    # interrupted after 2 rounds, then resumed in a fresh engine
    wd = str(tmp_path_factory.mktemp("resume"))
    a = _mk_engine(spark, fixture_web, wd, cfg, False)
    a_stats = a.run(seeds=fixture_web["seeds"], max_rounds=2)
    assert len(a_stats) == 2
    b = _mk_engine(spark, fixture_web, wd, cfg, False)
    assert b.resume_round() == 2
    b_stats = b.run(seeds=None, max_rounds=24)

    n = len(full_stats)
    assert len(a_stats) + len(b_stats) == n
    _assert_states_equal(_final_state(full, n), _final_state(b, n))


def test_resume_recovers_from_crash_mid_round(spark, fixture_web,
                                              tmp_path_factory):
    """Simulate a crash between a round's table writes and its manifest
    commit: rewind the manifest; the rerun must overwrite the orphan dirs and
    converge to the identical final state."""
    cfg = CrawlConfig()
    wd = str(tmp_path_factory.mktemp("crash"))
    a = _mk_engine(spark, fixture_web, wd, cfg, False)
    a.run(seeds=fixture_web["seeds"], max_rounds=3)
    # "crash": round 2's data dirs exist but the commit never landed
    a.io.commit_round(1)
    b = _mk_engine(spark, fixture_web, wd, cfg, False)
    assert b.resume_round() == 2
    b_stats = b.run(seeds=None, max_rounds=24)
    assert b_stats[0].round == 2

    full = _mk_engine(spark, fixture_web,
                      str(tmp_path_factory.mktemp("full2")), cfg, False)
    full_stats = full.run(seeds=fixture_web["seeds"], max_rounds=24)
    n = len(full_stats)
    _assert_states_equal(_final_state(full, n), _final_state(b, n))


def test_resume_refuses_changed_config(spark, fixture_web, tmp_path_factory):
    """Each commit records the CrawlConfig; a resume under a different one
    fails loudly, names the field and runs nothing, while the same config
    (tuple fields included, after the manifest's JSON round-trip) resumes."""
    cfg = CrawlConfig()
    wd = str(tmp_path_factory.mktemp("cfg"))
    a = _mk_engine(spark, fixture_web, wd, cfg, False)
    a.run(seeds=fixture_web["seeds"], max_rounds=1)

    b = _mk_engine(spark, fixture_web, wd,
                   CrawlConfig(max_depth=1), False)
    with pytest.raises(ValueError) as err:
        b.run(seeds=None, max_rounds=24)
    assert "max_depth (recorded 3, given 1)" in str(err.value)
    assert "expand_sld" not in str(err.value)
    assert b.io.committed_round() == 0

    c = _mk_engine(spark, fixture_web, wd, cfg, False)
    assert [st.round for st in c.run(seeds=None, max_rounds=2)] == [1]


def test_resume_names_a_field_present_on_one_side_only(spark, fixture_web,
                                                       tmp_path):
    """A field present in only one of the recorded and the given config is
    a config change even when its value is null: the resume check names
    it. Here the manifest records a since-removed field as null and lacks
    ``queue_cap``, whose given value is null."""
    import dataclasses

    cfg = CrawlConfig()
    eng = _mk_engine(spark, fixture_web, str(tmp_path / "w"), cfg, False)
    recorded = {k: v for k, v in dataclasses.asdict(cfg).items()
                if k != "queue_cap"}
    recorded["default_per_root_budget"] = None
    eng.io.commit_round(0, {"config": recorded})
    with pytest.raises(ValueError) as err:
        eng._check_resume_config()
    msg = str(err.value)
    assert "default_per_root_budget (recorded None, given absent)" in msg
    assert "queue_cap (recorded absent, given None)" in msg
    assert "max_depth" not in msg
