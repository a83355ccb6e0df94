"""main.py CLI + reference-schema JSONL export, golden-checked against the
ReferenceSimulator (writer.go:33-38, entity/domain.go:20-30, artifact
result.jsonl)."""

from __future__ import annotations

import json
import re
import sys

import pytest

sys.path.insert(0, "/root/repo")

FIELD_ORDER = ["domain", "ips", "subdomains", "status", "status_code",
               "title", "content_length", "error", "timestamp"]
RFC3339_RE = re.compile(
    r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{6}(Z|[+-]\d{2}:\d{2})$")


@pytest.fixture(scope="module")
def cli_run(spark, fixture_web, tmp_path_factory):
    import main as cli

    base = fixture_web["base"]
    out = tmp_path_factory.mktemp("cli_out")
    seeds_file = out / "seeds.txt"
    seeds_file.write_text(
        "# comment line\n\n" + "\n".join(fixture_web["seeds"]) + "\n")
    argv = [
        "--seeds", str(seeds_file),
        "--corpus", f"{base}/corpus.parquet",
        "--dns", f"{base}/dns.parquet",
        "--workdir", str(out / "work"),
        "--output", str(out / "result.jsonl"),
        "--http-log", str(out / "http.jsonl"),
        "--dns-log", str(out / "dns.jsonl"),
        "--export-epoch", "1700000000",
    ]
    rc = cli.main(argv)
    assert rc == 0
    return out


def _sim(fixture_web):
    from subdomain_crawler_spark.config import CrawlConfig
    from subdomain_crawler_spark.plans.reference_sim import ReferenceSimulator

    cfg = CrawlConfig()
    sim = ReferenceSimulator(fixture_web["tables"]["corpus"],
                             fixture_web["tables"]["dns"], cfg)
    return sim.run(fixture_web["seeds"])


def test_result_jsonl_matches_simulator(cli_run, fixture_web):
    lines = [json.loads(x) for x in
             (cli_run / "result.jsonl").read_text().splitlines()]
    golden = _sim(fixture_web).results
    assert len(lines) == len(golden)
    got = {(r["domain"], r["timestamp"]): r for r in lines}
    assert len(got) == len(lines)
    for _, g in golden.iterrows():
        ts = f"1970-01-01T00:00:00.000000Z"  # placeholder; recomputed below
        # timestamp = epoch + round (deterministic export contract)
        import datetime as dt
        t = dt.datetime.fromtimestamp(1700000000 + int(g["round"]),
                                      dt.timezone.utc)
        ts = t.strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"
        key = (g["domain"], ts)
        assert key in got, key
        r = got[key]
        assert r["subdomains"] == list(g["subdomains"])
        assert r["ips"] == list(g["ips"])
        assert r["status"] == g["status"]
        assert r["status_code"] == int(g["status_code"])
        assert r["title"] == g["title"]
        assert r["content_length"] == int(g["content_length"])
        # omitempty twin: key absent iff simulator has no error
        if g["error"] is None:
            assert "error" not in r
        else:
            assert r["error"] == g["error"]


def test_result_jsonl_schema_and_order(cli_run):
    lines = (cli_run / "result.jsonl").read_text().splitlines()
    assert lines
    for x in lines:
        r = json.loads(x)
        keys = list(r.keys())
        # reference field ORDER preserved (entity/domain.go:21-29)
        assert keys == [k for k in FIELD_ORDER if k in keys]
        assert RFC3339_RE.match(r["timestamp"]), r["timestamp"]
        # raw status-line passthrough: "<code> <reason>" or "<code> "
        assert r["status"].startswith(f"{r['status_code']} ")


def test_http_jsonl_transcript(cli_run):
    """HTTPMessage fidelity (entity/log.go:4-27, artifact http.jsonl):
    request struct with method/url/proto/UA-header/body/content_length;
    response an explicit null on failed attempts, full struct on responses."""
    http = [json.loads(x) for x in
            (cli_run / "http.jsonl").read_text().splitlines()]
    assert http
    for r in http:
        assert set(r.keys()) == {"request", "response"}
        req = r["request"]
        assert list(req.keys()) == ["method", "url", "proto", "header",
                                    "body", "content_length"]
        assert req["method"] == "GET" and req["proto"] == "HTTP/1.1"
        assert req["header"] == {"User-Agent": "SubdomainCrawler/2.0"}
        assert req["url"].startswith(("https://", "http://"))
    failed = [r for r in http if r["response"] is None]
    ok = [r for r in http if r["response"] is not None]
    assert failed and ok
    for r in ok:
        resp = r["response"]
        assert list(resp.keys()) == ["proto", "status_code", "status",
                                     "header", "body", "content_length"]
        assert resp["status"].startswith(f"{resp['status_code']} ")
        assert resp["content_length"] == len(resp["body"])
        # synthesized response headers (entity/log.go:24; Go json.Marshal
        # sorts map keys so Content-Length precedes Content-Type)
        assert resp["header"] == {
            "Content-Length": str(len(resp["body"])),
            "Content-Type": "text/html; charset=utf-8"}


def test_dns_jsonl_transcript(cli_run):
    """DNSMessage fidelity (entity/log.go:30-65, artifact dns.jsonl):
    question/answer RR structs; response null + error only on total
    resolver failure; A answers match the ips."""
    dns = [json.loads(x) for x in
           (cli_run / "dns.jsonl").read_text().splitlines()]
    assert dns
    for r in dns:
        assert list(r.keys()) == ["domain", "server", "request", "response",
                                  "rtt", "error"]
        q = r["request"]["question"]
        assert q == [{"name": r["domain"] + ".", "qtype": "A", "qclass": "IN"}]
        assert r["request"]["response"] is False
        if r["response"] is None:  # total failure (resolver.go:84-97)
            assert r["error"] == "no response from any DNS server"
            assert r["server"] == ""
        else:
            assert r["error"] == "" and r["server"] == "8.8.8.8:53"
            assert r["response"]["response"] is True
            ips = [a["data"] for a in r["response"]["answer"]]
            assert all(a["type"] == "A" for a in r["response"]["answer"])
            if r["response"]["rcode"] != 0:
                assert ips == []
    assert any(r["response"] is None for r in dns)
    assert any(r["response"] and r["response"]["answer"] for r in dns)


def test_jsonl_distributed_mode_and_empty(spark, tmp_path):
    """single_file=False keeps a distributed .json directory (the at-scale
    export path); a zero-row table still yields a valid empty file."""
    from pyspark.sql import functions as F
    from subdomain_crawler_spark.sources import jsonl

    df = spark.createDataFrame(
        [(0, "a.com", ["1.2.3.4"], ["x.a.com"], "200 OK", 200, "t", 5, None)],
        "round int, domain string, ips array<string>, subdomains array<string>,"
        "status string, status_code int, title string, content_length int,"
        "error string")
    out_dir = str(tmp_path / "dist")
    jsonl.export_results_jsonl(df, out_dir, epoch=1700000000,
                               single_file=False)
    back = spark.read.json(out_dir)
    assert back.count() == 1 and "timestamp" in back.columns

    empty = df.filter(F.lit(False))
    p = tmp_path / "empty.jsonl"
    jsonl.export_results_jsonl(empty, str(p), epoch=0)
    assert p.read_text() == ""


def test_cli_resume_noop(cli_run, fixture_web):
    """--resume on a completed workdir runs zero new rounds and leaves the
    committed round unchanged."""
    import main as cli

    base = fixture_web["base"]
    from subdomain_crawler_spark.sources.tableio import ParquetSnapshotIO
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    before = ParquetSnapshotIO(spark, str(cli_run / "work")).committed_round()
    rc = cli.main([
        "--seeds", "-", "--corpus", f"{base}/corpus.parquet",
        "--dns", f"{base}/dns.parquet",
        "--workdir", str(cli_run / "work"), "--resume",
    ])
    assert rc == 0
    after = ParquetSnapshotIO(spark, str(cli_run / "work")).committed_round()
    assert after == before


def test_dashboard_renders(spark, fixture_web, tmp_path):
    """--dashboard: the presenter twin (dashboard.py) repaints counters,
    rates, success %, and a recent-discoveries ring per round — pure
    driver-side (pyarrow head of the committed seen dir; no Spark jobs)."""
    import io as _io

    from subdomain_crawler_spark.dashboard import TextDashboard
    from subdomain_crawler_spark.config import CrawlConfig
    from subdomain_crawler_spark.plans.crawl import CrawlEngine

    base = fixture_web["base"]
    corpus = spark.read.parquet(f"{base}/corpus.parquet")
    dns = spark.read.parquet(f"{base}/dns.parquet")
    eng = CrawlEngine(spark, CrawlConfig(),
                      str(tmp_path / "crawl"), corpus, dns)
    buf = _io.StringIO()
    dash = TextDashboard(io=eng.io, out=buf)
    stats = eng.run(seeds=fixture_web["seeds"], max_rounds=4,
                    progress=dash.update)
    text = buf.getvalue()
    assert "subdomain-crawler-spark" in text
    assert "recent discoveries" in text
    assert f"rounds {len(stats)}" in text
    # the ring shows real discovered hosts once any round found novelties
    if any(s.unique_subdomains for s in stats):
        assert any(line.startswith("│  ") and "." in line
                   for line in text.splitlines())
    # totals line carries the accumulated task count
    assert str(sum(s.tasks_processed for s in stats)) in text
    # ActiveDomains twin: the active-roots line shows frontier roots
    assert "│ active " in text
    active_lines = [l for l in text.splitlines() if l.startswith("│ active ")]
    assert any("." in l for l in active_lines)
    # no panel line overflows the box (long hostnames are truncated)
    widths = {len(l) for l in text.splitlines() if l.startswith("│")}
    assert len(widths) == 1, f"ragged panel lines: {sorted(widths)}"


def test_dashboard_ring_is_tail_and_truncated(tmp_path):
    """Ring semantics: most recent K discoveries = the TAIL of the committed
    round's rows (dashboard.go:241-247), and hostnames longer than the panel
    width are clipped rather than overflowing the border."""
    import io as _io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from subdomain_crawler_spark.dashboard import TextDashboard

    class _FakeIO:
        def round_dir(self, table, rnd):
            return str(tmp_path / table / f"round={rnd}")

    seen_dir = tmp_path / "seen" / "round=1"
    seen_dir.mkdir(parents=True)
    hosts = [f"h{i:03d}.example.com" for i in range(30)]
    hosts.append("x" * 80 + ".example.com")  # 92 chars — must be clipped
    pq.write_table(pa.table({"host": hosts}), seen_dir / "part-0.parquet")

    buf = _io.StringIO()
    dash = TextDashboard(io=_FakeIO(), ring_size=5, out=buf)
    dash._peek_ring(1)
    # tail of the rows, not the file head
    assert dash.ring == hosts[-5:]
    dash.render()
    widths = {len(l) for l in buf.getvalue().splitlines() if l.startswith("│")}
    assert len(widths) == 1, f"ragged panel lines: {sorted(widths)}"

    # multi-file round: the bounded walk reads files from the LAST backwards
    # and the ring spans the file boundary when the last file is short
    tail2 = ["t0.example.com", "t1.example.com"]
    pq.write_table(pa.table({"host": tail2}), seen_dir / "part-1.parquet")
    dash2 = TextDashboard(io=_FakeIO(), ring_size=5, out=_io.StringIO())
    dash2._peek_ring(1)
    assert dash2.ring == hosts[-3:] + tail2


def test_dashboard_ticker_animates_and_is_tty_gated():
    """1 Hz ticker (dashboard.go:186 time.Tick twin): on a TTY the panel
    repaints between round commits (uptime/rates animate); on a non-TTY
    stream the ticker is a no-op so log output never duplicates frames."""
    import io as _io
    import time as _time

    from subdomain_crawler_spark.dashboard import TextDashboard

    class _Tty(_io.StringIO):
        def isatty(self):
            return True

    tty = _Tty()
    dash = TextDashboard(io=None, out=tty)
    dash.render()  # frame 0 (update() would normally paint it)
    dash.start_ticker(hz=20.0)  # fast tick so the test stays sub-second
    try:
        deadline = _time.monotonic() + 2.0
        while (tty.getvalue().count("subdomain-crawler-spark") < 3
               and _time.monotonic() < deadline):
            _time.sleep(0.02)
    finally:
        dash.stop_ticker()
    frames = tty.getvalue().count("subdomain-crawler-spark")
    assert frames >= 3, f"ticker painted only {frames} frame(s)"
    # in-place repaint: every frame after the first rewinds the cursor
    assert tty.getvalue().count("\x1b[") >= frames - 1
    assert dash._ticker is None  # stop_ticker() joined and cleared it

    # non-TTY: start_ticker is a no-op — no thread, no appended frames
    buf = _io.StringIO()
    dash2 = TextDashboard(io=None, out=buf)
    dash2.start_ticker(hz=50.0)
    assert dash2._ticker is None
    _time.sleep(0.1)
    assert buf.getvalue() == ""


def test_user_agent_flag_reaches_transcript(spark, fixture_web, tmp_path):
    """--user-agent (cli/config.go:30) is OBSERVABLE offline: it is the
    request header every http.jsonl line carries. Run the CLI with a
    custom UA and assert every transcript request uses it."""
    import main as cli

    base = fixture_web["base"]
    seeds_file = tmp_path / "seeds.txt"
    seeds_file.write_text("\n".join(fixture_web["seeds"]) + "\n")
    rc = cli.main([
        "--seeds", str(seeds_file),
        "--corpus", f"{base}/corpus.parquet",
        "--dns", f"{base}/dns.parquet",
        "--workdir", str(tmp_path / "work"),
        "--http-log", str(tmp_path / "http.jsonl"),
        "--user-agent", "CustomAgent/9.9",
        "--export-epoch", "1700000000",
    ])
    assert rc == 0
    lines = [json.loads(ln) for ln in
             (tmp_path / "http.jsonl").read_text().splitlines()]
    assert lines, "empty transcript"
    assert all(ln["request"]["header"]["User-Agent"] == "CustomAgent/9.9"
               for ln in lines)


@pytest.mark.parametrize("flags,msg", [
    (["--queue-size", "0"], "queue size"),
    (["--http-timeout", "0"], "HTTP timeout"),
    (["--dns-timeout", "-1"], "DNS timeout"),
    (["--workers", "0"], "workers"),
    (["--bloom-fp", "1.5"], "false positive"),
    (["--max-response-size", "0"], "response size"),
])
def test_flag_validation_parity(flags, msg, tmp_path):
    """Config.Validate() parity (cli/config.go:96-128): non-positive
    knobs are rejected before any Spark work starts."""
    import main as cli

    argv = ["--seeds", "-", "--corpus", "x", "--dns", "y",
            "--workdir", str(tmp_path)] + flags
    with pytest.raises(SystemExit) as e:
        cli.main(argv)
    assert msg in str(e.value)
