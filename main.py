"""Runnable CLI entrypoint — the PySpark twin of the reference executable.

Reference: /root/reference/cmd/subdomain-crawler/main.go:15-89 with flags at
pkg/interface/cli/config.go:12-54 (input `-i` file-or-stdin, output JSONL
paths, --max-depth, --workers, --expand-sld, --dashboard, ...).
--http-timeout, --dns-timeout, --bloom-size and --bloom-fp are accepted
(and validated as the reference does) for CLI parity but have no effect:
the corpus/dns tables ARE the network here (SURVEY.md §2.1 S6/S7), so
nothing can time out, and the seen set is an exact anti-join, not a bloom
filter.
--dashboard renders the presenter twin of the reference TUI
(subdomain_crawler_spark/dashboard.py) — per-round repaint of counters,
rates, success %, and the recent-discoveries ring.

Usage (spark-submit or plain python — SparkSession picks up the master from
spark-submit when present, else local[--workers]):

    spark-submit --py-files crawler.zip main.py \
        --seeds seeds.txt --corpus web/corpus.parquet --dns web/dns.parquet \
        --workdir /tmp/crawl --output result.jsonl

    cat seeds.txt | python main.py --seeds - --corpus ... --workdir ...

Outputs: the workdir's snapshot tables (results/http_log/dns_log/seen/
frontier/metrics, resumable via --resume) plus reference-schema JSONL
exports for results / http log / dns log.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="subdomain-crawler-spark",
        description="PySpark-native subdomain-discovery crawl over a corpus table")
    p.add_argument("-i", "--seeds", default="-",
                   help="seed root domains, one per line ('-' = stdin; "
                        "blank/# lines skipped) [ref: --input]")
    p.add_argument("--corpus", required=True,
                   help="parquet path: the web stand-in "
                        "(host, proto_ok, status_code, caption[, image cols])")
    p.add_argument("--dns", dest="dns_table", required=True,
                   help="parquet path: dns table (host, ips, rcode)")
    p.add_argument("--robots", default=None,
                   help="optional parquet path: robots table "
                        "(root, disallow_prefixes, crawl_delay, max_per_round)")
    p.add_argument("--workdir", required=True,
                   help="snapshot-table directory (checkpoint/resume root)")
    p.add_argument("-o", "--output", default=None,
                   help="JSONL results export path [ref default: result.jsonl]")
    p.add_argument("--http-log", default=None,
                   help="JSONL HTTP-log export path [ref default: http.jsonl]")
    p.add_argument("--dns-log", default=None,
                   help="JSONL DNS-log export path [ref default: dns.jsonl]")
    p.add_argument("--max-depth", type=int, default=3,
                   help="maximum subdomain depth [ref default 3]")
    p.add_argument("--workers", type=int, default=32,
                   help="parallelism when not under spark-submit "
                        "[ref: worker-pool size, default 32]")
    p.add_argument("--max-rounds", type=int, default=64,
                   help="BFS round cap (the reference runs to queue-empty)")
    sld = p.add_mutually_exclusive_group()
    sld.add_argument("--expand-sld", dest="expand_sld", action="store_true",
                     default=True, help="expand SLD seeds with the common-"
                     "prefix list [ref default true]")
    sld.add_argument("--no-expand-sld", dest="expand_sld", action="store_false")
    p.add_argument("--subdomains", default=None,
                   help="comma-separated custom prefixes merged into the "
                        "expansion list (expander.go custom prefixes)")
    p.add_argument("--max-response-size", type=int, default=10 * 1024 * 1024,
                   help="truncate fetched bodies at this many chars before "
                        "extraction; content_length is clamped "
                        "[ref: MaxResponseSize 10 MiB, fetcher.go:84]")
    p.add_argument("--user-agent", default="SubdomainCrawler/2.0",
                   help="HTTP User-Agent header written into every "
                        "http.jsonl request transcript "
                        "[ref: cli/config.go:30]")
    p.add_argument("--http-timeout", type=int, default=10,
                   help="HTTP request timeout in seconds — validated for "
                        "CLI parity; no effect on the offline engine (the "
                        "corpus join cannot time out) "
                        "[ref: cli/config.go:28]")
    p.add_argument("--dns-timeout", type=int, default=5,
                   help="DNS query timeout in seconds — validated for "
                        "CLI parity; no effect on the offline engine "
                        "[ref: cli/config.go:37]")
    p.add_argument("--queue-size", type=int, default=10_000,
                   help="reference task-queue size — validated and "
                        "recorded for CLI parity; without "
                        "--enforce-queue-cap Spark's scheduler replaces "
                        "the bounded queue (G1 divergence, COVERAGE.md "
                        "2.6) [ref: cli/config.go:23]")
    p.add_argument("--enforce-queue-cap", action="store_true",
                   help="G1 deterministic analog: cap each round's next "
                        "frontier at --queue-size rows in (depth, host) "
                        "order, record drops in metrics, refuse a round-0 "
                        "frontier over the cap (the reference's drop set "
                        "is timing-defined; this reproduces the bounded-"
                        "frontier semantics deterministically) "
                        "[ref: queue.go:25-39]")
    p.add_argument("--bloom-size", type=int, default=1_000_000,
                   help="seen-filter capacity — accepted for CLI "
                        "parity; no effect (the seen set is exact) "
                        "[ref default 1e6]")
    p.add_argument("--bloom-fp", type=float, default=0.01,
                   help="seen-filter false-positive rate — validated for "
                        "CLI parity; no effect (the seen set is exact) "
                        "[ref default 0.01]")
    p.add_argument("--dashboard", action="store_true",
                   help="render the live text dashboard (counters, rates, "
                        "recent-discoveries ring) to stderr per round "
                        "[ref: presenter/dashboard.go]")
    p.add_argument("--resume", action="store_true",
                   help="resume from the workdir's last committed round "
                        "(seeds ignored if a committed round exists)")
    p.add_argument("--export-epoch", type=float, default=None,
                   help="fixed epoch for deterministic JSONL timestamps "
                        "(tests); default: wall clock")
    return p.parse_args(argv)


def read_seeds_stdin() -> list[str]:
    """stdin seeds stay a driver-side list (reference parity: the Go
    assembler reads its input serially, assembler.go:106-139); FILE seed
    paths never touch this — main() hands them to ``spark.read.text`` so
    a 10^8-line seed file is scanned on executors, not the driver."""
    return [line.rstrip("\n") for line in sys.stdin]


def build_spark(workers: int):
    """Returns (spark, owns_session). Reuses an already-active session (e.g.
    under pytest) without stopping it on exit."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        return active, False
    b = (SparkSession.builder.appName("subdomain-crawler-spark")
         .config("spark.sql.shuffle.partitions", str(workers))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.adaptive.enabled", "true"))
    # Under spark-submit the JVM gateway is pre-launched and exports
    # PYSPARK_GATEWAY_PORT/SECRET into this process; the submitted
    # --master/--conf spark.master must win. Only a plain `python main.py`
    # run (no gateway, no spark.master in the environment) sizes a local
    # master from --workers.
    under_submit = ("PYSPARK_GATEWAY_PORT" in os.environ
                    or os.environ.get("SPARK_MASTER")
                    or os.environ.get("MASTER"))
    if not under_submit:
        b = b.master(f"local[{workers}]")
    return b.getOrCreate(), True


def validate_args(args) -> None:
    """Reference Config.Validate() parity (cli/config.go:96-128): reject
    non-positive workers/timeouts/queue/response cap and out-of-range
    bloom FP with the same error sentences."""
    checks = [
        (args.workers <= 0, f"number of workers must be > 0, got {args.workers}"),
        (args.max_depth < 0, f"max depth must be >= 0, got {args.max_depth}"),
        (args.queue_size <= 0, f"queue size must be > 0, got {args.queue_size}"),
        (args.http_timeout <= 0, f"HTTP timeout must be > 0, got {args.http_timeout}s"),
        (args.dns_timeout <= 0, f"DNS timeout must be > 0, got {args.dns_timeout}s"),
        (args.max_response_size <= 0,
         f"max response size must be > 0, got {args.max_response_size}"),
        (not 0 < args.bloom_fp < 1,
         "bloom filter false positive rate must be between 0 and 1, "
         f"got {args.bloom_fp}"),
    ]
    for bad, msg in checks:
        if bad:
            raise SystemExit(f"error: {msg}")


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    validate_args(args)
    from subdomain_crawler_spark.config import CrawlConfig
    from subdomain_crawler_spark.plans.crawl import CrawlEngine
    from subdomain_crawler_spark.sources import jsonl

    spark, owns_session = build_spark(args.workers)
    corpus = spark.read.parquet(args.corpus)
    dns = spark.read.parquet(args.dns_table)
    robots = spark.read.parquet(args.robots) if args.robots else None
    custom = tuple(s for s in (args.subdomains or "").split(",") if s)
    cfg = CrawlConfig(
        max_depth=args.max_depth,
        expand_sld=args.expand_sld,
        custom_prefixes=custom,
        max_response_size=args.max_response_size,
        user_agent=args.user_agent,
        queue_size=args.queue_size,
        enforce_queue_cap=args.enforce_queue_cap,
    )
    engine = CrawlEngine(spark, cfg, args.workdir, corpus, dns, robots=robots)

    seeds = None
    if not (args.resume and engine.resume_round() > 0):
        # '-' = stdin (driver-side list, reference parity); a path is read
        # distributed — spark.read.text, no driver materialization (S1
        # scale path, round-7)
        seeds = (read_seeds_stdin() if args.seeds == "-"
                 else spark.read.text(args.seeds))

    dash = None
    if args.dashboard:
        from subdomain_crawler_spark.dashboard import TextDashboard

        dash = TextDashboard(io=engine.io)
        dash.start_ticker()  # 1 Hz animated repaint (TTY only)
        progress = dash.update
    else:
        progress = lambda st: print(
            f"round {st.round}: processed={st.tasks_processed} "
            f"novel={st.unique_subdomains} enqueued={st.tasks_enqueued} "
            + (f"dropped={st.tasks_dropped} " if st.tasks_dropped else "")
            + f"({st.wall_sec:.1f}s)", file=sys.stderr)
    try:
        stats = engine.run(seeds=seeds, max_rounds=args.max_rounds,
                           progress=progress)
    finally:
        if dash is not None:
            dash.stop_ticker()

    last = engine.io.committed_round()
    if last >= 0:
        if args.output:
            results = engine.io.read_upto("results", last)
            if results is not None:
                jsonl.export_results_jsonl(results, args.output,
                                           epoch=args.export_epoch)
        if args.http_log:
            hl = engine.io.read_upto("http_log", last)
            if hl is not None:
                jsonl.export_http_jsonl(hl, args.http_log, corpus=corpus,
                                        user_agent=cfg.user_agent)
        if args.dns_log:
            dl = engine.io.read_upto("dns_log", last)
            if dl is not None:
                jsonl.export_dns_jsonl(dl, args.dns_log)

    summary = {
        "rounds": len(stats),
        "tasks_processed": sum(s.tasks_processed for s in stats),
        "unique_subdomains": sum(s.unique_subdomains for s in stats),
        "http_requests": sum(s.http_requests for s in stats),
        "dns_requests": sum(s.dns_requests for s in stats),
        "committed_round": last,
    }
    # G1 cap observability: only present when the cap is enabled, so the
    # default summary line stays byte-identical to prior rounds
    if cfg.enforce_queue_cap:
        summary["tasks_dropped"] = sum(s.tasks_dropped for s in stats)
    print(json.dumps(summary))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
