"""Crawl configuration — defaults mirror the reference CLI.

Reference: /root/reference/pkg/interface/cli/config.go (workers=32 :21,
queue=10000 :22, max-depth=3 :20, bloom 1e6 @ 1% :43-44, protocols
["https","http"] :79, expand-sld default true :57). Queue capacity is
intentionally absent: a DataFrame frontier is unbounded and we do not
reproduce drop-on-full (documented divergence G1, SURVEY.md §2.6).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class CrawlConfig:
    max_depth: int = 3
    protocols: tuple[str, ...] = ("https", "http")
    expand_sld: bool = True
    custom_prefixes: tuple[str, ...] = ()

    # T1 — response-size cap (fetcher.go:84 io.LimitReader; default 10 MiB,
    # cli/config.go:29): bodies are truncated BEFORE extraction and
    # content_length is clamped, so one hostile 1 GB row cannot dominate an
    # executor. Measured in characters here (the offline corpus is a string
    # column; the reference caps bytes — identical for ASCII fixtures,
    # documented divergence for multi-byte text).
    max_response_size: int = 10 * 1024 * 1024

    # HTTP client identity + live-network knobs (cli/config.go:28-38).
    # user_agent IS observable offline: it is the request header every
    # http.jsonl transcript line carries (entity/log.go:10; jsonl.py).
    # The two timeouts and the queue size have no offline analog — the
    # corpus join cannot time out and Spark's scheduler replaces the
    # bounded Go task queue (G1, COVERAGE.md §2.6) — so they are accepted
    # and validated for CLI parity (reference Validate(), config.go:96+)
    # and recorded here, with no behavioral effect on the corpus model.
    user_agent: str = "SubdomainCrawler/2.0"
    http_timeout: int = 10
    dns_timeout: int = 5
    queue_size: int = 10_000
    # G1 (queue.go:25-39): the reference's bounded queue silently DROPS
    # tasks when full — a timing-dependent behavior a deterministic batch
    # engine must not copy verbatim.  enforce_queue_cap=True enables the
    # DETERMINISTIC analog: each round's next frontier is capped at
    # queue_size rows in (depth, host) order (shallowest-then-lexicographic
    # keep rule — a fixed priority instead of a race), dropped counts land
    # in RoundStats.tasks_dropped / the metrics table, and a round-0
    # frontier over the cap raises (the reference treats ROOT enqueue
    # failure as fatal, crawl_usecase.go:253-257).  Default OFF: the
    # reference's drop set is timing-defined, so no fixed rule reproduces
    # a given run — this reproduces the semantics CLASS (bounded frontier,
    # excess dropped, drops observable) deterministically.
    enforce_queue_cap: bool = False

    # seen-set accelerator (D1b): shard count for the broadcast bloom bank;
    # each shard sized so capacity_per_shard * shards covers the frontier
    bloom_shards: int = 8
    bloom_capacity: int = 1_000_000
    bloom_fp: float = 0.01
    use_bloom_prefilter: bool = True
    # below this many cumulative seen hosts the bank is pure overhead (two
    # extra jobs/round); the exact anti-join alone is faster. At 10^10 scale
    # the bank prunes the shuffle that dominates — always on there.
    bloom_min_seen: int = 2_000_000

    # politeness / skew (north-rule additions, M4)
    salt_buckets: int = 8           # salts per root for hot-SLD skew
    default_per_root_budget: int | None = None  # None = unlimited per round
    honor_robots: bool = True
    # crawl_delay → budget derivation: one round models this many seconds of
    # polite fetching, so a root with crawl_delay=d gets at most
    # round_window_sec // d slots per round (combined with max_per_round via
    # min; see operators/politeness.py)
    round_window_sec: int = 60
