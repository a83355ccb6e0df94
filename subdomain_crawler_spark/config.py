"""Crawl configuration — defaults mirror the reference CLI.

Reference: pkg/interface/cli/config.go (queue=10000 :22,
max-depth=3 :20, expand-sld default true :57). Every field here is read
somewhere in the library (tests/test_env_knobs.py). The seen set is the exact anti-join
(no bloom knobs: the reference's 1e6 @ 1% bloom, :43-44, is replaced by an
exact ``left_anti``), both fetch protocols are always tried https then
http (:79), and the live-network timeouts have no offline analog, so
none of those are settable. Queue capacity is not enforced by default: a
DataFrame frontier is unbounded and drop-on-full is opt-in
(``enforce_queue_cap``, documented divergence G1, SURVEY.md §2.6).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class CrawlConfig:
    max_depth: int = 3
    expand_sld: bool = True
    custom_prefixes: tuple[str, ...] = ()

    # T1 — response-size cap (fetcher.go:84 io.LimitReader; default 10 MiB,
    # cli/config.go:29): bodies are truncated BEFORE extraction and
    # content_length is clamped, so one hostile 1 GB row cannot dominate an
    # executor. Measured in characters here (the offline corpus is a string
    # column; the reference caps bytes — identical for ASCII fixtures,
    # documented divergence for multi-byte text).
    max_response_size: int = 10 * 1024 * 1024

    # HTTP client identity (cli/config.go:28-38): observable offline as
    # the request header every http.jsonl transcript line carries
    # (entity/log.go:10; jsonl.py).
    user_agent: str = "SubdomainCrawler/2.0"
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

    # politeness / skew (north-rule additions, M4)
    salt_buckets: int = 8           # salts per root for hot-SLD skew
    default_per_root_budget: int | None = None  # None = unlimited per round
    honor_robots: bool = True
    # crawl_delay → budget derivation: one round models this many seconds of
    # polite fetching, so a root with crawl_delay=d gets at most
    # round_window_sec // d slots per round (combined with max_per_round via
    # min; see operators/politeness.py)
    round_window_sec: int = 60
