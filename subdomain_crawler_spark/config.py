"""Crawl configuration — defaults mirror the reference CLI.

Reference: pkg/interface/cli/config.go (queue=10000 :22,
max-depth=3 :20, expand-sld default true :57). Every field here is read
somewhere in the library and set by main.py's CLI (tests/test_env_knobs.py),
and every field changes what the crawl computes: the resume check compares
them all, so output-only settings (the JSONL export's User-Agent) stay out.
The seen set is the exact anti-join
(no bloom knobs: the reference's 1e6 @ 1% bloom, :43-44, is replaced by an
exact ``left_anti``), both fetch protocols are always tried https then
http (:79), and the live-network timeouts have no offline analog, so
none of those are settable. Queue capacity is not enforced by default: a
DataFrame frontier is unbounded and drop-on-full is opt-in
(``queue_cap``, documented divergence G1, SURVEY.md §2.6).

Politeness has no field: it runs if and only if the engine is given a
robots table, and its round window and skew salt are constants of
operators/politeness.py.
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

    # G1 (queue.go:25-39): the reference's bounded queue silently DROPS
    # tasks when full — a timing-dependent behavior a deterministic batch
    # engine must not copy verbatim.  A queue_cap of N enables the
    # DETERMINISTIC analog: each round's next frontier is capped at N rows
    # in (depth, host) order (shallowest-then-lexicographic keep rule — a
    # fixed priority instead of a race), dropped counts land in
    # RoundStats.tasks_dropped / the metrics table, and a round-0 frontier
    # over the cap raises (the reference treats ROOT enqueue failure as
    # fatal, crawl_usecase.go:253-257).  Default None (no cap): the
    # reference's drop set is timing-defined, so no fixed rule reproduces
    # a given run — this reproduces the semantics CLASS (bounded frontier,
    # excess dropped, drops observable) deterministically.
    queue_cap: int | None = None
