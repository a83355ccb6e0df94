"""Canonical single-threaded crawl simulator — the golden oracle for E2E tests.

Implements the reference's per-task dataflow (worker.processTask,
/root/reference/pkg/application/worker.go:70-161) exactly, in synchronized-BFS
rounds with deterministic ordering (SURVEY.md §3.4: round-BFS is the only
well-defined cross-implementation order; the reference's 32 racing goroutines
make intra-round order scheduler-dependent).

Quirks preserved (citations into /root/reference/):

* seeds are enqueued at depth 0 unconditionally and are NEVER added to the
  seen filter (crawl_usecase.go:237-263; only extracted candidates enter the
  bloom, worker.go:164-178) — a seed rediscovered in a page is re-crawled once;
* seed root = GetRoot(seed) with fallback to the seed itself on PSL error
  (crawl_usecase.go:239-242);
* per-page candidates are FilterByRoot'ed against the PARENT root before the
  global dedup (worker.go:108-110), so only in-scope hosts enter the seen set;
* the depth filter runs at enqueue time, AFTER the seen-set add
  (worker.go:202-205 vs 172-174): a too-deep novel host is marked seen and can
  never be crawled later via a shorter path;
* child tasks inherit the parent's root verbatim (worker.go:211) and get an
  absolute recomputed depth, not parent+1 (worker.go:202);
* per-protocol loop: https then http, break on first 2xx (worker.go:90-126);
  error attempts bump ErrorCount, non-2xx responses don't (per-attempt), one
  extra ErrorCount if no protocol succeeded (worker.go:128-130);
* result rows exist only for 2xx fetches; DNS runs for every processed task
  and its error is recorded INSIDE an otherwise-successful result
  (worker.go:143-152); result.subdomains = the globally-NOVEL subset only
  (reassigned at worker.go:148);
* cross-page contention for the same novel host within a round is resolved
  canonically: the lexicographically-smallest parent host wins (the reference
  is racy here; §3.4 defines this canonical order).

Fetch model (no live network — SURVEY.md §2.1 S6): the corpus table plays the
web. A host row fetches successfully over ``proto`` iff ``proto ∈ proto_ok``,
returning ``status_code``; otherwise the attempt is a connection error. Hosts
absent from the corpus error on every protocol.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd

from ..config import CrawlConfig
from ..functions import core

# fetch order, fixed in the reference CLI (cli/config.go:79) and hardcoded
# in CrawlEngine's first-success derivation
_PROTOCOLS = ("https", "http")

_REASON = {200: "OK", 301: "Moved Permanently", 404: "Not Found",
           500: "Internal Server Error", 204: "No Content"}


def status_line(code: int) -> str:
    """Raw status-line passthrough: known codes get Go's reason phrase;
    unknown codes keep an EMPTY reason with the trailing space — the
    reference emits the server's raw status line verbatim (artifact
    result.jsonl line 2 shows ``"status":"200 "``)."""
    return f"{code} {_REASON.get(code, '')}"


@dataclass
class SimResult:
    results: pd.DataFrame          # per-round result rows (reference JSONL schema + round)
    http_log: pd.DataFrame         # one row per HTTP attempt
    dns_log: pd.DataFrame          # one row per processed task
    metrics: pd.DataFrame          # per-round counters (A1)
    seen: list[str]                # cumulative seen set, insertion order
    frontiers: list[list[tuple[str, str, int]]] = field(default_factory=list)
    # frontiers[r] = the (host, root, depth) rows processed in round r


def expand_seeds(seeds: list[str], cfg: CrawlConfig) -> list[tuple[str, str, int]]:
    """S1+X4+root-stamping: assembler.go:106-159 + crawl_usecase.go:237-263.

    Returns round-0 frontier rows (host, root, depth=0). Divergence note:
    we canonicalize seed hostnames (the reference keeps raw case in
    Task.Domain.Name; DNS is case-insensitive so observable behavior matches).
    """
    cleaned = []
    for line in seeds:
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        cleaned.append(line)
    expanded: list[str] = []
    prefixes = core.merged_prefixes(list(cfg.custom_prefixes))
    for d in cleaned:
        if cfg.expand_sld:
            expanded.extend(core.expand_domain_one(d, prefixes))
        else:
            expanded.append(core.canonicalize_one(d))
    out = []
    for host in expanded:
        root = core.get_root_one(host) or host  # fallback quirk
        out.append((host, root, 0))             # depth hardcoded 0
    return out


class ReferenceSimulator:
    def __init__(self, corpus: pd.DataFrame, dns: pd.DataFrame, cfg: CrawlConfig,
                 robots: pd.DataFrame | None = None):
        self.cfg = cfg
        # T1 cap twin: bodies truncated at MaxResponseSize before anything
        # reads them (fetcher.go:84 io.LimitReader)
        _redir = lambda v: v if isinstance(v, str) and v else None  # NaN→None
        self.corpus = {
            r.host: (set(r.proto_ok), int(r.status_code),
                     r.caption[:cfg.max_response_size],
                     _redir(getattr(r, "redirect_to", None)))
            for r in corpus.itertuples()
        }
        self.dns = {r.host: (list(r.ips), int(r.rcode)) for r in dns.itertuples()}
        # root → (disallow_prefixes, effective_budget) — twin of
        # operators/politeness.py (module docstring there documents the
        # robots dialect: '/'-entries are URL-path prefixes against our
        # always-'/' fetch path, other entries are host prefixes;
        # crawl_delay=d → round_window_sec // d slots, min'd with
        # max_per_round)
        self.budgets: dict[str, tuple[list[str], int | None]] | None = None
        if cfg.honor_robots and (robots is not None or
                                 cfg.default_per_root_budget is not None):
            self.budgets = {}
            if robots is not None:
                for r in robots.itertuples():
                    prefixes = list(getattr(r, "disallow_prefixes", []) or [])
                    cands = []
                    mpr = getattr(r, "max_per_round", None)
                    if mpr is not None:
                        cands.append(int(mpr))
                    delay = getattr(r, "crawl_delay", None)
                    if delay is not None and int(delay) > 0:
                        # ≥1: over-long delays still schedule one host/round
                        cands.append(max(1, cfg.round_window_sec // int(delay)))
                    self.budgets[r.root] = (
                        prefixes, min(cands) if cands else None)

    @staticmethod
    def _disallowed(host: str, prefixes: list[str]) -> bool:
        return any(
            p == "/" or (not p.startswith("/") and host.startswith(p))
            for p in prefixes)

    def _apply_budgets(
        self, rows: list[tuple[str, str, int]]
    ) -> tuple[list[tuple[str, str, int]], list[tuple[str, str, int]]]:
        """W2 politeness: per root, schedule the top-budget rows by
        (depth, host); defer the rest unchanged (operators/politeness.py
        is the distributed twin — same canonical priority)."""
        if self.budgets is None:
            return rows, []
        default = self.cfg.default_per_root_budget
        by_root: dict[str, list[tuple[str, str, int]]] = {}
        for row in rows:
            by_root.setdefault(row[1], []).append(row)
        scheduled, deferred = [], []
        for root, group in by_root.items():
            info = self.budgets.get(root)
            if info is not None:
                prefixes, budget = info
                if prefixes:  # disallowed: dropped permanently, not deferred
                    group = [r for r in group
                             if not self._disallowed(r[0], prefixes)]
                if budget is None:
                    # robots row with BOTH max_per_round and crawl_delay null
                    # falls back to the default budget — twin of
                    # operators/politeness.py's unconditional null coalesce
                    budget = default
            else:
                budget = default
            if budget is None:
                scheduled.extend(group)
                continue
            group = sorted(group, key=lambda x: (x[2], x[0]))  # depth, host
            scheduled.extend(group[:budget])
            deferred.extend(group[budget:])
        return scheduled, deferred

    def run(self, seeds: list[str], max_rounds: int = 64) -> SimResult:
        cfg = self.cfg
        seen: dict[str, None] = {}  # insertion-ordered set
        results, http_log, dns_log, metrics = [], [], [], []
        frontier = expand_seeds(seeds, cfg)
        # within-round dedup by host, first wins (queue would hold dupes; the
        # canonical form processes each host once per round)
        frontiers = []
        rnd = 0
        while frontier and rnd < max_rounds:
            # canonical within-round dedup: one row per host, min (root, depth)
            # (matches CrawlEngine._dedup_frontier)
            dedup: dict[str, tuple[str, str, int]] = {}
            for host, root, depth in frontier:
                cur = dedup.get(host)
                if cur is None or (root, depth) < (cur[1], cur[2]):
                    dedup[host] = (host, root, depth)
            all_rows = sorted(dedup.values())  # canonical order: lexicographic
            frontiers.append(all_rows)
            rows, deferred_rows = self._apply_budgets(all_rows)
            rows = sorted(rows)
            # tasks_processed counts the full frontier (scheduled + deferred),
            # matching CrawlEngine's RoundStats (one count, no politeness job)
            m = dict(round=rnd, tasks_processed=len(all_rows), tasks_enqueued=0,
                     http_requests=0, dns_requests=0, success_count=0,
                     error_count=0, unique_subdomains=0)
            novel_this_round: dict[str, tuple[str, str, int]] = {}  # host → parent row
            next_frontier: list[tuple[str, str, int]] = []
            for host, root, depth in rows:
                if depth > cfg.max_depth:
                    continue
                fetched = False
                page_novel: list[str] = []
                title = ""
                code = None
                for proto in _PROTOCOLS:
                    entry = self.corpus.get(host)
                    ok = entry is not None and proto in entry[0]
                    err = None if ok else "connection refused"
                    final = entry
                    if ok:
                        # redirect chain twin (fetcher.go:33-38 / Go
                        # CheckRedirect): follows 1..9 succeed, follow 10
                        # is refused with "too many redirects"; a hop onto
                        # a host with no corpus row is a dead connection.
                        # The refusal check runs BEFORE the dead-hop
                        # lookup, as in Go (the 10th request is never made)
                        hops = 0
                        while (final is not None and 300 <= final[1] < 400
                               and final[3] is not None):
                            hops += 1
                            if hops >= 10:
                                ok, err, final = (
                                    False, "too many redirects", None)
                                break
                            final = self.corpus.get(final[3])
                        if ok and final is None:
                            ok, err = False, "connection refused"
                    m["http_requests"] += 1
                    http_log.append(dict(
                        round=rnd, host=host, proto=proto,
                        url=f"{proto}://{host}",
                        status_code=final[1] if ok else None,
                        error=err,
                    ))
                    if not ok:
                        m["error_count"] += 1
                        continue
                    code = final[1]
                    if 200 <= code < 300:
                        m["success_count"] += 1
                        fetched = True
                        fetched_body = final[2]
                        cands = core.extract_hosts_one(final[2])
                        filtered = [c for c in cands if core.in_scope_one(c, root)]
                        title = core.extract_title_one(final[2])
                        # global dedup (worker.go:164-178): novel only
                        for c in filtered:
                            if c not in seen:
                                seen[c] = None
                                page_novel.append(c)
                                novel_this_round[c] = (host, root, depth)
                        break
                if not fetched:
                    m["error_count"] += 1
                # DNS always runs (worker.go:143-144). A host present in the
                # dns table "responded" (rcode 0 or NXDOMAIN=3 — resolver.go
                # returns err==nil for any response, so result.error stays
                # empty); a host ABSENT from the table models "no response
                # from any DNS server" (resolver.go:84-97), rcode=-1 sentinel,
                # and only THAT sets result.error (worker.go:148-151).
                ips, rcode = self.dns.get(host, ([], -1))
                m["dns_requests"] += 1
                dns_log.append(dict(round=rnd, host=host, ips=ips, rcode=rcode))
                if fetched:
                    results.append(dict(
                        round=rnd, domain=host, ips=ips,
                        subdomains=page_novel,
                        status=status_line(code), status_code=code,
                        title=title, content_length=len(fetched_body),
                        error="no response from any DNS server"
                              if rcode == -1 else None,
                    ))
                m["unique_subdomains"] += len(page_novel)
                # enqueue (worker.go:194-223): scope re-check is a no-op
                # (candidates already root-filtered); depth gate here
                for c in page_novel:
                    child_depth = core.get_depth_one(c)
                    if child_depth > cfg.max_depth:
                        continue
                    next_frontier.append((c, root, child_depth))
                    m["tasks_enqueued"] += 1
            metrics.append(m)
            frontier = next_frontier + deferred_rows
            rnd += 1
        return SimResult(
            results=pd.DataFrame(results),
            http_log=pd.DataFrame(http_log),
            dns_log=pd.DataFrame(dns_log),
            metrics=pd.DataFrame(metrics),
            seen=list(seen),
            frontiers=frontiers,
        )
