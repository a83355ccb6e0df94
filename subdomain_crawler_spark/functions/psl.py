"""Public-suffix (eTLD+1) lookup over a vendored PSL snapshot.

The reference resolves registered domains ("roots") with
``golang.org/x/net/publicsuffix.EffectiveTLDPlusOne`` (see
/root/reference/pkg/infrastructure/domainservice/domain_service.go:103-106 and
expander.go:107,136).  This sandbox has no network and no publicsuffix
package, so we vendor a minimal snapshot of the Public Suffix List
(source: https://publicsuffix.org/list/public_suffix_list.dat) covering the
TLDs used by the reference's tests and our fixtures, plus the standard
wildcard (``*.ck``) and exception (``!www.ck``) rule forms so the full rule
algorithm is exercised.

Semantics match Go's ``publicsuffix.EffectiveTLDPlusOne`` exactly:

* rules match right-to-left per label; ``*`` matches any single label;
* an exception rule (``!``) beats wildcards; its suffix is the rule minus the
  leftmost label;
* otherwise the longest matching rule wins; with no match the default ``*``
  rule applies (the rightmost label is the suffix);
* errors (returned here as ``None``): empty labels (leading/trailing/double
  dots), or the domain being the suffix itself.

Lookups are memoized per-process and applied to pandas Series via ``.map``
over the cache — vectorized at the Arrow-batch boundary (the trie walk is
pure dict lookups, no regex).
"""

from __future__ import annotations

import functools

import pandas as pd

# Vendored PSL snapshot (subset). One rule per entry, formats as in the real
# list: plain, "*." wildcard, "!" exception.  Divergence risk vs the full PSL
# is documented in SURVEY.md §7; tests pin the reference's own cases
# (e.g. cs.tsinghua.edu.cn → tsinghua.edu.cn,
# /root/reference/pkg/infrastructure/domainservice/domain_service_test.go:91-94).
PSL_RULES: tuple[str, ...] = (
    # generic
    "com", "net", "org", "edu", "gov", "mil", "int", "info", "biz", "name",
    "io", "co", "ai", "app", "dev", "xyz", "online", "site", "tech", "cloud",
    "me", "tv", "cc", "ws", "us",
    # UK
    "uk", "co.uk", "org.uk", "net.uk", "ac.uk", "gov.uk",
    # China (the reference's shipped artifacts crawl edu.cn seeds)
    "cn", "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "ah.cn", "bj.cn", "sh.cn", "gd.cn",
    # Japan
    "jp", "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp", "ad.jp",
    # Europe
    "de", "fr", "it", "nl", "es", "se", "no", "fi", "dk", "pl", "cz", "sk",
    "hu", "gr", "pt", "ro", "ua", "ch", "at", "be", "ie", "eu", "tr", "ru",
    "su",
    # Americas
    "ca", "mx", "ar", "cl", "br", "com.br", "net.br", "org.br", "gov.br",
    # APAC / Africa / Middle East
    "au", "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "in", "co.in", "net.in", "org.in", "ac.in",
    "kr", "co.kr", "ac.kr", "nz", "co.nz", "net.nz", "org.nz", "ac.nz",
    "za", "co.za", "org.za", "ac.za", "sg", "com.sg", "edu.sg",
    "hk", "com.hk", "edu.hk", "tw", "com.tw", "edu.tw",
    "id", "co.id", "ac.id", "my", "com.my", "th", "co.th", "ac.th",
    "vn", "com.vn", "il", "co.il", "ac.il", "ir", "ac.ir", "eg", "sa",
    "ae", "ke", "co.ke", "ng", "com.ng",
    # wildcard + exception forms (real PSL entries for the Cook Islands)
    "ck", "*.ck", "!www.ck",
    # wildcard whose parent is itself REGISTRABLE (real PSL entries, JP
    # prefecture block): kawasaki.jp is an SLD under "jp", yet
    # *.kawasaki.jp makes every child its own public suffix (except the
    # excepted city host).  This is the rule class where the seed-expander
    # root shortcut must NOT fire (see wildcard_parents / plans/crawl.py).
    "*.kawasaki.jp", "!city.kawasaki.jp",
)


@functools.lru_cache(maxsize=1)
def wildcard_parents() -> frozenset:
    """Exact parents of wildcard rules (``*.X`` → X).  For such an X,
    every child ``p.X`` is itself a public suffix (unless excepted), so
    ``etld_plus_one(p.X)`` is a PSL error — or, for an excepted child,
    ``p.X`` itself.  Either way the identity ``etld1(p.X) == X`` FAILS,
    so the fused seed expander must route seeds equal to a wildcard
    parent through the full per-host kernel instead of the root
    shortcut (plans/crawl._make_seed_expander)."""
    return frozenset(r[2:] for r in PSL_RULES if r.startswith("*."))


@functools.lru_cache(maxsize=1)
def _rule_index() -> tuple[dict[tuple[str, ...], bool], int]:
    """Map reversed-label tuples → is_exception; plus max rule length."""
    idx: dict[tuple[str, ...], bool] = {}
    max_len = 1
    for rule in PSL_RULES:
        exception = rule.startswith("!")
        labels = tuple(reversed(rule.lstrip("!").split(".")))
        idx[labels] = exception
        max_len = max(max_len, len(labels))
    return idx, max_len


def public_suffix(domain: str) -> str:
    """Longest public suffix of ``domain`` per the PSL algorithm.

    Mirrors Go ``publicsuffix.PublicSuffix`` over the vendored snapshot.
    Assumes a syntactically sane, lowercased domain (callers canonicalize,
    as every reference call site does — domain_service.go:56,83,104).
    """
    idx, max_len = _rule_index()
    labels = domain.split(".")
    rev = list(reversed(labels))
    exception_at = 0  # suffix length implied by a matching exception rule
    best = 0
    for n in range(1, min(len(rev), max_len) + 1):
        prefix = tuple(rev[:n])
        # exact rule
        if prefix in idx:
            if idx[prefix]:
                exception_at = n - 1  # exception: suffix = rule minus leftmost label
            else:
                best = max(best, n)
        # wildcard rule: '*' in place of the leftmost (deepest) label
        if n >= 2 and tuple(rev[: n - 1]) + ("*",) in idx:
            best = max(best, n)
    if exception_at:
        best = exception_at
    if best == 0:
        best = 1  # default '*' rule: the TLD itself
    return ".".join(labels[len(labels) - best :])


def etld_plus_one(domain: str) -> str | None:
    """Registered domain (eTLD+1), or ``None`` on error.

    ``None`` replaces Go's error return from
    ``publicsuffix.EffectiveTLDPlusOne``; callers implement the reference's
    per-site fallbacks (e.g. GetDepth's count-dots fallback,
    domain_service.go:84-87).
    """
    if not domain or domain.startswith(".") or domain.endswith(".") or ".." in domain:
        return None
    suffix = public_suffix(domain)
    if len(domain) <= len(suffix):
        return None
    i = len(domain) - len(suffix) - 1
    if domain[i] != ".":
        return None
    head = domain[:i]
    dot = head.rfind(".")
    return domain[dot + 1 :]


# ---------------------------------------------------------------------------
# Vectorized (pd.Series → pd.Series) forms. Strategy: unique() → pure lookup →
# map, so each distinct hostname is resolved once per Arrow batch.
# ---------------------------------------------------------------------------


def etld_plus_one_fast(domain: str):
    """Exact ``etld_plus_one`` semantics, O(2 rfind) for TLDs with no
    multi-label rule (the common case); exact rule walk otherwise."""
    if not domain or domain[0] == "." or domain[-1] == "." or ".." in domain:
        return None
    i = domain.rfind(".")
    if i < 0:
        return None
    if domain[i + 1:] in _multi_label_tlds():
        return etld_plus_one(domain)
    return domain[domain.rfind(".", 0, i) + 1:]


@functools.lru_cache(maxsize=1)
def _multi_label_tlds() -> frozenset:
    """TLDs that participate in ANY multi-label rule (incl. wildcard /
    exception forms): only these need the per-host rule loop. Every other
    host resolves as 'last two labels' (single-label rule or the PSL
    default '*' rule) — a pure string operation."""
    out = set()
    for rule in PSL_RULES:
        labels = rule.lstrip("!").split(".")
        if len(labels) >= 2:
            out.add(labels[-1])
    return frozenset(out)


def registered_domain_series(hosts: pd.Series) -> pd.Series:
    """eTLD+1 per host (already canonicalized); None where Go would error.

    Fast path (round 4 — this kernel runs on every candidate host, 8.1 M
    rows in the scaling corpus's round 0, and the full rule walk dominated
    seed expansion): a host whose last label has no multi-label PSL rule
    resolves as its last two labels (single-label rule or the PSL default
    '*' rule) with two rfind calls; only multi-rule TLDs (uk/cn/jp/… —
    ~20 of them) take the exact rule walk. Each distinct host still
    resolves once per Arrow batch (unique → dict → map). Parity with
    ``etld_plus_one`` is pinned by tests/test_core.py over every rule
    class."""
    uniq = {h: etld_plus_one_fast(h) for h in pd.unique(hosts.dropna())}
    return hosts.map(uniq)
