"""Pure-python vectorized kernels — the semantic core, no Spark imports.

Each kernel is the exact behavioral twin of a reference operator (file:line
citations per function, all into /root/reference/). Scalar forms (``*_one``)
pin semantics in unit tests; Series forms are what the pandas UDFs in
``functions/udfs.py`` call. Everything operates on Arrow-backed pandas
batches — no per-row Python in the Spark hot path.
"""

from __future__ import annotations

import re

import pandas as pd

from . import psl

# F1 — syntactic hostname validation.
# Reference: pkg/infrastructure/domainservice/domain_service.go:33 (pattern),
# 38-44 (trim + empty→false). The Go pattern is self-anchored; we use
# fullmatch of the unanchored body for identical semantics (Go `$` never
# matches before a trailing newline; Python `$` would).
_VALID_RE = re.compile(r"([a-zA-Z0-9]([a-zA-Z0-9\-]{0,61}[a-zA-Z0-9])?\.)+[a-zA-Z]{2,}")

# X1 — hostname extraction from text.
# Reference: domain_service.go:133. Same pattern, unanchored, case-insensitive.
_EXTRACT_RE = re.compile(
    r"(?i)(?:[a-zA-Z0-9](?:[a-zA-Z0-9\-]{0,61}[a-zA-Z0-9])?\.)+[a-zA-Z]{2,}"
)
# Fast path: a match of _EXTRACT_RE can never span whitespace and must
# contain a dot, so it suffices to run the regex on the dot-bearing
# whitespace-free tokens only. str.split() is C-speed; Python's backtracking
# regex is ~0.2 ms/KB on plain prose (Go's RE2 is linear), so skipping
# dotless tokens is a ~20× win with identical semantics (findall is
# left-to-right non-overlapping in both forms).


def _findall_hosts(text: str) -> list[str]:
    out: list[str] = []
    for tok in text.split():
        if "." in tok:
            out.extend(_EXTRACT_RE.findall(tok))
    return out

# X3 — title extraction. Reference: domain_service.go:215 (?is) pattern.
_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title>", re.IGNORECASE | re.DOTALL)
_WS_RE = re.compile(r"\s+")


# ---------------------------------------------------------------------------
# F5 — canonicalization: lower(trim(s)), applied at every boundary
# (reference worker.go:167, domain_service.go:56,145, expander.go:104).
# ---------------------------------------------------------------------------


def canonicalize_one(host: str) -> str:
    return host.strip().lower()


def canonicalize(hosts: pd.Series) -> pd.Series:
    return hosts.str.strip().str.lower()


# ---------------------------------------------------------------------------
# F1 — validity
# ---------------------------------------------------------------------------


def is_valid_one(domain: str) -> bool:
    """domain_service.go:38-44 — TrimSpace (no lower!), empty→False, regex."""
    domain = domain.strip()
    if not domain:
        return False
    return _VALID_RE.fullmatch(domain) is not None


def is_valid(domains: pd.Series) -> pd.Series:
    trimmed = domains.str.strip()
    return (trimmed != "") & trimmed.str.fullmatch(_VALID_RE)


# ---------------------------------------------------------------------------
# F2 — scope with explicit root: domain == root OR domain.endswith("." + root)
# (domain_service.go:55-61; FilterByRoot 198-210 is the same predicate).
# ---------------------------------------------------------------------------


def in_scope_one(domain: str, root: str) -> bool:
    domain = canonicalize_one(domain)
    if root:
        return domain == root or domain.endswith("." + root)
    return False


def in_scope(domains: pd.Series, roots: pd.Series) -> pd.Series:
    d = canonicalize(domains)
    dotted = "." + roots.astype(str)
    suffix_hit = pd.Series(
        [x is not None and x.endswith(s) for x, s in zip(d.to_numpy(), dotted.to_numpy())],
        index=d.index,
    )
    return (d == roots) | suffix_hit


def in_scope_vs_root(domains: pd.Series, root: str) -> pd.Series:
    d = canonicalize(domains)
    return (d == root) | d.str.endswith("." + root)


# ---------------------------------------------------------------------------
# F3 — scope without root: eTLD+1 membership in the seed-root whitelist
# (domain_service.go:62-70; whitelist built at 20-29 with eTLD+1 fallback to
# the raw canonicalized input on PSL error).
# ---------------------------------------------------------------------------


def build_root_whitelist(seed_domains: list[str]) -> set[str]:
    roots: set[str] = set()
    for d in seed_domains:
        d = canonicalize_one(d)
        roots.add(psl.etld_plus_one(d) or d)
    return roots


def in_scope_whitelist(domains: pd.Series, whitelist: set[str]) -> pd.Series:
    d = canonicalize(domains)
    r = psl.registered_domain_series(d)
    return r.map(lambda x: x is not None and x in whitelist)


# ---------------------------------------------------------------------------
# X5 / X6 — root + depth
# ---------------------------------------------------------------------------


def get_root_one(domain: str) -> str | None:
    """domain_service.go:103-106 — canonicalize then eTLD+1 (None = Go error)."""
    return psl.etld_plus_one(canonicalize_one(domain))


def get_root(domains: pd.Series) -> pd.Series:
    return psl.registered_domain_series(canonicalize(domains))


def get_depth_one(domain: str) -> int:
    """domain_service.go:80-100.

    PSL-error fallback counts ALL dots + 1; `prefix == domain` guard (root
    not a dotted suffix) returns 0 — both quirks preserved.
    """
    domain = canonicalize_one(domain)
    root = psl.etld_plus_one_fast(domain)
    if root is None:
        return domain.count(".") + 1
    if domain == root:
        return 0
    if not domain.endswith("." + root):
        return 0  # TrimSuffix no-op branch, domain_service.go:95-97
    prefix = domain[: -(len(root) + 1)]
    return prefix.count(".") + 1


def get_depth(domains: pd.Series) -> pd.Series:
    d = canonicalize(domains)
    uniq = {h: get_depth_one(h) for h in pd.unique(d.dropna())}
    return d.map(uniq).astype("int64")


def get_distance_one(domain: str, root: str) -> int:
    """domain_service.go:109-123 — -1 if unrelated (plain HasSuffix, no dot).

    Unlike GetDepth (domain_service.go:95-97), GetDistance has NO
    ``prefix == domain → 0`` guard: a plain-suffix match like
    ('notexample.com', 'example.com') counts all prefix dots + 1 = 2.
    """
    domain = canonicalize_one(domain)
    root = canonicalize_one(root)
    if not domain.endswith(root):
        return -1
    if domain == root:
        return 0
    prefix = domain[: -(len(root) + 1)] if domain.endswith("." + root) else domain
    return prefix.count(".") + 1


# ---------------------------------------------------------------------------
# X1 — extract hostnames from text, order-preserving first-wins dedup
# (domain_service.go:138-153).
# ---------------------------------------------------------------------------


def extract_hosts_one(text: str) -> list[str]:
    out: list[str] = []
    seen: set[str] = set()
    for m in _findall_hosts(text):
        m = m.strip().lower()
        if m and m not in seen:
            seen.add(m)
            out.append(m)
    return out


def extract_hosts(texts: pd.Series) -> pd.Series:
    """Series[str] → Series[list[str]], order-preserving first-wins dedup."""
    return texts.map(lambda t: extract_hosts_one(t) if t is not None else [])


# ---------------------------------------------------------------------------
# X3 — title extraction (domain_service.go:213-232): first match, trim,
# newline/tab→space, collapse runs of whitespace.
# ---------------------------------------------------------------------------


def extract_title_one(html: str) -> str:
    m = _TITLE_RE.search(html)
    if not m:
        return ""
    title = m.group(1).strip()
    title = title.replace("\n", " ").replace("\r", " ").replace("\t", " ")
    return _WS_RE.sub(" ", title)


def extract_title(htmls: pd.Series) -> pd.Series:
    t = htmls.str.extract(_TITLE_RE, expand=False).fillna("")
    t = t.str.strip().str.replace(r"[\n\r\t]", " ", regex=True)
    return t.str.replace(_WS_RE, " ", regex=True)


# ---------------------------------------------------------------------------
# X2 — HTML-aware extraction (domain_service.go:156-195). NOTE: dead code in
# the reference's main path (worker.go:108 calls ExtractFromText); kept behind
# this separate function for parity, exercised only by its own tests.
# ---------------------------------------------------------------------------

_TAG_RE = re.compile(r"<[^>]+>")
_ATTR_RE = re.compile(
    r"""\s(?:href|src)\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""",
    re.IGNORECASE,
)


def extract_hosts_html_one(html: str) -> list[str]:
    from urllib.parse import urlparse

    out: list[str] = []
    seen: set[str] = set()

    def add(d: str) -> None:
        # Go addDomain (domain_service.go:161-169) uses MatchString on the
        # UNANCHORED extractor regex — substring match, mirrored here.
        d = d.strip().lower()
        if d and d not in seen and _EXTRACT_RE.search(d):
            seen.add(d)
            out.append(d)

    # interleave like the tokenizer: process the document in order, attrs of a
    # tag before the text that follows it
    pos = 0
    for tag in _TAG_RE.finditer(html):
        for d in extract_hosts_one(html[pos : tag.start()]):
            add(d)
        if not tag.group(0).startswith("</"):
            for m in _ATTR_RE.finditer(tag.group(0)):
                val = next(g for g in m.groups() if g is not None)
                u = urlparse(val)
                if u.netloc:
                    add(u.netloc)
        pos = tag.end()
    for d in extract_hosts_one(html[pos:]):
        add(d)
    return out


# ---------------------------------------------------------------------------
# X4 — SLD expansion (expander.go:11-141). Prefix list copied verbatim from
# CommonSubdomains (expander.go:11-72) — it is data, not code.
# ---------------------------------------------------------------------------

COMMON_SUBDOMAINS: tuple[str, ...] = (
    "www", "web", "www1", "www2", "www3",
    "mail", "smtp", "pop", "imap", "webmail",
    "ftp", "sftp", "files",
    "vpn", "remote",
    "api", "apis", "rest", "graphql",
    "cdn", "static", "assets", "img", "images",
    "blog", "forum", "wiki", "docs", "help", "support",
    "dev", "development", "test", "testing", "qa",
    "stage", "staging", "uat", "preprod", "demo",
    "beta", "alpha", "preview",
    "admin", "administrator", "manage", "management",
    "cpanel", "whm", "plesk",
    "portal", "dashboard", "console",
    "db", "database", "mysql", "postgres", "mongo", "redis",
    "sql", "mssql", "oracle",
    "cloud", "aws", "azure", "gcp",
    "ns", "ns1", "ns2", "ns3", "ns4",
    "dns", "dns1", "dns2",
    "mx", "mx1", "mx2",
    "m", "mobile", "app", "apps", "wap",
    "ios", "android",
    "us", "eu", "asia", "cn", "jp", "uk",
    "east", "west", "north", "south",
    "shop", "store", "ecommerce", "cart",
    "payment", "pay", "billing",
    "crm", "erp", "hr",
    "video", "videos", "media", "stream",
    "news", "press",
    "monitor", "monitoring", "status",
    "stats", "analytics", "metrics",
    "log", "logs", "logging",
    "secure", "ssl", "auth", "oauth", "sso",
    "proxy", "gateway",
    "chat", "im", "slack", "teams",
    "conference", "meet", "zoom",
)


def merged_prefixes(custom: list[str] | None = None) -> list[str]:
    """expander.go:29-49 — common + custom, canonicalized, first-wins dedup."""
    merged = list(COMMON_SUBDOMAINS) + list(custom or [])
    out: list[str] = []
    seen: set[str] = set()
    for p in merged:
        p = p.strip().lower()
        if p and p not in seen:
            seen.add(p)
            out.append(p)
    return out


def is_sld_one(domain: str) -> bool:
    """expander.go:134-141 — PSL error → False."""
    domain = canonicalize_one(domain)
    return psl.etld_plus_one(domain) == domain


def expand_domain_one(domain: str, prefixes: list[str] | None = None) -> list[str]:
    """expander.go:103-131 — SLD fans out to [self] + prefixed; non-SLD and
    PSL-error inputs pass through unchanged."""
    domain = canonicalize_one(domain)
    etld1 = psl.etld_plus_one(domain)
    if etld1 is None or domain != etld1:
        return [domain]
    ps = prefixes if prefixes is not None else merged_prefixes()
    return [domain] + [f"{p}.{domain}" for p in ps]
