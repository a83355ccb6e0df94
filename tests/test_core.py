"""M1 — ported reference unit tables (no SparkSession needed).

Every case below is a direct port of a Go table-driven test in
/root/reference/pkg/infrastructure/domainservice/domain_service_test.go,
run against both the scalar and the Series-vectorized kernel forms.
"""

from __future__ import annotations

import pandas as pd
import pytest

from subdomain_crawler_spark.functions import core


def both(fn_one, fn_series, value, *args):
    """Assert scalar and vectorized forms agree, return the scalar result."""
    scalar = fn_one(value, *args)
    vec = fn_series(pd.Series([value]), *args).iloc[0]
    if isinstance(scalar, list):
        assert list(vec) == scalar
    else:
        assert vec == scalar or (scalar != scalar and vec != vec)
    return scalar


# TestValidator_IsValid (domain_service_test.go:7-29)
@pytest.mark.parametrize(
    "domain,expected",
    [
        ("www.example.com", True),
        ("api.example.com", True),
        ("", False),
        ("not a domain", False),
        ("deep.sub.example.com", True),
        # extra pins for the regex's edge semantics
        ("example.com\n", True),     # TrimSpace strips the newline first
        ("EXAMPLE.COM", True),       # IsValid does NOT lowercase
        ("xn--p1ai.com", True),
        ("-bad.example.com", False),
        ("example.c", False),        # TLD must be ≥2 alpha
        ("1.2.3.4", False),          # numeric TLD rejected
    ],
)
def test_is_valid(domain, expected):
    assert both(core.is_valid_one, core.is_valid, domain) == expected


# TestValidator_IsInScope with explicit root (domain_service_test.go:31-57)
@pytest.mark.parametrize(
    "domain,root,expected",
    [
        ("example.com", "example.com", True),
        ("www.example.com", "example.com", True),
        ("api.v1.example.com", "example.com", True),
        ("attacker.com", "example.com", False),
        ("notexample.com", "example.com", False),  # suffix needs the dot
        ("WWW.Example.COM ", "example.com", True),  # canonicalized first
    ],
)
def test_in_scope_with_root(domain, root, expected):
    assert core.in_scope_one(domain, root) == expected
    assert bool(core.in_scope(pd.Series([domain]), pd.Series([root])).iloc[0]) == expected
    assert bool(core.in_scope_vs_root(pd.Series([domain]), root).iloc[0]) == expected


# IsInScope with root="" → whitelist membership (test case "api.test.com","",true)
def test_in_scope_whitelist():
    wl = core.build_root_whitelist(["example.com", "test.com"])
    s = pd.Series(["api.test.com", "www.example.com", "attacker.com", "test.com"])
    assert list(core.in_scope_whitelist(s, wl)) == [True, True, False, True]


# TestCalculator_GetDepth (domain_service_test.go:59-83)
@pytest.mark.parametrize(
    "domain,expected",
    [
        ("example.com", 0),
        ("www.example.com", 1),
        ("api.www.example.com", 2),
        ("v1.api.www.example.com", 3),
        # PSL-error fallback: count ALL dots + 1 (domain_service.go:84-87)
        ("localhost", 1),
        ("com", 1),
        # multi-label public suffix
        ("cs.tsinghua.edu.cn", 1),
        ("tsinghua.edu.cn", 0),
    ],
)
def test_get_depth(domain, expected):
    assert both(core.get_depth_one, core.get_depth, domain) == expected


# TestCalculator_GetRoot (domain_service_test.go:85-115)
@pytest.mark.parametrize(
    "domain,expected",
    [
        ("example.com", "example.com"),
        ("www.example.com", "example.com"),
        ("api.v1.example.com", "example.com"),
        ("cs.tsinghua.edu.cn", "tsinghua.edu.cn"),
        ("WWW.EXAMPLE.COM", "example.com"),  # GetRoot canonicalizes
        ("com", None),                        # Go returns error
        ("", None),
        # default '*' rule: unknown TLD is itself a suffix
        ("foo.bar.unknowntld", "bar.unknowntld"),
        # wildcard *.ck and exception !www.ck
        ("a.b.site.ck", "b.site.ck"),
        ("www.ck", "www.ck"),
        ("sub.www.ck", "www.ck"),
    ],
)
def test_get_root(domain, expected):
    assert core.get_root_one(domain) == expected
    got = core.get_root(pd.Series([domain])).iloc[0]
    assert (got is None and expected is None) or got == expected


def test_get_distance():
    # domain_service.go:109-123
    assert core.get_distance_one("www.example.com", "example.com") == 1
    assert core.get_distance_one("example.com", "example.com") == 0
    assert core.get_distance_one("attacker.com", "example.com") == -1
    # quirk: plain HasSuffix (no dot) — "notexample.com" IS related per Go,
    # and TrimSuffix(".example.com") is a no-op → count all dots + 1 = 2
    assert core.get_distance_one("notexample.com", "example.com") == 2


# TestExtractor_ExtractFromText (domain_service_test.go:117-156)
def test_extract_from_text_min_counts():
    cases = [
        ("Visit www.example.com and api.example.com", 2),
        ('<a href="http://www.example.com">Link</a> Contact: admin@example.com', 2),
        ("No domains here!", 0),
    ]
    for text, min_count in cases:
        got = both(core.extract_hosts_one, core.extract_hosts, text)
        assert len(got) >= min_count


def test_extract_from_text_order_and_dedup():
    text = "b.example.com then A.EXAMPLE.COM then b.example.com"
    # first-occurrence order preserved, case-folded dedup
    assert core.extract_hosts_one(text) == ["b.example.com", "a.example.com"]
    assert list(core.extract_hosts(pd.Series([text])).iloc[0]) == [
        "b.example.com", "a.example.com",
    ]


def test_extract_from_text_email_matches_domain():
    # the unanchored regex grabs the host part of an email address
    assert "example.com" in core.extract_hosts_one("admin@example.com")


# TestExtractor_FilterByRoot (domain_service_test.go:158-183)
def test_filter_by_root():
    domains = pd.Series(
        ["www.example.com", "api.example.com", "www.attacker.com", "blog.example.com"]
    )
    kept = domains[core.in_scope_vs_root(domains, "example.com")]
    assert len(kept) == 3
    assert "www.attacker.com" not in list(kept)


# TestExpander_IsSLD (domain_service_test.go:185-212)
@pytest.mark.parametrize(
    "domain,expected",
    [
        ("example.com", True),
        ("tsinghua.edu.cn", True),
        ("www.example.com", False),
        ("api.v1.example.com", False),
        ("com", False),  # PSL error → False (expander.go:137-140)
    ],
)
def test_is_sld(domain, expected):
    assert core.is_sld_one(domain) == expected


# TestExpander_ExpandDomain (domain_service_test.go:214-249)
def test_expand_sld():
    got = core.expand_domain_one("example.com")
    assert len(got) >= 100
    assert got[0] == "example.com"  # original first (expander.go:121)
    assert "www.example.com" in got and "mail.example.com" in got
    assert len(got) == len(set(got))


def test_expand_subdomain_passthrough():
    assert core.expand_domain_one("www.example.com") == ["www.example.com"]
    # PSL-error input passes through too (expander.go:108-111)
    assert core.expand_domain_one("com") == ["com"]


# TestExpander_CustomSubdomains (domain_service_test.go:251-273)
def test_expand_custom_subdomains():
    ps = core.merged_prefixes(["custom1", "CUSTOM2 ", "www"])  # dedup vs common
    got = core.expand_domain_one("example.com", ps)
    assert "custom1.example.com" in got and "custom2.example.com" in got
    assert got.count("www.example.com") == 1


# TestExtractor_ExtractTitle (domain_service_test.go:275-334)
@pytest.mark.parametrize(
    "html,expected",
    [
        ("<html><head><title>Example Domain</title></head><body></body></html>",
         "Example Domain"),
        ('<title lang="en">Example Domain</title>', "Example Domain"),
        ("<title>\n  Example \n  Domain  \n</title>", "Example Domain"),
        ("<TITLE>Example Domain</TITLE>", "Example Domain"),
        ("<html><body>No title here</body></html>", ""),
        # first match wins; tabs collapse
        ("<title>A\tB</title><title>C</title>", "A B"),
    ],
)
def test_extract_title(html, expected):
    assert both(core.extract_title_one, core.extract_title, html) == expected


# TestExtractor_ExtractFromHTML (domain_service_test.go:336-358) — X2, dead
# code in the reference's main path but parity-kept behind its own function.
@pytest.mark.parametrize(
    "html,expected",
    [
        ('<a href="http://www.example.com">Link</a>', ["www.example.com"]),
        ('<a href="http://link.example.com">Link</a> and text.example.com',
         ["link.example.com", "text.example.com"]),
        ('<a href="/path/2f2f.example.com">Link</a>', []),
        ('<a href="//valid.example.com">Link</a>', ["valid.example.com"]),
    ],
)
def test_extract_from_html(html, expected):
    got = core.extract_hosts_html_one(html)
    for e in expected:
        assert e in got, f"missing {e} in {got}"
    if not expected:
        assert got == []


def test_canonicalize():
    s = pd.Series(["  WWW.Example.COM \n", "a.B.c"])
    assert list(core.canonicalize(s)) == ["www.example.com", "a.b.c"]


def test_page_features_extraction_parity(spark):
    """The crawl's one extraction path (udfs.udf_page_features — X1+F2+X3
    in one Arrow pass) must match the per-text kernels exactly: same
    matches, same first-wins dedup order, same scope filter, same title
    normalization. Edge family: emails, path lookalikes, mixed case,
    duplicates, multi-title, control chars, empty, non-ASCII."""
    from subdomain_crawler_spark.functions import udfs

    texts = [
        "plain text no hosts here",
        "Visit www.Example.COM and again WWW.example.com plus api.example.com",
        "email admin@mail.example.com and /path/2f2f.example.com slash",
        "a.example.com b.other.org a.example.com example.com",
        "<title>  Hi\n\tThere  </title> x.example.com <title>second</title>",
        "<TITLE lang=en>Mixed\rCase</TITLE> cdn.example.com",
        "no title but a-b.example.com and -bad-.example.com and a..b",
        "",
        "proto-relative //static.example.com/x and deep.a.b.example.com",
        # non-ASCII: NBSP / ideographic-space token boundaries,
        # Unicode-whitespace title edges, KELVIN-sign case fold
        "nbsp\u00a0x.example.com\u00a0tail and\u3000y.example.com\u3000ok",
        "<title>\u00a0 padded \u2003title \u00a0</title> z.example.com",
        "kelvin \u212aelvin.example.com and long-s \u017fad.example.com",
        "h\u00e9llo w\u00f6rld caf\u00e9.example.com plain.example.com",
    ]
    root = "example.com"
    df = spark.createDataFrame(
        pd.DataFrame({"caption": texts, "root": [root] * len(texts)}))
    got = (df.select(udfs.udf_page_features("caption", "root").alias("pf"))
           .collect())
    assert len(got) == len(texts)
    for text, row in zip(texts, got):
        want_scope = [c for c in core.extract_hosts_one(text)
                      if c == root or c.endswith("." + root)]
        assert list(row.pf.cands) == want_scope, text
        assert row.pf.title == core.extract_title_one(text), text


def test_etld_fast_path_parity():
    """psl.etld_plus_one_fast (rfind fast path for single-rule TLDs) must
    equal the full rule walk on every rule class: plain gTLD, multi-label
    (co.uk/edu.cn/com.br), wildcard (*.ck), exception (!www.ck), unknown
    TLD (default '*' rule), and every invalid form."""
    import random

    from subdomain_crawler_spark.functions import psl

    cases = ["example.com", "a.b.example.com", "foo.co.uk", "co.uk", "uk",
             "x.gov.cn", "deep.a.edu.cn", "bar.ck", "www.ck", "x.www.ck",
             "a.b.ck", "name.uk", "xyz.unknowntld", "single", "", ".com",
             "com.", "a..b", "x.ah.cn", "sub.site.com.br", "q.ac.jp",
             "t.co.in", "x.y.z.gov.br", "only.ck", "a.io"]
    rng = random.Random(7)
    cases += [f"h{rng.randrange(99)}.s{rng.randrange(999)}.{t}"
              for t in ("com", "cn", "co.uk", "edu.cn", "ck", "jp", "xyz",
                        "zz")
              for _ in range(25)]
    for c in cases:
        assert psl.etld_plus_one_fast(c) == psl.etld_plus_one(c), c


def test_expansion_root_shortcut():
    """The fused seed expander (plans/crawl._make_seed_expander) assigns
    root = seed for every expansion host WITHOUT calling the PSL kernel,
    on the proof that etld1(p + "." + s) == s whenever etld1(s) == s.
    Pin that identity across every rule class: plain gTLD, multi-label
    suffix, wildcard (*.ck), exception (!www.ck), unknown TLD (default
    '*' rule)."""
    from subdomain_crawler_spark.functions import core, psl

    sld_seeds = ["example.com", "foo.co.uk", "site.gov.cn", "b.site.ck",
                 "www.ck", "shop.com.br", "name.unknowntld", "x.ac.jp"]
    prefixes = core.merged_prefixes()
    for s in sld_seeds:
        assert psl.etld_plus_one(s) == s, f"fixture must be SLD: {s}"
        assert s not in psl.wildcard_parents()
        for p in prefixes:
            assert psl.etld_plus_one(f"{p}.{s}") == s, (p, s)
    # the COUNTEREXAMPLE class (round-6 review finding): a wildcard rule
    # whose parent is itself an SLD (*.kawasaki.jp, real PSL entry) makes
    # every expansion host its own public suffix — the identity FAILS and
    # the expander must route these seeds through the full kernel
    kaw = "kawasaki.jp"
    assert psl.etld_plus_one(kaw) == kaw          # it IS an SLD
    assert kaw in psl.wildcard_parents()           # and shortcut-unsafe
    assert psl.etld_plus_one(f"www.{kaw}") is None          # wildcard
    assert psl.etld_plus_one(f"city.{kaw}") == f"city.{kaw}"  # exception


def test_fused_seed_expander_matches_reference():
    """One fused-kernel pass over a mixed seed partition must equal the
    reference expansion semantics row-for-row (expand_domain_one + PSL-error
    root fallback). The kernel does not dedup: every row it emits for one
    host must be identical, which is what lets the engine's whole-row
    distinct stand in for a per-host dedup."""
    import pandas as pd

    from subdomain_crawler_spark.functions import core
    from subdomain_crawler_spark.plans.crawl import _make_seed_expander

    seeds = ["example.com", "www.example.com", "example.com",  # dup + overlap
             "b.site.ck", "www.ck", "single", "deep.a.edu.cn",
             "foo.co.uk", "x.www.ck",
             # wildcard-rule PARENT (*.kawasaki.jp): an SLD whose expansion
             # hosts are PSL errors (root = full host) or the excepted
             # child — the one class where the root shortcut must NOT fire
             "kawasaki.jp"]
    prefixes = core.merged_prefixes()
    kernel = _make_seed_expander(prefixes, True)
    out = pd.concat(list(kernel(iter([pd.DataFrame({"seed": seeds})]))),
                    ignore_index=True)

    want = {}
    for s in seeds:
        for h in core.expand_domain_one(s, prefixes):
            want.setdefault(h, (core.get_root_one(h) or h, 0))
    rows = out.drop_duplicates(ignore_index=True)
    assert rows["host"].is_unique, "rows sharing a host differ"
    assert len(out) > len(rows)  # the duplicate and overlapping seeds
    got = {r.host: (r.root, r.depth) for r in rows.itertuples()}
    assert got == want
