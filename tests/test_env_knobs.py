"""Configuration lives in CrawlConfig: no library module may read a
``SPARK_GRAFT_*`` environment variable, every CrawlConfig field must be
read somewhere in the library and set by the CLI, every Arrow UDF must
have a caller, and the crawl module stays free of the query plans (source
text scans, no Spark). Deployment paths such as ``SPARK_HOME`` stay allowed."""

from __future__ import annotations

import dataclasses
import pathlib
import re

import subdomain_crawler_spark
from subdomain_crawler_spark.config import CrawlConfig

PKG = pathlib.Path(subdomain_crawler_spark.__file__).parent


def test_library_reads_no_spark_graft_env():
    hits = [f"{path.relative_to(PKG)}:{i}: {line.strip()}"
            for path in sorted(PKG.rglob("*.py"))
            for i, line in enumerate(path.read_text().splitlines(), 1)
            if "SPARK_GRAFT_" in line]
    assert not hits, "SPARK_GRAFT_* in library code:\n" + "\n".join(hits)


def test_every_crawlconfig_field_is_read():
    """A field no module outside config.py reads as an attribute
    (``.name``) is a knob with no effect. A bare-word match would let a
    parameter or local of the same name stand in for a read."""
    text = "\n".join(path.read_text() for path in sorted(PKG.rglob("*.py"))
                     if path != PKG / "config.py")
    unread = [f.name for f in dataclasses.fields(CrawlConfig)
              if not re.search(rf"\.{f.name}\b", text)]
    assert not unread, f"CrawlConfig fields read by no library module: {unread}"


def test_every_crawlconfig_field_is_set_by_the_cli():
    """A field main.py's ``CrawlConfig(...)`` call does not pass has one
    value outside tests: a constant, not an option."""
    text = (PKG.parent / "main.py").read_text()
    call = re.search(r"\bCrawlConfig\((.*?)\n\s*\)", text, re.S)
    assert call, "no CrawlConfig(...) call in main.py: scan is broken"
    passed = set(re.findall(r"^\s*(\w+)=", call.group(1), re.M))
    unset = [f.name for f in dataclasses.fields(CrawlConfig)
             if f.name not in passed]
    assert not unset, f"CrawlConfig fields main.py never sets: {unset}"


def test_every_udf_has_a_caller():
    """A ``udf_*`` no other library module (or the driver entry) names is
    dead executor code."""
    udfs_py = PKG / "functions" / "udfs.py"
    defined = re.findall(r"^def (udf_\w+)", udfs_py.read_text(), re.M)
    assert defined, "no udf_* definitions found: scan is broken"
    callers = [path for path in sorted(PKG.rglob("*.py")) if path != udfs_py]
    callers.append(PKG.parent / "__spark_entry__.py")
    text = "\n".join(path.read_text() for path in callers)
    uncalled = [u for u in defined if not re.search(rf"\b{u}\b", text)]
    assert not uncalled, f"udfs with no caller: {uncalled}"


def test_crawl_module_imports_no_query_plans():
    """The crawl engine is only the crawl: the oracled query plans and the
    connected-components operator they use are not part of a round."""
    text = (PKG / "plans" / "crawl.py").read_text()
    named = [m for m in ("driver_queries", "operators.components")
             if m in text]
    assert not named, f"plans/crawl.py names {named}"
