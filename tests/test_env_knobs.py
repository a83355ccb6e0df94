"""Configuration lives in CrawlConfig: no library module may read a
``SPARK_GRAFT_*`` environment variable, every CrawlConfig field must be
read somewhere in the library, and every Arrow UDF must have a caller
(source text scans, no Spark). Deployment paths such as ``SPARK_HOME``
stay allowed."""

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
    """A field no module outside config.py names is a knob with no effect."""
    text = "\n".join(path.read_text() for path in sorted(PKG.rglob("*.py"))
                     if path != PKG / "config.py")
    unread = [f.name for f in dataclasses.fields(CrawlConfig)
              if not re.search(rf"\b{f.name}\b", text)]
    assert not unread, f"CrawlConfig fields read by no library module: {unread}"


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
