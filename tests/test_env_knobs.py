"""Configuration lives in CrawlConfig: no library module may read a
``SPARK_GRAFT_*`` environment variable (source text scan, no Spark).
Deployment paths such as ``SPARK_HOME`` stay allowed."""

from __future__ import annotations

import pathlib

import subdomain_crawler_spark

PKG = pathlib.Path(subdomain_crawler_spark.__file__).parent


def test_library_reads_no_spark_graft_env():
    hits = [f"{path.relative_to(PKG)}:{i}: {line.strip()}"
            for path in sorted(PKG.rglob("*.py"))
            for i, line in enumerate(path.read_text().splitlines(), 1)
            if "SPARK_GRAFT_" in line]
    assert not hits, "SPARK_GRAFT_* in library code:\n" + "\n".join(hits)
