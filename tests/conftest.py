from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("subdomain-crawler-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.default.parallelism", "4")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn, *args, **kwargs)`` -> (fn's result, the number of
    Spark jobs submitted while it ran, from any thread).  Jobs are read
    back from Spark's status store once the listener bus drains; every job
    id above the highest one recorded before the call is counted."""
    jsc = spark.sparkContext._jsc.sc()

    def job_ids():
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)
        return [jobs.apply(i).jobId() for i in range(jobs.size())]

    def count(fn, *args, **kwargs):
        before = max(job_ids(), default=-1)
        out = fn(*args, **kwargs)
        return out, sum(1 for j in job_ids() if j > before)

    return count


@pytest.fixture(scope="session")
def fixture_web(tmp_path_factory):
    """Deterministic synthetic web (scale=1) written once per session."""
    from subdomain_crawler_spark.sources import fixtures

    tables = fixtures.make_web(scale=1, seed=42)
    base = str(tmp_path_factory.mktemp("web"))
    fixtures.write_parquet(tables, base)
    return {"tables": tables, "base": base,
            "seeds": list(tables["seeds"]["seed"])}
