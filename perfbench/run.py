"""Frontier benchmark: runs one crawl workload and prints its metrics.

    python3 perfbench/run.py --workload crawl-extract --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. One invocation starts one Spark session
(``local[<cores>]``), makes the workload's inputs from ``--seed`` (or loads
them from ``.perfbench_cache/``), warms the session with a one-round crawl,
then runs the workload's crawl back to back, one caller, until
``--seconds`` have passed. Every crawl's outputs are checked against the
reference simulator. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` alternates untraced and traced crawls (at least three,
untraced first) and reports the per-layer metrics of the traced ones, plus
the tracing overhead: the traced crawls' median wall over the untraced
crawls' median wall.

Standard output: one JSON line per crawl, one context line, and last the
result line ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

import workloads
from measure import summarize
from tracing import MB, PYTHON_METRICS, STAGE_FIELDS, WAVES, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "subdomain_crawler_spark"
CACHE = os.path.join(ROOT, ".perfbench_cache")
DRIVER_MEMORY = "2g"
TABLES = ("seen", "results", "http_log", "dns_log", "frontier")
# One round pays the cold JVM, JIT and Python-worker start-up. A full crawl
# as warm-up costs ~8 s more set-up and leaves the first timed crawl as
# much slower than the second as a one-round warm-up does.
WARMUP_ROUNDS = 1

END_TO_END = {
    "wall_s": "s", "first_commit_s": "s", "urls_per_s": "1/s",
    "subdomains_per_s": "1/s", "pages_per_s": "1/s", "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "crawl.start_s": "s", "crawl.round_median_s": "s",
    "crawl.round_max_s": "s", "crawl.rounds": "count",
    **{f"tableio.append_{t}_s": "s" for t in TABLES},
    "tableio.bytes_written_mb": "MB", "tableio.commit_s": "s",
    **{f"spark.{w}.{f}": ("s" if f.endswith("_s") else
                          "MB" if f.endswith("_mb") else
                          "count" if f == "tasks" else "ratio")
       for w in WAVES for f in STAGE_FIELDS},
    "driver.serial_s": "s",
    **{k: ("MB" if k.endswith("_mb") else "s")
       for k in PYTHON_METRICS.values()},
    "politeness.deferred_rows": "count",
    "politeness.scheduled_rows": "count",
    "seen.bank_builds": "count", "seen.bank_build_s": "s",
    "crawl.fetch_success_ratio": "ratio", "crawl.novel_per_url": "ratio",
    "trace.overhead_pct": "%",
}


def build_session(cpus: int):
    """A session sized to this machine, with its scratch inside CACHE."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(CACHE, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # a heap committed and touched in full at start leaves the JVM's
        # resident peak to what lives outside the heap, which repeats
        # from run to run; a heap grown on demand peaks wherever GC left it
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} "
                "-XX:+AlwaysPreTouch")
        .config("spark.sql.warehouse.dir", os.path.join(CACHE, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the traced run reads jobs, stages and SQL executions back
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def cpu_ticks() -> list[int]:
    """The machine's CPU time so far, in ticks: user, nice, system, idle,
    iowait, irq, softirq and steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def layer_metrics(tracer: Tracer, res: dict, workdir: str) -> dict:
    stats = res["stats"]
    walls = [st.wall_sec for st in stats]
    total = lambda k: sum(getattr(st, k) for st in stats)
    # rows of each round's frontier that were neither scheduled nor dropped
    # carry into the next frontier next to the newly enqueued ones
    nxt = [st.tasks_processed for st in stats[1:]]
    nxt.append(workloads.frontier_rows(workdir, len(stats)))
    out = {
        "crawl.start_s": tracer.span_total("crawl.start"),
        "crawl.round_median_s": statistics.median(walls),
        "crawl.round_max_s": max(walls),
        "crawl.rounds": len(stats),
        **{f"tableio.append_{t}_s": tracer.span_total(f"tableio.append_{t}")
           for t in TABLES},
        "tableio.bytes_written_mb": workloads.bytes_written(workdir) / MB,
        "tableio.commit_s": tracer.span_total("tableio.commit"),
        "politeness.scheduled_rows": total("dns_requests"),
        "politeness.deferred_rows": sum(
            n - st.tasks_enqueued for n, st in zip(nxt, stats)),
        "seen.bank_builds": tracer.span_count("seen.bank_build"),
        "seen.bank_build_s": tracer.span_total("seen.bank_build"),
        "crawl.fetch_success_ratio": (total("success_count")
                                      / max(total("http_requests"), 1)),
        "crawl.novel_per_url": (total("unique_subdomains")
                                / max(total("tasks_processed"), 1)),
    }
    out.update(tracer.read_back())
    return out


def run_sample(spark, w, base: str, work: str, k: int, traced: bool) -> dict:
    """One timed crawl, its output check and, when traced, its layers."""
    workdir = os.path.join(work, f"crawl-{k}")
    tracer = Tracer(spark, f"sample{k}") if traced else None
    out = {"sample": k, "traced": traced}
    try:
        with tracer.bank_builds() if tracer else nullcontext():
            res = workloads.crawl(
                spark, w, base, workdir, w.max_rounds,
                run=tracer.instrument if tracer else None)
        stats = res["stats"]
        out.update(
            wall_s=res["wall_s"], first_commit_s=res["first_commit_s"],
            urls=sum(st.tasks_processed for st in stats),
            subdomains=sum(st.unique_subdomains for st in stats),
            pages=sum(st.success_count for st in stats),
            mismatches=workloads.check(base, workdir, stats))
        if tracer:
            out["layers"] = layer_metrics(tracer, res, workdir)
    except Exception:  # a crawl that raises counts as a failed attempt
        traceback.print_exc()
        out["error"] = traceback.format_exc(limit=3)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.catalog.clearCache()
    out["correct"] = "error" not in out and not out.get("mismatches")
    return out


def end_to_end(samples: list[dict], setup_s: float, peak_mb: float) -> dict:
    timed = [s for s in samples if "error" not in s and not s["traced"]]
    med = lambda f: summarize([f(s) for s in timed])["median"]
    return {
        "wall_s": med(lambda s: s["wall_s"]),
        "first_commit_s": med(lambda s: s["first_commit_s"]),
        "urls_per_s": med(lambda s: s["urls"] / s["wall_s"]),
        "subdomains_per_s": med(lambda s: s["subdomains"] / s["wall_s"]),
        "pages_per_s": med(lambda s: s["pages"] / s["wall_s"]),
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
    }


def per_layer(samples: list[dict]) -> dict:
    ok = [s for s in samples if "error" not in s]
    traced = [s for s in ok if s["traced"]]
    out = {k: statistics.median(s["layers"][k] for s in traced)
           for k in PER_LAYER if k != "trace.overhead_pct"}
    untraced = statistics.median(s["wall_s"] for s in ok if not s["traced"])
    out["trace.overhead_pct"] = 100.0 * (
        statistics.median(s["wall_s"] for s in traced) / untraced - 1.0)
    return out


def context(args, cpus: int, setup: dict, samples: list[dict],
            ticks: list[int]) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f
                          if line.startswith("MemTotal:")).split()[1])
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=30).stdout.strip() or None
    walls = [s["wall_s"] for s in samples
             if "wall_s" in s and not s["traced"]]
    return {"context": {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cpus": cpus,
        "ram_gb": round(mem_kb / 2 ** 20, 1),
        "driver_memory": DRIVER_MEMORY, "pyspark": pyspark.__version__,
        "git_commit": commit, "loop": "closed, one caller",
        "setup": setup, "wall_s": summarize(walls) if walls else None,
        # CPU time the hypervisor gave to other machines during the timed
        # crawls: a high share explains a slow run
        "steal_share": ticks[7] / max(sum(ticks), 1),
    }}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE}/ not found in {ROOT}",
              file=sys.stderr)
        return 2
    w = workloads.WORKLOADS[args.workload]
    os.makedirs(os.path.join(CACHE, "tmp"), exist_ok=True)
    # Python workers import the package from the checkout; every scratch
    # file stays inside the cache directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(CACHE, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    sys.path.insert(0, ROOT)
    cpus = len(os.sched_getaffinity(0))

    work = tempfile.mkdtemp(prefix="work-", dir=CACHE)
    t0 = time.perf_counter()
    spark = build_session(cpus)
    setup = {"session_s": time.perf_counter() - t0}
    samples: list[dict] = []
    try:
        base, setup["inputs_s"], setup["reference_s"] = workloads.prepare(
            w, args.seed, CACHE)
        t0 = time.perf_counter()
        warm = os.path.join(work, "warmup")
        workloads.crawl(spark, w, base, warm, WARMUP_ROUNDS)
        shutil.rmtree(warm, ignore_errors=True)
        spark.catalog.clearCache()
        setup["warmup_s"] = time.perf_counter() - t0

        t0, ticks = time.perf_counter(), cpu_ticks()
        while True:
            traced = args.trace == 1 and len(samples) % 2 == 1
            s = run_sample(spark, w, base, work, len(samples), traced)
            samples.append(s)
            print(json.dumps({k: v for k, v in s.items() if k != "layers"}),
                  flush=True)
            # traced runs sit between untraced ones, so the overhead
            # compares like with like while the JIT is still warming
            enough = args.trace == 0 or len(samples) >= 3
            if enough and time.perf_counter() - t0 >= args.seconds:
                break
        ticks = [b - a for a, b in zip(ticks, cpu_ticks())]
        peak_mb = jvm_peak_rss_mb()
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    setup_s = setup["session_s"] + setup["inputs_s"] + setup["warmup_s"]
    print(json.dumps(context(args, cpus, setup, samples, ticks)),
          flush=True)
    failed = sum(not s["correct"] for s in samples)
    if all("error" in s for s in samples):
        print("perfbench: every crawl raised", file=sys.stderr)
        return 1
    values = (per_layer(samples) if args.trace
              else end_to_end(samples, setup_s, peak_mb))
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": failed == 0, "attempted": len(samples), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
