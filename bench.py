"""Benchmark entry — prints ONE JSON line for the driver.

Runs (a) the headline driver-contract queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and (b) the flagship crawl over the
deterministic synthetic web, on local[$SPARK_GRAFT_CPUS].

Output: {"metric": ..., "value": <total sec>, "unit": "sec",
         "queries": {name: sec, ...}, "sf": <float>,
         "crawl": {urls_per_sec, subdomains_per_sec, ...}}

Scaling-efficiency evidence (north rule: N vs 4N) is the warm-JVM pair
``python bench.py --scaling-warm``: the same crawl at local[1] and
local[4] (``SPARK_GRAFT_SCALING_LEVELS``), one JVM per level. It prints a
JSON report with the N→4N efficiencies; ``--scaling`` is the interleaved
fresh-JVM variant (local[8] and local[32]) and prints the same kind of
report. Neither writes BENCH/BASELINE.md, which records the measured runs.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE", str(cpus))
    # Scratch placement: SPARK_GRAFT_SCRATCH points shuffle/spill files
    # (spark.local.dir) at a directory of the caller's choice — the scaling
    # protocol passes a tmpfs path so scratch I/O scales with cores the way
    # per-executor local disks do on a real cluster (one shared virtio disk
    # is a single-box artifact; see BENCH/BASELINE.md §3d).
    scratch = os.environ.get("SPARK_GRAFT_SCRATCH", "")
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("subdomain-crawler-bench")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.default.parallelism", str(cpus))
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_JAVA_OPTS", ""))
        .config("spark.task.cpus", os.environ.get("SPARK_GRAFT_TASK_CPUS", "1"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled",
                os.environ.get("SPARK_GRAFT_AQE", "true"))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    if scratch:
        b = b.config("spark.local.dir", scratch)
    return b.getOrCreate()


HEADLINE = [
    "tpch_q1", "tpch_q3", "x1_extract", "x4_expand", "x5_root",
    "w1_first_success", "w2_budget", "d1_anti_join", "a2_rates",
    "a2_windowed", "dedup_exact",
    "token_count", "quality_score", "lang_id", "ngram_jaccard",
    "cosine_topk", "ann_lsh_bucket", "ann_ivf", "ann_ivf_arrow",
    "img_pipeline",
    "payload_validate",
    "img_near_dup_pairs", "img_dup_groups", "img_caption_conflicts",
    "emb_near_dup_pairs",
    "video_frame_sample", "video_near_dup", "video_scene_cuts",
    "img_resize", "img_stats", "audio_features", "audio_near_dup",
    "quality_filter",
    "sessionize", "sample_split", "repetition_score", "fingerprint64",
    "simhash64", "simhash_near_dup",
    "minhash_lsh_pairs", "lsh_cap_stats", "dedup_groups",
    "dedup_pipeline",
    "xmodal_dup_groups", "scene_dedup", "ann_recall_sample",
    "decontaminate",
]

# Driver-contract queries intentionally NOT timed in the headline suite —
# each with the structural reason; tests/test_kernel_bench.py asserts
# every QUERIES entry is either in HEADLINE or here, so a new query cannot
# ship silently unguarded (round-8 VERDICT ask #2).
HEADLINE_EXEMPT = {
    "f1_validate": "pure JVM regex filter; same events-scan shape as "
                   "x1_extract (guarded), no kernel of its own",
    "f2_scope": "two-column JVM expression over the same scan as "
                "f1_validate; no shuffle, no UDF",
    "x6_depth": "same PSL pandas kernel and scan as x5_root (guarded)",
    "x3_title": "subset of the fused page-features UDF that x1_extract "
                "(guarded) times end-to-end",
    "x2_extract_html": "same fused extraction UDF as x1_extract (guarded) "
                       "with the HTML-aware flag flipped",
    "j3_semi_join": "broadcast semi-join, the cheaper half of d1_anti_join "
                    "(guarded, same build side)",
    "a1_metrics": "one-row aggregation over the metrics fixture; cost is "
                  "session overhead",
    "a3_recent": "top-k over a tiny ring fixture; cost is session overhead",
    "props_json": "scalar JSON-path projection, no shuffle; JVM-native",
    "u1_union_dedup": "union+distinct shape guarded by dedup_exact "
                      "(same shuffle/agg plan, larger input)",
    "minhash_signature": "signature kernel is timed inside "
                         "minhash_lsh_pairs (guarded) and floored by "
                         "tests/test_kernel_bench.py",
    "ann_recall": "composes two HEADLINE-guarded plans verbatim "
                  "(cosine_topk ∩ ann_ivf, both timed); adds only a "
                  "10-row join + one-row agg of its own",
    "img_quality_filter": "same decode+stats Arrow kernel and scan as "
                          "img_stats (guarded); adds one fixture-size "
                          "broadcast join + pure JVM gate projections",
    "token_count_bpe": "one JVM regexp_count projection over the same "
                       "documents scan as token_count (guarded); no "
                       "shuffle, no UDF",
}

# Regression tripwire (round-7 review ask #6): recorded driver-window
# timings (BENCH_r06.json, sf0.1 local[32]) form the envelope; a headline
# entry only trips beyond ENVELOPE_NOISE_FACTOR × its recorded value
# because this box's documented window noise is ±2-3× (BENCH/BASELINE.md
# §0/§0b — the same code re-measured 17.7-21.2 s on a 22.0 s crawl leg in
# different hour windows, and single-window numbers support no perf claim,
# see the pairing protocol there). The guard therefore catches STRUCTURAL
# regressions (a lost broadcast, a new shuffle, a cache that stopped
# hitting), not weather. It is a LOUD TRIPWIRE, not a hard gate: the JSON
# line carries a "regressions" list and stderr shouts, but the exit code
# stays 0 so the driver still records the run. Queries added after the
# envelope was recorded are unchecked until the envelope is refreshed from
# the next driver BENCH record; tests/test_kernel_bench.py asserts the
# shipped envelope covers EVERY headline entry (queries added mid-round are
# seeded from a disclosed local sf0.1 local[32] run until a driver record
# exists).
# Recorded from BENCH_r09.json (driver run, sf0.1 local[32]) — round-9
# VERDICT ask #1: that record covers every headline query including the
# round-9 additions, so all rows are driver-record values and
# ENVELOPE_PROVISIONAL is fully drained.
ENVELOPE = {
    "tpch_q1": 0.479, "tpch_q3": 1.719, "x1_extract": 0.271,
    "x4_expand": 0.554, "x5_root": 0.265, "w1_first_success": 0.644,
    "w2_budget": 0.552, "d1_anti_join": 0.286, "a2_rates": 0.419,
    "a2_windowed": 0.412,
    "dedup_exact": 0.383, "token_count": 0.136, "quality_score": 0.154,
    "lang_id": 0.24, "ngram_jaccard": 0.313, "cosine_topk": 0.51,
    "ann_lsh_bucket": 0.64, "ann_ivf": 2.203,
    "ann_ivf_arrow": 2.101,
    "img_pipeline": 0.319,
    "payload_validate": 0.329,
    "img_near_dup_pairs": 0.46, "img_dup_groups": 2.482,
    "img_caption_conflicts": 0.603,
    "emb_near_dup_pairs": 1.84,
    "video_frame_sample": 0.384, "video_near_dup": 0.754,
    "video_scene_cuts": 0.497, "img_stats": 0.29, "quality_filter": 0.326,
    "simhash_near_dup": 1.991,
    "img_resize": 0.686, "audio_features": 0.271, "audio_near_dup": 0.662,
    "sessionize": 0.86, "sample_split": 0.206,
    "repetition_score": 0.151, "fingerprint64": 0.19, "simhash64": 0.178,
    "minhash_lsh_pairs": 1.232, "lsh_cap_stats": 0.742, "dedup_groups": 1.936,
    "dedup_pipeline": 3.9, "crawl": 13.79,
    # round-10 additions — seeded from a local sf0.1 local[32] bench.py
    # FULL-SUITE run (the driver's exact protocol — in-suite timings, not
    # single-shot, since cache warming from earlier queries is part of
    # what the driver measures) until a driver BENCH record exists;
    # listed in ENVELOPE_PROVISIONAL so the tripwire reports them as such
    "xmodal_dup_groups": 2.8, "scene_dedup": 1.766,
    "ann_recall_sample": 1.709, "decontaminate": 0.283,
}
# Envelope rows seeded from a LOCAL same-machine run rather than a driver
# BENCH record (round-8 ADVICE: tag programmatically so the tripwire can
# say so) — refresh from the next BENCH_r{N}.json and drain this set.
ENVELOPE_PROVISIONAL: set[str] = {"xmodal_dup_groups", "scene_dedup",
                                  "ann_recall_sample", "decontaminate"}
ENVELOPE_NOISE_FACTOR = 3.0


def check_envelope(timings: dict[str, float],
                   envelope: dict[str, float] = ENVELOPE,
                   factor: float = ENVELOPE_NOISE_FACTOR) -> list[dict]:
    """Return the headline entries exceeding their recorded envelope by
    more than the documented window noise (each as {query, sec,
    envelope_sec, factor, provisional?}). Entries whose envelope row was
    seeded locally (ENVELOPE_PROVISIONAL) carry provisional=True — their
    calibration protocol differs until a driver record refreshes them.
    Pure so tests can pin the logic without Spark."""
    out = []
    for k, v in timings.items():
        if k in envelope and v > envelope[k] * factor:
            hit = {"query": k, "sec": v, "envelope_sec": envelope[k],
                   "factor": round(v / envelope[k], 2)}
            if k in ENVELOPE_PROVISIONAL:
                hit["provisional"] = True
            out.append(hit)
    return out


def run_queries(spark, sf_dir: str) -> dict[str, float]:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from subdomain_crawler_spark.plans import driver_queries as dq

    # JVM/Arrow warmup (not counted)
    dq.QUERIES["tpch_q1"](spark, sf_dir).count()

    out = {}
    for name in HEADLINE:
        t0 = time.monotonic()
        dq.QUERIES[name](spark, sf_dir).count()
        out[name] = round(time.monotonic() - t0, 3)
    return out


def _crawl_over(spark, base: str, seeds, label: dict) -> dict:
    from subdomain_crawler_spark.config import CrawlConfig
    from subdomain_crawler_spark.plans.crawl import CrawlEngine

    # crawl outputs (seen/frontier/logs/results parquet) go to the scratch
    # dir when the scaling protocol provides one — same rationale as
    # spark.local.dir in build_spark; the INPUT corpus location is
    # unchanged (identical bytes for every level)
    workdir = tempfile.mkdtemp(
        prefix="crawl_run_",
        dir=os.environ.get("SPARK_GRAFT_SCRATCH") or None)
    try:
        corpus = spark.read.parquet(f"{base}/corpus.parquet")
        dns = spark.read.parquet(f"{base}/dns.parquet")
        cfg = CrawlConfig(honor_robots=False)
        eng = CrawlEngine(spark, cfg, f"{workdir}/crawl", corpus, dns)
        max_rounds = int(os.environ.get("SPARK_GRAFT_MAX_ROUNDS", "16"))
        t0 = time.monotonic()
        stats = eng.run(seeds=seeds, max_rounds=max_rounds)
        wall = time.monotonic() - t0
        processed = sum(s.tasks_processed for s in stats)
        novel = sum(s.unique_subdomains for s in stats)
        return {
            **label,
            "rounds": len(stats),
            "frontier_urls": processed,
            "subdomains_discovered": novel,
            "wall_sec": round(wall, 2),
            "urls_per_sec": round(processed / wall, 1),
            "subdomains_per_sec": round(novel / wall, 1),
        }
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def scaling_web_dir(n_roots: int, hosts_per_root: int, bloat: int) -> str:
    """Generate (once) and cache the big image-free scaling corpus so the
    local[8] and local[32] JVMs crawl identical input."""
    from subdomain_crawler_spark.sources import fixtures

    base = os.path.join(
        tempfile.gettempdir(),
        f"scaling_web_r{n_roots}_h{hosts_per_root}_b{bloat}")
    marker = os.path.join(base, "_DONE")
    if not os.path.exists(marker):
        tables = fixtures.make_scaling_web(n_roots=n_roots,
                                           hosts_per_root=hosts_per_root,
                                           bloat_words=bloat)
        fixtures.write_parquet(tables, base,
                               n_files={"corpus": 64, "dns": 16})
        with open(marker, "w") as f:
            f.write("ok")
    # seed FILE alongside the corpus (written even for pre-existing cached
    # dirs): the scaling crawl ingests seeds via spark.read.text — the
    # production S1 shape (round-7) — instead of a driver list
    seeds_path = os.path.join(base, "seeds.txt")
    if not os.path.exists(seeds_path):
        with open(seeds_path, "w") as f:
            f.writelines(f"site{i}.com\n" for i in range(n_roots))
    return base


def run_scaling_crawl(spark, cpus: int) -> dict:
    n_roots = int(os.environ.get("SPARK_GRAFT_SCALING_ROOTS", "1200"))
    hpr = int(os.environ.get("SPARK_GRAFT_SCALING_HPR", "24"))
    bloat = int(os.environ.get("SPARK_GRAFT_SCALING_BLOAT", "120"))
    base = scaling_web_dir(n_roots, hpr, bloat)
    seeds = spark.read.text(os.path.join(base, "seeds.txt"))
    return _crawl_over(spark, base, seeds,
                       {"cpus": cpus, "n_roots": n_roots,
                        "hosts_per_root": hpr, "bloat_words": bloat})


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    spark = build_spark(cpus)
    queries = run_queries(spark, sf_dir)
    # throughput-meaningful crawl: the image-free scaling corpus amortizes
    # per-round overhead; the image fixture crawl stays correctness-shaped
    # (it is exercised by pytest, not timed here)
    crawl = run_scaling_crawl(spark, cpus)
    spark.stop()

    total = round(sum(queries.values()) + crawl["wall_sec"], 3)
    regressions = check_envelope({**queries, "crawl": crawl["wall_sec"]})
    for r in regressions:
        print(f"REGRESSION TRIPWIRE: {r['query']} took {r['sec']}s = "
              f"{r['factor']}x its recorded envelope of "
              f"{r['envelope_sec']}s (beyond the {ENVELOPE_NOISE_FACTOR}x "
              f"documented window noise — likely structural; pair it per "
              f"BENCH/BASELINE.md §0b before trusting either number)",
              file=sys.stderr, flush=True)
    print(json.dumps({
        "metric": "headline suite + crawl wall time",
        "value": total,
        "unit": "sec",
        "queries": {**queries, "crawl": crawl["wall_sec"]},
        "sf": sf,
        "cpus": cpus,
        "crawl": crawl,
        "regressions": regressions,
    }))


def scaling() -> None:
    """N-vs-4N scaling evidence (north rule): run the SAME crawl at multiple
    parallelism levels over identical cached input, trials INTERLEAVED
    round-robin across levels — every level samples every host-noise window,
    so a quiet hour cannot flatter one level (round-2 review asked for
    paired trials; min AND median are reported per level).

    Each trial runs in a FRESH subprocess (own JVM + Python): reusing one
    Python process across spark.stop()/getOrCreate poisons later sessions
    (the stopped context's Python-accumulator server leaks into the next —
    thousands of broken-pipe/EOF errors and 2-10× wall inflation, observed
    on this box). Separate processes also match the real N-vs-4N protocol:
    two independently-launched clusters."""
    import statistics
    import subprocess

    n_roots = int(os.environ.get("SPARK_GRAFT_SCALING_ROOTS", "12000"))
    hpr = int(os.environ.get("SPARK_GRAFT_SCALING_HPR", "24"))
    bloat = int(os.environ.get("SPARK_GRAFT_SCALING_BLOAT", "500"))
    trials = int(os.environ.get("SPARK_GRAFT_SCALING_TRIALS", "3"))
    levels = tuple(int(x) for x in os.environ.get(
        "SPARK_GRAFT_SCALING_LEVELS", "8,32").split(","))
    scaling_web_dir(n_roots, hpr, bloat)  # pre-generate once (pyarrow-only)
    walls: dict[int, list[float]] = {c: [] for c in levels}
    fronts: dict[int, set[int]] = {c: set() for c in levels}
    for t in range(trials):
        for cpus in levels:  # interleaved: one trial per level per sweep
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
                       SPARK_GRAFT_SCALING_ROOTS=str(n_roots),
                       SPARK_GRAFT_SCALING_HPR=str(hpr),
                       SPARK_GRAFT_SCALING_BLOAT=str(bloat),
                       SPARK_GRAFT_MAX_ROUNDS=os.environ.get(
                           "SPARK_GRAFT_MAX_ROUNDS", "3"))
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--scaling-one"],
                env=env, capture_output=True, text=True, check=True)
            out = json.loads(proc.stdout.strip().splitlines()[-1])
            walls[cpus].append(out["wall_sec"])
            fronts[cpus].add(out["frontier_urls"])
            print(f"  sweep {t} local[{cpus}]: {out['wall_sec']}s",
                  file=sys.stderr, flush=True)
    # throughput numerator must be IDENTICAL work at every level — a
    # level-dependent frontier (nondeterminism or a parallelism bug) would
    # silently corrupt the efficiency numbers
    all_fronts = set().union(*fronts.values())
    if len(all_fronts) != 1:  # explicit raise: survives `python -O`
        raise RuntimeError(f"frontier_urls differ across trials: {fronts}")
    frontier_urls = all_fronts.pop()
    results = {}
    for cpus in levels:
        w = walls[cpus]
        results[cpus] = {
            "walls": w, "wall_min": min(w),
            "wall_median": round(statistics.median(w), 2),
            "frontier_urls": frontier_urls,
            "urls_per_sec_min": round(frontier_urls / min(w), 1),
            "urls_per_sec_median": round(
                frontier_urls / statistics.median(w), 1),
        }
    report = {
        "corpus": f"{n_roots} roots x {hpr} hosts, {bloat}-word captions",
        "protocol": (f"{trials} interleaved sweeps, fresh subprocess per "
                     f"trial, process tree pinned to N cores"
                     if os.environ.get("SPARK_GRAFT_SCALING_PIN", "1") == "1"
                     else f"{trials} interleaved sweeps, fresh subprocess "
                          f"per trial, UNPINNED (legacy)"),
        **{f"local{c}": results[c] for c in levels},
    }
    for a in levels:
        if a * 4 in results:  # every N → 4N pair measured
            for est in ("min", "median"):
                report[f"eff_{a}_to_{a*4}_{est}"] = round(
                    results[a * 4][f"urls_per_sec_{est}"]
                    / results[a][f"urls_per_sec_{est}"] / 4, 3)
    print(json.dumps(report, indent=2))


def scaling_warm() -> None:
    """Warm-JVM supplementary protocol (round-4 review ask): ONE JVM per
    level runs 1 warmup + T timed crawls over identical cached input.

    Run 0 pays the fresh-JVM JIT + first-stage-codegen floor (~10-20 s,
    BENCH/BASELINE.md §3c) that a long-running production cluster amortizes
    across hours of work; runs 1..T measure the steady state the north rule
    is actually about.  Run 0 is ALSO reported — it is exactly one
    fresh-protocol sample, so a single pass yields both protocols' numbers.
    Levels run sequentially (a warm JVM cannot be interleaved across noise
    windows); the interleaved fresh protocol (--scaling) remains available
    and the report says which produced each figure."""
    import statistics

    n_roots = int(os.environ.get("SPARK_GRAFT_SCALING_ROOTS", "12000"))
    hpr = int(os.environ.get("SPARK_GRAFT_SCALING_HPR", "24"))
    bloat = int(os.environ.get("SPARK_GRAFT_SCALING_BLOAT", "500"))
    trials = int(os.environ.get("SPARK_GRAFT_SCALING_TRIALS", "2"))
    if trials < 1:
        # trials=0 would make scaling_one print the bare single-run dict
        # (no "runs" key) and leave the warm sample empty — fail loudly
        raise SystemExit("scaling_warm needs SPARK_GRAFT_SCALING_TRIALS >= 1")
    levels = tuple(int(x) for x in os.environ.get(
        "SPARK_GRAFT_SCALING_LEVELS", "1,4").split(","))
    scaling_web_dir(n_roots, hpr, bloat)  # pre-generate once (pyarrow-only)
    per_level: dict[int, dict] = {}
    fronts: set[int] = set()
    for cpus in levels:
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
                   SPARK_GRAFT_SCALING_ROOTS=str(n_roots),
                   SPARK_GRAFT_SCALING_HPR=str(hpr),
                   SPARK_GRAFT_SCALING_BLOAT=str(bloat),
                   SPARK_GRAFT_SCALING_RUNS=str(trials + 1),
                   SPARK_GRAFT_MAX_ROUNDS=os.environ.get(
                       "SPARK_GRAFT_MAX_ROUNDS", "3"))
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--scaling-one"],
            env=env, capture_output=True, text=True, check=True)
        runs = json.loads(proc.stdout.strip().splitlines()[-1])["runs"]
        fronts.update(r["frontier_urls"] for r in runs)
        walls = [r["wall_sec"] for r in runs]
        warm = walls[1:]
        per_level[cpus] = {
            "wall_run0_fresh": walls[0],
            "walls_warm": warm,
            "warm_min": min(warm),
            "warm_median": round(statistics.median(warm), 2),
        }
        print(f"  local[{cpus}]: fresh {walls[0]}s, warm {warm}",
              file=sys.stderr, flush=True)
    if len(fronts) != 1:  # identical-work invariant (see scaling())
        raise RuntimeError(f"frontier_urls differ across runs: {fronts}")
    frontier_urls = fronts.pop()
    report = {
        "corpus": f"{n_roots} roots x {hpr} hosts, {bloat}-word captions",
        "protocol": (f"warm-JVM: one subprocess per level, 1 warmup + "
                     f"{trials} timed runs; run 0 doubles as a fresh-JVM "
                     f"sample; levels sequential; "
                     + ("process tree pinned to N cores"
                        if os.environ.get("SPARK_GRAFT_SCALING_PIN", "1")
                        == "1" else "UNPINNED (legacy)")),
        "frontier_urls": frontier_urls,
        **{f"local{c}": per_level[c] for c in levels},
    }
    for a in levels:
        if a * 4 in per_level:
            lo, hi = per_level[a], per_level[a * 4]
            for est in ("warm_min", "warm_median"):
                report[f"eff_{a}_to_{a*4}_{est}"] = round(
                    lo[est] / hi[est] / 4, 3)
            report[f"eff_{a}_to_{a*4}_fresh_run0"] = round(
                lo["wall_run0_fresh"] / hi["wall_run0_fresh"] / 4, 3)
    print(json.dumps(report, indent=2))


def redirect_probe() -> None:
    """Measure the one-time redirect-closure cost on a redirect-HEAVY corpus
    (VERDICT r5 stretch #7): ~30% of hosts are 3xx sources arranged in
    linear chains of 1..12 hops plus cycles and dead hops — every chain
    class the resolver distinguishes, at >= 1M redirect rows.

    The closure plan self-joins the 3xx subset `_DOUBLING_ROUNDS`=4 times
    (16 copies of the source subtree — redirects.py:92-95), so CrawlEngine
    materializes it ONCE per crawl via localCheckpoint. This probe times
    exactly that init step and verifies the per-round-leaf claim: after the
    checkpoint the resolution table enters round plans as a scan leaf.

    Prints one JSON line: {n_meta, n_sources, closure_sec, classes: {...}}.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_chains = int(os.environ.get("SPARK_GRAFT_PROBE_CHAINS", "160000"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    base = os.path.join(tempfile.gettempdir(), f"redirect_probe_{n_chains}")
    path = os.path.join(base, "meta.parquet")
    if not os.path.exists(os.path.join(base, "_DONE")):
        os.makedirs(base, exist_ok=True)
        hosts, status, rto = [], [], []
        for k in range(n_chains):
            L = 1 + (k % 12)  # redirect hops before the 200 terminal
            for j in range(L):
                hosts.append(f"c{k}h{j}.example.com")
                status.append(301 + (j % 3))
                rto.append(f"c{k}h{j + 1}.example.com" if j + 1 < L
                           else f"c{k}t.example.com")
            hosts.append(f"c{k}t.example.com")   # terminal 200
            status.append(200)
            rto.append(None)
        ncyc = n_chains // 50                     # 2% cycles (3-loops)
        for k in range(ncyc):
            for j in range(3):
                hosts.append(f"y{k}h{j}.example.com")
                status.append(302)
                rto.append(f"y{k}h{(j + 1) % 3}.example.com")
        for k in range(n_chains // 50):           # 2% dead hops
            hosts.append(f"d{k}h0.example.com")
            status.append(301)
            rto.append(f"d{k}missing.example.com")
        tbl = pa.table({
            "host": pa.array(hosts),
            "status_code": pa.array(status, type=pa.int32()),
            "content_length": pa.array(
                np.asarray(status, dtype=np.int64) + 100),
            "redirect_to": pa.array(rto),
        })
        pq.write_table(tbl, path)
        with open(os.path.join(base, "_DONE"), "w") as f:
            f.write("ok")
    spark = build_spark(cpus)
    from pyspark.sql import functions as F
    from subdomain_crawler_spark.operators.redirects import resolve_redirects
    meta = spark.read.parquet(path)
    n_meta = meta.count()  # warm the scan / page cache out of the timing
    t0 = time.monotonic()
    res = resolve_redirects(meta).localCheckpoint(eager=True)
    closure_sec = round(time.monotonic() - t0, 2)
    classes = {r["fetch_error"] or "ok": r["n"] for r in
               res.groupBy("fetch_error").agg(F.count("*").alias("n"))
                  .collect()}
    # per-round-leaf claim: a round plan joining against the checkpointed
    # table must contain exactly ONE parquet scan (meta) — the closure's 16
    # source-subtree copies must NOT reappear
    plan = (meta.join(res.withColumnRenamed("host", "rh"),
                      meta["host"] == F.col("rh"), "left")
            ._jdf.queryExecution().executedPlan().toString())
    n_scans = plan.count("Scan parquet")
    spark.stop()
    print(json.dumps({"n_meta": n_meta, "n_sources": int(sum(
        v for k, v in classes.items())), "closure_sec": closure_sec,
        "classes": classes, "round_plan_parquet_scans": n_scans}))


def scaling_one() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Pin the WHOLE process tree (JVM + Python UDF workers) to `cpus`
    # cores (round-5 protocol fix): bare local[N] on a 32-core box is NOT
    # an N-core executor — GC, JIT-compiler, netty IO, and Arrow IPC
    # threads free-ride on the 32-N idle cores, deflating the small-N wall
    # and thus the measured N→4N efficiency. A real N-core-executor
    # cluster gives those threads N cores too. sched_setaffinity is
    # inherited by the JVM and every Python worker it forks.
    # SPARK_GRAFT_SCALING_PIN=0 restores the unpinned legacy protocol.
    if os.environ.get("SPARK_GRAFT_SCALING_PIN", "1") == "1":
        try:
            os.sched_setaffinity(0, set(range(cpus)))
        except (AttributeError, OSError):
            pass  # non-Linux: unpinned legacy behavior
    # Measured auto-tune (BENCH/BASELINE.md §2a): this box's memory bus
    # saturates at ~8 concurrent heavy tasks, and past saturation extra
    # concurrency actively hurts (128 -> 84 s min on the 9.5 M corpus).
    # For LARGE scaling corpora at high core counts, cap concurrent tasks
    # at ~8 via spark.task.cpus while keeping every core available to each
    # task's JVM/Python pipeline. Small corpora (e.g. the driver bench
    # config) stay uncapped — the cap measurably loses there (§2b).
    # SPARK_GRAFT_TASK_CPUS always wins when set explicitly.
    hosts = (int(os.environ.get("SPARK_GRAFT_SCALING_ROOTS", "12000"))
             * int(os.environ.get("SPARK_GRAFT_SCALING_HPR", "24")))
    if ("SPARK_GRAFT_TASK_CPUS" not in os.environ and cpus > 8
            and hosts >= 500_000):
        os.environ["SPARK_GRAFT_TASK_CPUS"] = str(cpus // 8)
    runs = int(os.environ.get("SPARK_GRAFT_SCALING_RUNS", "1"))
    spark = build_spark(cpus)
    outs = [run_scaling_crawl(spark, cpus) for _ in range(runs)]
    spark.stop()
    # single-run prints the bare dict (the fresh protocol's parser);
    # multi-run wraps them for the warm protocol
    print(json.dumps(outs[0] if runs == 1 else {"runs": outs}))


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        scaling()
    elif "--scaling-warm" in sys.argv:
        scaling_warm()
    elif "--scaling-one" in sys.argv:
        scaling_one()
    elif "--redirect-probe" in sys.argv:
        redirect_probe()
    else:
        main()
