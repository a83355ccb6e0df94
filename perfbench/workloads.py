"""The benchmark's crawl workloads: inputs made from the seed, the
reference result they are checked against, and one timed crawl.

Inputs and the reference are cached together under
``<cache>/inputs/<workload>-<seed>-<params>``; a cached entry is loaded
instead of regenerated.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import string
import time
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow.parquet as pq

from measure import digest

STAT_KEYS = ("tasks_processed", "tasks_enqueued", "http_requests",
             "dns_requests", "success_count", "error_count",
             "unique_subdomains")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    corpus: str               # "scaling": make_scaling_web, "web": make_web
    size: int                 # n_roots for "scaling", scale for "web"
    bloat_words: int = 0
    max_rounds: int = 16


WORKLOADS = {w.name: w for w in (
    Workload(
        "crawl-extract",
        "every round stays in the broadcast regime and pages are ~10 KB, "
        "so the fused extraction UDF across the Arrow boundary dominates",
        corpus="scaling", size=150, bloat_words=1500),
    Workload(
        "crawl-polite",
        "robots rules and a hot root that owns most hosts defer rows every "
        "round, so the per-round floor and politeness windows dominate",
        corpus="web", size=8, max_rounds=2),
)}


def _params_key(w: Workload) -> str:
    return hashlib.sha256(json.dumps(asdict(w), sort_keys=True)
                          .encode()).hexdigest()[:10]


def _rename_roots(tables: dict, seed: int) -> dict:
    """The image corpus with each of its roots renamed after ``seed``
    (``alpha.com`` becomes ``alphaqzkf.com``). The link structure, the
    robots rules and every count stay those of the generator's own seed,
    so every benchmark seed does the same work on different names."""
    from subdomain_crawler_spark.sources import fixtures

    rng = np.random.RandomState(seed)
    names = {}
    for root in fixtures.ALL_ROOTS:
        label, suffix = root.split(".", 1)
        tag = "".join(rng.choice(list(string.ascii_lowercase), 4))
        names[root] = f"{label}{tag}.{suffix}"

    def rename(s: str) -> str:
        for old, new in names.items():
            s = s.replace(old, new)
        return s

    columns = {"corpus": ("image_id", "caption", "host"), "dns": ("host",),
               "robots": ("root",), "seeds": ("seed",)}
    out = {k: v.copy() for k, v in tables.items()}
    for table, cols in columns.items():
        for c in cols:
            out[table][c] = out[table][c].map(rename)
    return out


def _reference(w: Workload, tables, seeds: list[str]) -> dict:
    """Digests of each round's frontier and of the final seen set, and the
    per-round counters, from the single-threaded reference simulator."""
    from subdomain_crawler_spark.config import CrawlConfig
    from subdomain_crawler_spark.plans.reference_sim import \
        ReferenceSimulator

    robots = tables["robots"] if len(tables["robots"]) else None
    sim = ReferenceSimulator(tables["corpus"], tables["dns"], CrawlConfig(),
                             robots).run(seeds, max_rounds=w.max_rounds)
    return {
        "frontiers": [digest(rows) for rows in sim.frontiers],
        "seen": digest((h,) for h in sim.seen),
        "stats": sim.metrics[list(STAT_KEYS)].astype(int)
                    .to_dict("records"),
    }


def prepare(w: Workload, seed: int, cache: str) -> tuple[str, float, float]:
    """Make or load the inputs. Returns (directory, seconds spent making or
    loading inputs, seconds spent computing the reference)."""
    from subdomain_crawler_spark.sources import fixtures

    base = os.path.join(cache, "inputs", f"{w.name}-{seed}-{_params_key(w)}")
    t0 = time.perf_counter()
    if os.path.exists(os.path.join(base, "_DONE")):
        with open(os.path.join(base, "reference.json")) as f:
            json.load(f)
        return base, time.perf_counter() - t0, 0.0
    shutil.rmtree(base, ignore_errors=True)
    if w.corpus == "scaling":
        tables = fixtures.make_scaling_web(
            n_roots=w.size, hosts_per_root=24, bloat_words=w.bloat_words,
            seed=seed)
        n_files = {"corpus": 8, "dns": 4}
    else:
        tables = _rename_roots(fixtures.make_web(scale=w.size), seed)
        n_files = None
    fixtures.write_parquet(tables, base, n_files=n_files)
    seeds = list(tables["seeds"]["seed"])
    with open(os.path.join(base, "seeds.txt"), "w") as f:
        f.writelines(s + "\n" for s in seeds)
    inputs_s = time.perf_counter() - t0
    t1 = time.perf_counter()
    ref = _reference(w, tables, seeds)
    with open(os.path.join(base, "reference.json"), "w") as f:
        json.dump(ref, f)
    with open(os.path.join(base, "_DONE"), "w") as f:
        f.write("ok")
    return base, inputs_s, time.perf_counter() - t1


def make_engine(spark, w: Workload, base: str, workdir: str):
    """A fresh CrawlEngine over the cached inputs, and its seeds: a
    one-column DataFrame read from the seed file for the scaling corpora,
    a driver list for the image corpus."""
    from subdomain_crawler_spark.config import CrawlConfig
    from subdomain_crawler_spark.plans.crawl import CrawlEngine

    corpus = spark.read.parquet(os.path.join(base, "corpus.parquet"))
    dns = spark.read.parquet(os.path.join(base, "dns.parquet"))
    robots_path = os.path.join(base, "robots.parquet")
    robots = (spark.read.parquet(robots_path)
              if os.path.exists(robots_path) else None)
    seeds_path = os.path.join(base, "seeds.txt")
    if w.corpus == "scaling":
        seeds = spark.read.text(seeds_path)
    else:
        with open(seeds_path) as f:
            seeds = [line.rstrip("\n") for line in f]
    return CrawlEngine(spark, CrawlConfig(), workdir, corpus, dns,
                       robots), seeds


def crawl(spark, w: Workload, base: str, workdir: str, max_rounds: int,
          run=None) -> dict:
    """One crawl on a fresh engine, its ``run`` call timed to completion.
    ``run`` optionally replaces ``eng.run`` (the traced wrapper); it is
    given the engine and returns the callable to time."""
    eng, seeds = make_engine(spark, w, base, workdir)
    target = run(eng) if run else eng.run
    first_commit = []
    t0 = time.perf_counter()
    stats = target(seeds, max_rounds,
                   progress=lambda st: first_commit.append(
                       time.perf_counter()))
    wall = time.perf_counter() - t0
    return {"stats": stats, "wall_s": wall,
            "first_commit_s": first_commit[0] - t0}


def _read(workdir: str, table: str, rnd: int, columns: list[str]):
    return pq.read_table(os.path.join(workdir, table, f"round={rnd}"),
                         columns=columns)


def check(base: str, workdir: str, stats) -> list[str]:
    """Compare a finished crawl's outputs with the cached reference: every
    round's frontier (host, root, depth) set, the final seen host set and
    the per-round counters. Returns the mismatches."""
    with open(os.path.join(base, "reference.json")) as f:
        ref = json.load(f)
    bad = []
    if len(stats) != len(ref["frontiers"]):
        bad.append(f"rounds {len(stats)} != reference "
                   f"{len(ref['frontiers'])}")
    seen = []
    for r, st in enumerate(stats[:len(ref["frontiers"])]):
        t = _read(workdir, "frontier", r, ["host", "root", "depth"])
        got = digest(zip(*(t.column(c).to_pylist()
                           for c in ("host", "root", "depth"))))
        if list(got) != ref["frontiers"][r]:
            bad.append(f"round {r} frontier {got} != {ref['frontiers'][r]}")
        for k in STAT_KEYS:
            if getattr(st, k) != ref["stats"][r][k]:
                bad.append(f"round {r} {k} {getattr(st, k)} != "
                           f"{ref['stats'][r][k]}")
        seen.extend(_read(workdir, "seen", r, ["host"])
                    .column("host").to_pylist())
    got = digest((h,) for h in seen)
    if list(got) != ref["seen"]:
        bad.append(f"seen {got} != {ref['seen']}")
    return bad


def frontier_rows(workdir: str, rnd: int) -> int:
    """Row count of the frontier the engine wrote for round ``rnd``."""
    path = os.path.join(workdir, "frontier", f"round={rnd}")
    if not os.path.isdir(path):
        return 0
    return pq.read_table(path, columns=["host"]).num_rows


def bytes_written(workdir: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(workdir) for f in files)
