"""Deterministic synthetic-web fixtures (seed=42) per FIXTURES.md.

Generates the corpus/dns/robots tables the crawl runs against — the shapes
follow BASELINE.json's ``input_hint`` (image+caption corpus) and the
reference's shipped artifacts (/root/reference/input.txt, result.jsonl).
The corpus is a closed crawlable graph: captions embed hostnames, so BFS
discovery chains of known depth exist by construction, including:

* a hot root owning ~80% of hosts (exercises salted-root skew handling, M4);
* hosts reachable only over http (exercises W1 first-success fallback);
* non-2xx and connection-error hosts (no result row, worker.go:105);
* out-of-scope hosts (attacker.com), invalid lookalikes, proto-relative and
  email-form mentions (exercises X1/F2 edge semantics);
* a depth-4 host (seen-marked but never enqueued — the F4-after-D1 quirk);
* NXDOMAIN rows (dns error recorded inside successful results).

Everything is derived from ``numpy.random.RandomState(seed)`` — no wall
clock, no os randomness — so goldens are stable across runs and machines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions import image as img_f

HOT_ROOT = "hotuni.edu.cn"
COLD_ROOTS = ("alpha.com", "beta.org", "gamma.co.uk")
ALL_ROOTS = (HOT_ROOT, *COLD_ROOTS)
OUT_OF_SCOPE = ("attacker.com", "evil.net", "tracker.io")

_TITLES = (
    "Welcome", "首页", "Home Page", "研究院", "Lab Portal", "Index of /", "データ",
)
_NOISE = (
    "lorem ipsum dolor", "contact admin", "visit us at", "powered by spark",
    "download the dataset", "see also", "mirror list",
)


def _mk_image(rng: np.random.RandomState, fmt: str) -> tuple[bytes, int, int, int]:
    w = int(rng.randint(16, 33))
    h = int(rng.randint(16, 33))
    img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    data = img_f.encode_image(img, fmt)
    ph = img_f.average_hash(img_f.decode_image(data, fmt))
    return data, w, h, ph


def make_web(scale: int = 1, seed: int = 42) -> dict[str, pd.DataFrame]:
    """Build corpus/dns/robots (+ the seeds list) at a given scale multiplier.

    ``scale`` multiplies host counts; scale=1 ≈ 260 hosts (unit-test size),
    scale=50 ≈ 13k hosts (bench size). Returns dict of pandas DataFrames plus
    ``seeds`` (pd.DataFrame with one ``seed`` column).
    """
    rng = np.random.RandomState(seed)
    prefixes = ["www", "mail", "api", "dev", "cdn", "blog", "docs", "static",
                "portal", "lab", "cs", "ee", "news", "media", "data", "ml",
                "gpu", "hpc", "wiki", "ftp"]

    hosts_by_root: dict[str, list[str]] = {}
    for root in ALL_ROOTS:
        n = (40 if root == HOT_ROOT else 4) * scale
        hosts = [f"{p}.{root}" for p in prefixes[: min(len(prefixes), 8)]]
        while len(hosts) < n:
            p1 = prefixes[rng.randint(len(prefixes))]
            p2 = prefixes[rng.randint(len(prefixes))]
            cand = f"{p1}{rng.randint(100)}.{p2}.{root}" if rng.rand() < 0.5 else \
                f"{p1}.{p2}.{root}"
            if cand not in hosts:
                hosts.append(cand)
        hosts_by_root[root] = hosts
    # fixed deep chain on the hot root (depths 1→4)
    chain = [f"lab.{HOT_ROOT}", f"cs.lab.{HOT_ROOT}", f"deep.cs.lab.{HOT_ROOT}",
             f"toodeep.deep.cs.lab.{HOT_ROOT}"]
    for c in chain:
        if c not in hosts_by_root[HOT_ROOT]:
            hosts_by_root[HOT_ROOT].append(c)

    corpus_rows = []
    dns_rows = []
    for root, hosts in hosts_by_root.items():
        n = len(hosts)
        for i, host in enumerate(hosts):
            # link structure: each page links 2-5 same-root hosts (ring +
            # random jumps) so BFS expands over multiple rounds
            links = [hosts[(i + 1) % n], hosts[(i * 7 + 3) % n]]
            links += [hosts[rng.randint(n)] for _ in range(rng.randint(0, 3))]
            if host == chain[0]:
                links.append(chain[1])
            if host == chain[1]:
                links.append(chain[2])
            if host == chain[2]:
                links.append(chain[3])  # depth-4: seen-marked, never crawled
            extras = []
            r = rng.rand()
            if r < 0.15:
                extras.append(OUT_OF_SCOPE[rng.randint(len(OUT_OF_SCOPE))])
            if r < 0.08:
                extras.append("/path/2f2f.example.com")  # invalid lookalike
            if 0.2 < r < 0.25:
                extras.append(f"admin@{hosts[rng.randint(n)]}")  # email form
            title = _TITLES[rng.randint(len(_TITLES))] + " " + host
            noise = _NOISE[rng.randint(len(_NOISE))]
            caption = (
                f"<title>{title}</title> {noise} "
                + " ".join(links) + " " + " ".join(extras)
            )
            # protocol availability: 70% both, 15% http-only, 10% https-only,
            # 5% neither (connection error even though row exists)
            pr = rng.rand()
            proto_ok = (["https", "http"] if pr < 0.70 else
                        ["http"] if pr < 0.85 else
                        ["https"] if pr < 0.95 else [])
            sr = rng.rand()
            status = 200 if sr < 0.8 else int(rng.choice([204, 301, 404, 500]))
            fmt = str(rng.choice(["raw", "bmp", "lossy"]))
            data, w, h, ph = _mk_image(rng, fmt)
            corpus_rows.append(dict(
                image_id=f"{host}/0", bytes=data, w=w, h=h, fmt=fmt,
                caption=caption, phash=ph, host=host,
                proto_ok=proto_ok, status_code=status,
            ))
            # dns: 85% resolve, 15% NXDOMAIN
            if rng.rand() < 0.85:
                ips = [f"10.{rng.randint(256)}.{rng.randint(256)}.{rng.randint(256)}"
                       for _ in range(rng.randint(1, 3))]
                dns_rows.append(dict(host=host, ips=ips, rcode=0))
            else:
                dns_rows.append(dict(host=host, ips=[], rcode=3))

    robots_rows = [
        # '/private' is a PATH rule (matches nothing against our '/'-only
        # fetches); 'cdn.' is a HOST-prefix rule blocking cdn.* hosts
        dict(root=HOT_ROOT, disallow_prefixes=["/private", "cdn."],
             crawl_delay=1, max_per_round=25 * scale),
        # crawl_delay bites here: 60s window // 5 = 12 < max_per_round
        dict(root="alpha.com", disallow_prefixes=[], crawl_delay=5,
             max_per_round=1000000),
        dict(root="beta.org", disallow_prefixes=[], crawl_delay=2,
             max_per_round=2 * scale),
        # gamma.co.uk intentionally absent → unlimited (no budget)
    ]

    seeds = pd.DataFrame({"seed": [HOT_ROOT, "alpha.com", "beta.org",
                                   f"www.{COLD_ROOTS[2]}"]})
    return {
        "corpus": pd.DataFrame(corpus_rows),
        "dns": pd.DataFrame(dns_rows),
        "robots": pd.DataFrame(robots_rows),
        "seeds": seeds,
    }


_WORDS = np.array([
    "data", "spark", "crawl", "index", "mirror", "archive", "research",
    "dataset", "paper", "lab", "compute", "cluster", "batch", "stream",
    "kernel", "vector", "tensor", "shard", "replica", "cache", "queue",
    "frontier", "robots", "budget", "fetch", "parse", "extract", "dedup",
])


def make_scaling_web(n_roots: int = 1200, hosts_per_root: int = 24,
                     bloat_words: int = 120, seed: int = 7) -> dict[str, pd.DataFrame]:
    """Large image-free web for the N-vs-4N scaling bench: every page fetches
    over https with status 200, captions carry ``bloat_words`` of noise plus
    same-root links, so per-round work (fetch-join, extraction UDF, dedup
    shuffle) dominates the fixed round overhead. Deterministic (seeded);
    fully numpy/pandas-vectorized so multi-million-host corpora generate in
    seconds.
    """
    rng = np.random.RandomState(seed)
    prefixes = ["www", "mail", "api", "dev", "cdn", "blog", "docs", "static",
                "portal", "lab", "data", "news", "wiki", "ftp", "git", "dl",
                "mirror1", "mirror2", "edge", "node1", "node2", "gw", "ns7",
                "m7"][:hosts_per_root]
    H = len(prefixes)
    roots = pd.array([f"site{i}.com" for i in range(n_roots)], dtype="string")
    seeds = pd.DataFrame({"seed": pd.Series(roots, dtype="object")})

    # global index g = r*H + k → vectorized host/link construction
    r_idx = np.repeat(np.arange(n_roots), H)
    k_idx = np.tile(np.arange(H), n_roots)
    pref = pd.Series(np.tile(np.array(prefixes, dtype=object), n_roots))
    root_s = pd.Series(np.repeat(np.asarray(roots, dtype=object), H))
    host = pref + "." + root_s
    link = lambda kk: (pd.Series(np.array(prefixes, dtype=object)[kk]) + "." + root_s)
    l1 = link((k_idx + 1) % H)
    l2 = link((k_idx * 5 + 2) % H)
    l3 = link((k_idx * 11 + 7) % H)
    noise_pool = np.array(
        [" ".join(_WORDS[rng.randint(0, len(_WORDS), bloat_words)])
         for _ in range(97)] if bloat_words else [""], dtype=object)
    noise = pd.Series(noise_pool[(k_idx * 31 + r_idx) % len(noise_pool)])
    caption = ("<title>Page " + host + "</title> " + noise + " "
               + l1 + " " + l2 + " " + l3)
    n = len(host)
    corpus = pd.DataFrame({
        "image_id": host + "/0",
        "bytes": np.full(n, b"", dtype=object),
        "w": np.zeros(n, dtype=np.int32), "h": np.zeros(n, dtype=np.int32),
        "fmt": np.full(n, "raw", dtype=object),
        "caption": caption,
        "phash": np.zeros(n, dtype=np.int64),
        "host": host,
        "proto_ok": np.full(n, None, dtype=object),
        "status_code": np.full(n, 200, dtype=np.int32),
    })
    corpus["proto_ok"] = [["https", "http"]] * n
    dns = pd.DataFrame({
        "host": host,
        "ips": [["10.0.0.1"]] * n,
        "rcode": np.zeros(n, dtype=np.int32),
    })
    return {
        "corpus": corpus,
        "dns": dns,
        "robots": pd.DataFrame([], columns=["root", "disallow_prefixes",
                                            "crawl_delay", "max_per_round"]),
        "seeds": seeds,
    }


def write_parquet(tables: dict[str, pd.DataFrame], base: str,
                  n_files: dict[str, int] | None = None) -> None:
    """Write each table as parquet. ``n_files`` splits a table into a
    directory of N files — a single-file corpus would give Spark only 1-2
    input splits, serializing the broadcast-hash fetch-join's stream side
    (at real scale the corpus is naturally thousands of splits).
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(base, exist_ok=True)
    for name, df in tables.items():
        if len(df) == 0:
            continue
        nf = (n_files or {}).get(name, 1)
        schema_overrides = {}
        if name == "corpus":
            schema_overrides = {"w": pa.int32(), "h": pa.int32(),
                                "status_code": pa.int32(), "phash": pa.int64()}
        elif name == "dns":
            schema_overrides = {"rcode": pa.int32()}
        elif name == "robots":
            schema_overrides = {"crawl_delay": pa.int32(), "max_per_round": pa.int32()}
        table = pa.Table.from_pandas(df, preserve_index=False)
        for col, typ in schema_overrides.items():
            idx = table.schema.get_field_index(col)
            table = table.set_column(idx, col, table.column(col).cast(typ))
        if nf <= 1:
            pq.write_table(table, os.path.join(base, f"{name}.parquet"))
        else:
            d = os.path.join(base, f"{name}.parquet")
            os.makedirs(d, exist_ok=True)
            rows = len(table)
            step = (rows + nf - 1) // nf
            for i in range(nf):
                chunk = table.slice(i * step, step)
                if len(chunk):
                    pq.write_table(chunk, os.path.join(d, f"part-{i:05d}.parquet"))
