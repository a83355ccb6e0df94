"""CrawlEngine — the iterative-rounds PySpark crawl (SURVEY.md §3.1 "Spark shape").

One round = one Spark job over the frontier DataFrame:

    frontier ──F4 depth gate──► J1 fetch-join vs corpus
        ├─ W1 first-success https→http (derived columnar, no 2nd join)
        ├─ X1+F2 extraction (fused Arrow UDF) + X3 title
        ├─ D1 global dedup: exact left_anti vs cumulative seen
        ├─ winner resolution (canonical min-parent, §3.4 determinism rule)
        └─ writes: results / http_log / dns_log / metrics / seen / next frontier
                   → atomic manifest commit (checkpoint/resume, M6)

Semantics are the golden ``ReferenceSimulator``'s (same quirk list, same
canonical ordering); tests/test_crawl_e2e.py proves per-round equivalence.

Scale notes (10^10-URL frontier, 1000 executors):
* seed expansion (S1+X4+D2) is ONE fused Arrow pass: seeds hash-partition
  by registered domain (the only key under which duplicate hosts can
  collide), then each partition expands, derives roots, and dedups locally
  (_make_seed_expander) — the ~134× expanded set is never shuffled for
  dedup, and the per-host PSL calls collapse to one per SEED;
* the fetch-join broadcasts the frontier only while it is small (driver
  checks a row-count threshold); past that it falls back to a shuffle join
  on ``host`` — with AQE enabled skewed hosts re-split at runtime;
* the frontier and candidate sets are salted-repartitioned by
  ``hash(root, salt)`` before heavy stages to break hot-SLD skew
  (one university seed → thousands of candidates; reference has no answer
  to this, SURVEY.md §4);
* the seen set is parquet-partitioned per round, and D1 is one exact
  ``left_anti`` of the round's distinct candidates against it (the
  candidate side broadcasts into the winner join while the round is small).
  Nothing pre-prunes it: Spark's runtime bloom filter is not injected into
  the anti-join (its plan shows no ``might_contain`` on either side);
* per-round tables are append-only round=N dirs → lineage is cut at every
  round boundary (no iterative-union plan explosion), and resume is "read
  the last committed round" (M6).
"""

from __future__ import annotations

import json
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, StringType, StructField, StructType,
)

from ..config import CrawlConfig
from ..functions import udfs
from ..operators import politeness as pol
from ..sources.tableio import ParquetSnapshotIO

_REASON = {200: "OK", 301: "Moved Permanently", 404: "Not Found",
           500: "Internal Server Error", 204: "No Content"}

FRONTIER_SCHEMA = StructType([
    StructField("host", StringType()),
    StructField("root", StringType()),
    StructField("depth", IntegerType()),
])

# below this many frontier rows the fetch-join broadcasts the frontier side
# and the round's inner joins (novel/pages) broadcast their small sides.
# A/B-measured on the 9.5M-URL corpus: raising this to 8M (so round 0's
# 8M-row frontier broadcasts) REGRESSES — BroadcastExchange builds are
# driver-bound single-threaded collects, and multi-million-row broadcast
# relations turn every write job into a driver convoy. 2M keeps broadcast
# builds ~sub-second while still covering typical rounds; past it the
# engine takes one shuffle-join chain (the right plan for giant rounds).
BROADCAST_FRONTIER_MAX = 2_000_000

# seed expansion runs one task per this many expanded rows (see start)
_SEED_ROWS_PER_TASK = 250_000


def _make_seed_expander(prefixes: list[str], expand_sld: bool):
    """Fused seed-expansion kernel for ``mapInPandas`` (S1+X4+D2 in ONE
    Arrow pass — round-6 rebuild of the explode + get_root-UDF + groupBy
    pipeline, whose 20 M-row dedup shuffle was the worst-scaling leg of the
    crawl, BENCH §3d/§3e).

    Correctness requires the input to be hash-partitioned by
    ``core.expand_partition_key(seed)``: two emissions of the same host
    can only come from seeds sharing that key.  Outside wildcard-rule
    subtrees the key is ``coalesce(get_root(seed), seed)`` — identity seed
    ``p.s`` and expansion of SLD seed ``s`` both key to ``s``, and
    PSL-error seeds never expand and key to themselves.  INSIDE a
    wildcard-parent subtree (``*.X`` ∈ PSL) that key scatters emitters
    (seed ``www.X`` is a PSL error keying to itself while seed ``X``'s
    expansion emits the same host from partition ``X``; an excepted child
    ``!city.X`` keys to itself likewise — round-7 ADVICE fix), so every
    seed with suffix ``X`` keys to ``X`` — exact because any seed that can
    emit a subtree host is itself in the subtree.  With the invariant
    restored, a per-partition dedup is globally exact — the global
    groupBy-shuffle of the EXPANDED set stays unnecessary.  Duplicate
    hosts always carry identical (root, depth=0) rows (both emitters
    derive root via the same etld1-with-fallback), so first-wins
    drop_duplicates is canonical.

    The expansion rows' root skips the PSL kernel entirely: for an SLD
    seed ``s`` (etld1(s) == s), etld1(p + "." + s) == s for every prefix
    — EXCEPT when ``s`` is the exact parent of a wildcard rule
    (``*.s`` ∈ PSL, e.g. the real-PSL ``*.kawasaki.jp`` under the SLD
    ``kawasaki.jp``): there every child ``p.s`` is itself a public
    suffix (PSL error → reference fallback root = the full host,
    crawl_usecase.go:239-242) or an excepted child whose root is
    ``p.s``, so those seeds — and seeds where
    raw != canonicalize(raw) — fall back to the full per-host kernel
    (pinned by tests/test_core.py::test_expansion_root_shortcut and the
    kawasaki cases).  For every other rule class the prevailing-rule
    match over ``p.s``'s tail is the same match that made ``s`` an SLD.
    The shortcut removes the ~134× per-host eTLD+1 calls that dominated
    the leg's CPU at local[1]."""
    import numpy as np

    parr = np.array(prefixes, dtype=object)

    def expand_partition(batches):
        from ..functions import core, psl

        chunks = [pdf["seed"] for pdf in batches if len(pdf)]
        if not chunks:
            return
        seeds = pd.concat(chunks, ignore_index=True).astype(object)
        canon = core.canonicalize(seeds)
        etld1 = core.get_root(seeds)  # canonicalizes internally
        # identity rows: raw host, root = etld1 (PSL-error falls back to raw)
        hosts = [seeds.to_numpy(dtype=object)]
        roots = [etld1.where(etld1.notna(), seeds).to_numpy(dtype=object)]
        if expand_sld and len(parr):
            is_sld = (etld1 == canon).fillna(False).to_numpy(dtype=bool)
            raw = seeds.to_numpy(dtype=object)[is_sld]
            if len(raw):
                H = len(parr)
                exp_host = (np.tile(parr, len(raw)) + "."
                            + np.repeat(raw, H))
                # shortcut-unsafe: non-canonical raw seeds AND wildcard-
                # rule parents (etld1(p.s) != s there — see docstring)
                safe = np.repeat(
                    ((seeds == canon)
                     & ~canon.isin(psl.wildcard_parents()))
                    .to_numpy(dtype=bool)[is_sld], H)
                exp_root = np.repeat(raw, H)  # == canon seed where safe
                if not safe.all():
                    odd = pd.Series(exp_host[~safe])
                    r = core.get_root(odd)
                    exp_root[~safe] = r.where(r.notna(), odd) \
                                       .to_numpy(dtype=object)
                hosts.append(exp_host)
                roots.append(exp_root)
        out = pd.DataFrame({
            "host": np.concatenate(hosts),
            "root": np.concatenate(roots),
        })
        # duplicate hosts carry identical (root, depth=0) — the canonical
        # min-(root,depth) rule degenerates to plain drop_duplicates
        out = out.drop_duplicates("host", ignore_index=True)
        out["depth"] = np.zeros(len(out), dtype=np.int32)
        yield out

    return expand_partition


def _status_expr(code_col):
    """Raw status-line passthrough (reference_sim.status_line twin): unknown
    codes keep an EMPTY reason with the trailing space — artifact
    result.jsonl line 2 shows the reference emitting ``"status":"200 "``."""
    mapping = F.create_map(*[F.lit(x) for kv in _REASON.items() for x in kv])
    return F.concat(code_col.cast("string"), F.lit(" "),
                    F.coalesce(mapping[code_col], F.lit("")))


@dataclass
class RoundStats:
    round: int
    tasks_processed: int
    tasks_enqueued: int
    http_requests: int
    dns_requests: int
    success_count: int
    error_count: int
    unique_subdomains: int
    wall_sec: float
    # G1 deterministic analog (config.enforce_queue_cap): rows the
    # queue-size cap dropped from this round's NEXT frontier; 0 when off
    tasks_dropped: int = 0


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        cfg: CrawlConfig,
        workdir: str,
        corpus: DataFrame,
        dns: DataFrame,
        robots: DataFrame | None = None,
    ):
        self.spark = spark
        self.cfg = cfg
        self.io = ParquetSnapshotIO(spark, workdir)
        # column split: the metadata projection is what gets cached per round
        # (bytes/row ~50); caption text streams through the extraction UDF
        # exactly once and is never cached (at 100 TB the text column IS the
        # table — caching it would be the memory/GC bottleneck)
        # T1 response-size cap (fetcher.go:84): truncate at scan time so the
        # cap rides INSIDE the column pruning — no full-body row ever reaches
        # the extraction UDF, and content_length is clamped to the cap
        cap = cfg.max_response_size
        base_meta = corpus.select(
            "host", "proto_ok", "status_code",
            F.least(F.length("caption"), F.lit(cap)).cast("int")
             .alias("content_length"))
        self._redirects = "redirect_to" in corpus.columns
        if self._redirects:
            # redirect chains (fetcher.go:33-38) resolved ONCE per crawl as
            # a static graph closure (operators/redirects.py); the tiny
            # resolution table is materialized eagerly (localCheckpoint) so
            # every round's meta lineage sees a leaf, then left-joined in.
            # content_host = the terminal host whose body the client
            # returns for this URL; fetch_error poisons both proto
            # attempts exactly like the Go client erroring out.
            from ..operators import redirects as rd
            res = rd.resolve_redirects(
                corpus.select("host", "status_code", "redirect_to",
                              F.least(F.length("caption"), F.lit(cap))
                              .cast("int").alias("content_length"))
            ).localCheckpoint()
            self.corpus_meta = (
                base_meta.join(res, "host", "left")
                .select(
                    "host", "proto_ok",
                    F.when(F.col("fetch_error").isNotNull(),
                           F.lit(None).cast("int"))
                     .otherwise(F.coalesce("final_status", "status_code"))
                     .alias("status_code"),
                    F.when(F.col("fetch_error").isNotNull(),
                           F.lit(None).cast("int"))
                     .otherwise(F.coalesce("final_content_length",
                                           "content_length"))
                     .alias("content_length"),
                    F.coalesce("content_host", F.col("host"))
                     .alias("content_host"),
                    "fetch_error"))
        else:
            # no redirect column: identical behavior to pre-redirect builds.
            # fetch_error is a null literal (constant-folds downstream); a
            # content_host column is NOT added — aliasing host would store
            # the string column TWICE in the per-round j cache (~hundreds
            # of MB per 10^7-row round); consumers alias host at read time
            self.corpus_meta = base_meta.select(
                "*", F.lit(None).cast("string").alias("fetch_error"))
        self.corpus_text = corpus.select(
            F.col("host").alias("content_host"),
            F.substring("caption", 1, cap).alias("caption"))
        self.dns = dns
        self.robots = robots
        # schema snapshots taken ONCE — per-round code never calls
        # .columns on a join output (each such call re-analyzes the whole
        # plan tree on the driver, a serial per-round cost)
        self._meta_cols = self.corpus_meta.schema.fieldNames()
        self._dns_cols = dns.schema.fieldNames()
        # scan parallelism of the text column (metadata only — no job):
        # decides whether extraction needs a spreading repartition (round-4
        # fix: the unconditional repartition was pure overhead whenever the
        # scan already has >= cores splits, and at 100 TB it would shuffle
        # the entire text column for nothing)
        try:
            self._text_nparts = self.corpus_text.rdd.getNumPartitions()
        except Exception:
            self._text_nparts = 0
        # Bucketing analog, ONCE per crawl: the big-round regime
        # sort-merges frontier×corpus_meta×dns on host and
        # fetched×corpus_text on content_host, and without preparation
        # the CORPUS side of every join is re-shuffled EVERY round although
        # it never changes between rounds.  Hash-partition each corpus
        # table on its join key once and persist: the cached scan keeps its
        # hashpartitioning, so per-round planning shuffles only the
        # frontier side — one fewer exchange (and one fewer AQE stage
        # boundary stall) per join per round.  The real-deployment form is
        # parquet bucketing by host at ingest (no shuffle at all; see
        # SURVEY §3).  Applied only when the corpus scan is wide enough
        # for the big-round regime to be in play (splits ≥ cores — the
        # same gate as the extraction repartition); tiny fixture corpora
        # keep the untouched lazy frames.
        if self._text_nparts >= self.spark.sparkContext.defaultParallelism:
            w = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            self.corpus_meta = (self.corpus_meta
                                .repartition(w, "host").persist())
            self.corpus_text = (self.corpus_text
                                .repartition(w, "content_host").persist())
            self.dns = self.dns.repartition(w, "host").persist()
        self._frontier0: DataFrame | None = None  # cached round-0 frontier
        self._n0 = 0

    # -- lifecycle -----------------------------------------------------------

    def start(self, seeds: list[str] | DataFrame) -> None:
        """Round-0 frontier from seeds — S1 parse + X4 expansion + root stamp
        (assembler.go:106-159 + crawl_usecase.go:237-263), DISTRIBUTED: the
        ~134× prefix fan-out happens as a fused Arrow kernel on executors (a
        driver-side expansion of a 10^8-seed list would materialize 10^10
        rows in the driver). Semantics identical to reference_sim.
        expand_seeds — e2e goldens compare the two.

        ``seeds`` is either a list of raw lines (stdin / tests — reference
        parity: assembler.go:106-139 reads the input serially too) or a
        single-string-column DataFrame of raw lines (``spark.read.text``),
        in which case NOTHING scales with the seed count on the driver —
        the file is scanned, cleaned, counted (one distributed job, for
        width sizing) and expanded entirely on executors (round-7: the
        driver list + createDataFrame hop was the last driver-side
        materialization that grew with input size)."""
        from ..functions import core

        cfg = self.cfg
        if isinstance(seeds, DataFrame):
            if len(seeds.columns) != 1:
                raise ValueError(
                    "seeds DataFrame must have exactly one string column "
                    f"of raw lines, got {seeds.columns}")
            lines = seeds.select(F.col(seeds.columns[0]).alias("line"))
            n_seeds = None  # counted below, one distributed scan
        else:
            n_seeds = len(seeds)
            lines = self.spark.createDataFrame(
                pd.DataFrame({"line": pd.Series(seeds, dtype="string")}))
        cleaned = (lines.select(F.trim("line").alias("line"))
                   .filter((F.col("line") != "")
                           & ~F.col("line").startswith("#"))
                   .select(F.lower("line").alias("seed")))
        prefixes = core.merged_prefixes(list(cfg.custom_prefixes)) \
            if cfg.expand_sld else []
        # expander-key soundness guard (psl.wildcard_subtree_parent_one's
        # residual case): a wildcard parent whose leading label is an
        # expansion prefix AND whose own parent is a free-standing SLD
        # cannot be colocated by any host-derived key — refuse up front
        # rather than silently risk cross-partition duplicate hosts.
        from ..functions import psl as _psl
        bad = _psl.prefix_collision_parents(prefixes)
        if bad:
            raise ValueError(
                "custom/common expansion prefixes collide with wildcard "
                f"PSL parents {bad}: seed expansion cannot guarantee "
                "global dedup for these; drop the colliding prefix(es)")
        # one tiny shuffle of the SEED list (not the ~134× expanded set):
        # hash-partition by core.expand_partition_key(seed) — wildcard-
        # parent subtrees collapse to one key, else coalesce(get_root,
        # seed) — so every seed that can emit a given host lands in one
        # partition, then expand + dedup in ONE fused Arrow pass
        # (_make_seed_expander; the dedup-invariant proof lives in its
        # docstring). The old shape (JVM explode → per-host get_root UDF →
        # global groupBy) shuffled the full 10^7-row expansion and was the
        # crawl's worst-scaling leg. depth hardcoded 0 even for expanded
        # subdomains (crawl_usecase.go:248); PSL-error root fallback quirk
        # (crawl_usecase.go:239-242) preserved inside the kernel.
        # width sized by the WORK (_SEED_ROWS_PER_TASK): partitions
        # may exceed cores (tasks queue) — that bounds per-task pandas
        # memory at any seed-list size.  (Spreading small lists across all
        # cores was A/B'd and measured NEUTRAL — the leg's fixed cost is
        # first-Python-worker startup + the frontier0 write, not kernel
        # serialization — so the simpler work-sized formula stays.)
        fanout = len(prefixes) + 1
        if n_seeds is None:
            # file path: size the width from a distributed line count (one
            # scan of the raw seed bytes, once per crawl — the ONLY job the
            # seed count costs; the list path keeps its zero-job formula)
            n_seeds = lines.count()
        width = (n_seeds * fanout) // _SEED_ROWS_PER_TASK + 1
        key = udfs.udf_expand_key("seed")
        df = (cleaned
              .repartition(width, key)
              .mapInPandas(_make_seed_expander(prefixes, cfg.expand_sld),
                           FRONTIER_SCHEMA))
        # re-hash the DEDUPED frontier by host: round 0's giant-regime
        # fetch-join needs hashpartitioning(host, w) on the frontier side,
        # and the cached f0 carrying it means round 0 runs with ZERO
        # frontier exchanges (the corpus side is prepart-cached on host).
        # The old groupBy-dedup provided this implicitly; keeping it costs
        # one plain shuffle of the expanded set but none of the old path's
        # per-host PSL calls or aggregation machinery.
        w = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        df = df.repartition(w, "host")
        # persist BEFORE the checkpoint write: the write materializes the
        # cache and its observation carries the row count, so round 0 starts
        # from the cached frame immediately — no recompute of the expansion
        # lineage for the write, no read-back, no count() job.
        f0 = df.persist()
        obs = Observation()
        self.io.append("frontier",
                       f0.observe(obs, F.count(F.lit(1)).alias("n")), 0)
        self._frontier0 = f0
        self._n0 = int(obs.get["n"] or 0)
        # G1 root-enqueue parity (crawl_usecase.go:253-257): the reference
        # treats a full queue at ROOT enqueue as fatal; the deterministic
        # analog refuses a round-0 frontier the cap would have to cut
        if (self.cfg.enforce_queue_cap and self.cfg.queue_size > 0
                and self._n0 > self.cfg.queue_size):
            raise RuntimeError(
                f"failed to add task: queue is full "
                f"(round-0 frontier {self._n0} > queue size "
                f"{self.cfg.queue_size})")

    def resume_round(self) -> int:
        """Next round to run: 0 on a fresh dir, committed+1 after a crash/stop."""
        return self.io.committed_round() + 1

    def dedup_documents(self, docs: DataFrame,
                        bucket_cap: int = 10_000) -> DataFrame:
        """Production near-dup pass over a (doc_id, text) corpus run as
        part of a crawl workflow (e.g. deduping fetched pages before
        export): the composed fingerprint→LSH→CC pipeline from
        plans/driver_queries.dedup_pipeline_run, with its star-expansion
        cap telemetry appended to this engine's checkpoint as the
        ``dedup_metrics`` table (same schema as q_lsh_cap_stats) under
        the round the dedup ran after — the telemetry rides the
        pipeline's own action, so recording it costs ZERO extra scans
        (closes the round-6→8 ask chain: the Observation existed but no
        engine path persisted it)."""
        from .driver_queries import dedup_pipeline_run

        labels, metrics = dedup_pipeline_run(docs, bucket_cap=bucket_cap)
        rnd = max(self.io.committed_round(), 0)
        self.io.append_local(
            "dedup_metrics",
            pd.DataFrame([{k: int(metrics[k]) for k in
                           ("bucket_cap", "capped_buckets",
                            "star_edges", "dropped_pairs")}]),
            rnd)
        return labels

    def dedup_images(self, imgs: DataFrame,
                     bucket_cap: int | None = None) -> DataFrame:
        """Production image near-dup pass over an input_hint-shaped corpus
        slice ``imgs(image_id, phash, ...)`` run as part of a crawl
        workflow — the multimodal twin of dedup_documents: phash MIH band
        join (driver_queries._img_band_pairs — optionally hot-bucket
        capped; the cap telemetry Observation rides the edge
        materialization inside connected_components, zero extra scans) →
        the shared CC operator (string image_ids: lexicographic min
        labels) → (image_id, group_id) for EVERY input image, singletons
        their own group.  Telemetry lands in the checkpoint's
        ``img_dedup_metrics`` table (same schema as q_lsh_cap_stats;
        all-zero cap fields when uncapped)."""
        from pyspark.sql import Observation

        from ..operators.components import connected_components, \
            free_checkpoint_blocks
        from .driver_queries import _img_band_pairs

        obs = Observation() if bucket_cap is not None else None
        ids = imgs.select("image_id", "phash")
        pairs = _img_band_pairs(ids, bucket_cap=bucket_cap, observer=obs)
        labels = connected_components(
            pairs.select(F.col("left_id").alias("a"),
                         F.col("right_id").alias("b")))
        out = (ids.select("image_id")
               .join(labels, ids["image_id"] == labels["id"], "left")
               .select("image_id",
                       F.coalesce("label", "image_id").alias("group_id"))
               .localCheckpoint(eager=True))
        free_checkpoint_blocks(labels)
        got = {"capped_buckets": 0, "star_edges": 0, "dropped_pairs": 0}
        if obs is not None:
            try:
                got = obs.get
            except Exception:  # metrics node pruned (empty overflow graph)
                pass
        rnd = max(self.io.committed_round(), 0)
        self.io.append_local(
            "img_dedup_metrics",
            pd.DataFrame([{"bucket_cap": int(bucket_cap or 0),
                           "capped_buckets": int(got["capped_buckets"] or 0),
                           "star_edges": int(got["star_edges"] or 0),
                           "dropped_pairs": int(got["dropped_pairs"] or 0)}]),
            rnd)
        return out

    def quality_filter_documents(self, docs: DataFrame,
                                 export_table: str = "kept_documents",
                                 ) -> dict[str, int]:
        """Production quality-gate pass over a (doc_id, text, ...) corpus
        run as part of a crawl workflow: filter fetched pages through the
        composed first-failing-rule gate (driver_queries.
        quality_filter_verdict — the SAME expressions the hash-green
        quality_filter oracle certifies), export the surviving rows to
        ``export_table`` under the current round, and record the
        per-reason rejection counts to the checkpoint's
        ``quality_metrics`` table.  The counts ride the export write's
        own Observation — the observe node sits BELOW the keep filter, so
        every row (kept and rejected) flows through it during the one
        write action: ZERO extra scans (the A1 counters-riding-writes
        pattern).  Returns the per-reason counts."""
        from pyspark.sql import Observation

        from .driver_queries import QF_REASONS, quality_filter_verdict

        obs = Observation()
        v = quality_filter_verdict(docs).observe(
            obs, *[F.coalesce(F.sum((F.col("reason") == r).cast("long")),
                              F.lit(0)).alias(r) for r in QF_REASONS])
        kept = v.filter(F.col("keep")).drop("reason", "keep")
        rnd = max(self.io.committed_round(), 0)
        self.io.append(export_table, kept, rnd)  # the ONE action
        got = obs.get
        counts = {r: int(got[r] or 0) for r in QF_REASONS}
        self.io.append_local("quality_metrics", pd.DataFrame([counts]), rnd)
        return counts

    def run(self, seeds: list[str] | DataFrame | None = None,
            max_rounds: int = 64, progress=None) -> list[RoundStats]:
        rnd = self.resume_round()
        if rnd == 0:
            assert seeds is not None, "fresh run needs seeds"
            self.start(seeds)
        else:
            self._check_resume_config()
        stats: list[RoundStats] = []
        n: int | None = None  # carried forward from the frontier write's
        # observation — no per-round count() job after round 0
        while rnd < max_rounds:
            if not self.io.exists("frontier", rnd):
                break
            if rnd == 0 and self._frontier0 is not None:
                # fresh start: round 0 runs off the frame the checkpoint
                # write just materialized into the cache
                frontier, n = self._frontier0, self._n0
                self._frontier0 = None
            else:
                frontier = self.io.read_round("frontier", rnd).persist()
            if n is None:  # resume: one-time count
                n = frontier.count()
            if n == 0:
                frontier.unpersist()
                break
            st, n = self._run_round(rnd, frontier, n)
            stats.append(st)
            if progress:
                progress(st)
            rnd += 1
        return stats

    # -- internals ------------------------------------------------------------

    def _check_resume_config(self) -> None:
        """Refuse to resume under a CrawlConfig other than the one every
        committed round recorded: the later rounds would silently run under
        a second config. A manifest without a recorded config (committed by
        an engine that did not record one) is not checked."""
        recorded = self.io.manifest().get("config")
        current = json.loads(json.dumps(asdict(self.cfg)))
        if recorded is None or recorded == current:
            return
        diff = [f"{k} (recorded {recorded.get(k)!r}, given {current.get(k)!r})"
                for k in sorted(recorded.keys() | current.keys())
                if recorded.get(k) != current.get(k)]
        raise ValueError("resume CrawlConfig differs from the one the "
                         "committed rounds ran under, in fields "
                         + ", ".join(diff))

    @staticmethod
    def _dedup_frontier(df: DataFrame) -> DataFrame:
        """Canonical within-round dedup: one row per host, min (root, depth).

        groupBy + min-struct, not a window row_number: the aggregate gets a
        map-side partial combine (a hot host's duplicates collapse before
        the shuffle), a window would ship every duplicate to one task."""
        return (df.groupBy("host")
                  .agg(F.min(F.struct("root", "depth")).alias("_w"))
                  .select("host", F.col("_w.root").alias("root"),
                          F.col("_w.depth").alias("depth")))

    def _join_frontier(self, f: DataFrame, small_round: bool) -> DataFrame:
        """J1 fetch-join + J2 dns-join → one frame with null fetch columns
        for missing hosts and the rcode=-1 total-DNS-failure sentinel
        (resolver.go:84-97; an NXDOMAIN RESPONSE leaves err==nil upstream,
        worker.go:148-151). Small rounds: the corpus/dns tables STREAM
        through broadcast-inner extracts against the frontier hosts (row
        groups skipped via the build-side filter), then the frontier
        LEFT-joins the frontier-sized extracts broadcast — zero frontier
        shuffles. Giant rounds: one shuffle left-join chain on host (the
        second join reuses the first's hash partitioning)."""
        if small_round:
            fh = F.broadcast(f.select("host"))
            meta_small = self.corpus_meta.join(fh, "host", "inner")
            dns_small = self.dns.join(fh, "host", "inner")
            j = (f.join(F.broadcast(meta_small), "host", "left")
                  .join(F.broadcast(dns_small), "host", "left"))
        else:
            j = (f.join(self.corpus_meta, "host", "left")
                  .join(self.dns, "host", "left"))
        # column list assembled STATICALLY (init-time table schemas + the
        # fixed frontier shape) — `j.columns` here would re-analyze the
        # whole join tree on the driver once per round per call, a purely
        # serial cost that grows with plan depth (BENCH §3c planning floor)
        cols = (["host", "root", "depth"]
                + [c for c in self._meta_cols if c != "host"]
                + [c for c in self._dns_cols
                   if c not in ("host", "ips", "rcode")])
        return j.select(
            *cols,
            F.coalesce(F.col("ips"),
                       F.array().cast("array<string>")).alias("ips"),
            F.coalesce(F.col("rcode"), F.lit(-1)).cast("int").alias("rcode"))

    def _run_round(self, rnd: int, frontier: DataFrame,
                   tasks_processed: int) -> tuple[RoundStats, int]:
        """One crawl round. Returns (stats, next-frontier row count — observed
        on the frontier write, so the next round needs no count() job)."""
        t0 = time.monotonic()
        cfg = self.cfg
        spark = self.spark

        # tiny rounds write single-task files (avoids 32 near-empty tasks per
        # write); bigger rounds keep full write parallelism — a serialized
        # write would cap scaling.
        small = tasks_processed < 20_000
        shrink = (lambda df: df.coalesce(1)) if small else (lambda df: df)

        # politeness (W2, north-rule addition): per-root budget via salted
        # window; deferred rows carry over to the next round's frontier
        active_f, deferred = pol.apply_budgets(frontier, self.robots, cfg)

        # J1+J2 in one cached frame (_join_frontier): round 2 shipped
        # inner+anti join pairs for both corpus and dns — four frontier
        # shuffles per round; the 8M-row round-0 wave was dominated by them.
        # NOTE a naive frontier-LEFT-join-corpus hint cannot broadcast the
        # frontier (Spark can't build the preserved side of an outer join) —
        # the small-round path broadcasts frontier-sized EXTRACTS instead.
        f = active_f
        small_round = tasks_processed <= BROADCAST_FRONTIER_MAX
        # fetch-outcome columns composed as ONE projection, not a
        # withColumn chain: each withColumn layers a Project node the
        # analyzer re-resolves per round — 8 nested layers measurably
        # widen the per-round driver-serial planning floor (BENCH §3c);
        # inlining the shared subexpressions keeps the tree one level deep
        # (execution cost is identical — codegen CSEs the duplicates)
        active = F.col("depth") <= F.lit(cfg.max_depth)
        is2xx = (F.col("status_code") >= 200) & (F.col("status_code") < 300)
        # a redirect-resolution error (too many redirects / dead hop) fails
        # the attempt exactly like a refused connection — the Go client
        # returns an error from Do() either way (fetcher.go:46-49)
        # per-proto AVAILABILITY (protocol present on the host's corpus row)
        # is kept separate from fetch success: the Go client checks the
        # listener first and never follows the chain for an absent protocol
        # (reference_sim.py:213-216), so a redirect-chain error
        # (fetch_error) must NOT leak into the unavailable proto's log row
        avail = lambda p: F.coalesce(F.array_contains("proto_ok", p),
                                     F.lit(False))
        has = lambda p: avail(p) & F.col("fetch_error").isNull()
        https_ok = active & has("https")
        fetched_https = https_ok & is2xx
        http_att = active & ~fetched_https
        http_ok = http_att & has("http")
        fetched_http = http_ok & is2xx
        j0 = self._join_frontier(f, small_round)
        # depth is folded into `active` and proto_ok into the avail/ok
        # flags — neither raw column is read downstream, so neither is
        # cached (every dropped column is one fewer per-round cache pass).
        # Static list (no j0.columns re-analysis): _join_frontier's output
        # shape is frontier + meta + dns extras + coalesced ips/rcode.
        j0_cols = (["host", "root"]
                   + [c for c in self._meta_cols
                      if c not in ("host", "proto_ok")]
                   + [c for c in self._dns_cols
                      if c not in ("host", "ips", "rcode")]
                   + ["ips", "rcode"])
        j = (j0.select(
                *j0_cols,
                active.alias("active"),
                avail("https").alias("https_avail"),
                avail("http").alias("http_avail"),
                https_ok.alias("https_ok"),
                fetched_https.alias("fetched_https"),
                http_att.alias("http_att"),
                http_ok.alias("http_ok"),
                fetched_http.alias("fetched_http"),
                (fetched_https | fetched_http).alias("fetched"),
                F.when(fetched_https, "https").when(fetched_http, "http")
                 .alias("proto"))
              .persist())

        # A1 counters ride on the http_log write as an observation — zero
        # extra jobs (the old agg_df.collect() was a full serial job). The
        # observe node sits on the http_log BRANCH (a pure projection over
        # the cached j, executed by exactly one action) and NOT on j itself:
        # (a) a node shared by wave 2's concurrent actions would report only
        # the partitions each action computed, and (b) inside wave 1's
        # fetch-join lineage AQE's empty-relation propagation can drop the
        # CollectMetrics node entirely when a build side turns up empty
        # (observed: Observation.get then throws 'assertion failed' in
        # toPyRow).
        obs_j = Observation()
        j_observed = j.observe(
            obs_j,
            F.sum(F.col("active").cast("long")).alias("https_attempts"),
            F.sum(F.col("http_att").cast("long")).alias("http_attempts"),
            F.sum(F.col("fetched").cast("long")).alias("success"),
            F.sum((F.col("active") & ~F.col("https_ok")).cast("long")).alias("e1"),
            F.sum((F.col("http_att") & ~F.col("http_ok")).cast("long")).alias("e2"),
            F.sum((F.col("active") & ~F.col("fetched")).cast("long")).alias("e3"),
            F.sum(F.col("active").cast("long")).alias("dns_requests"),
        )

        # ---- http log (S3): one row per attempt, failures included ----------
        # error attribution order matches the Go client: an UNAVAILABLE
        # protocol is a refused connection (the chain is never followed),
        # only an available protocol can surface a redirect-chain
        # fetch_error (too many redirects / dead hop)
        # NOTE no url column: url == proto + "://" + host, fully derivable —
        # storing it would write every host string TWICE per attempt row
        # (~40% of the round's biggest log table at 10^7+ rows); the JSONL
        # exporter derives it at export time (sources/jsonl.py)
        attempt = lambda proto_lit, att_col, ok_col, avail_col: F.when(
            att_col, F.struct(
                F.lit(proto_lit).alias("proto"),
                F.when(ok_col, F.col("status_code")).alias("status_code"),
                F.when(~ok_col,
                       F.when(~avail_col, F.lit("connection refused"))
                        .otherwise(F.coalesce(F.col("fetch_error"),
                                              F.lit("connection refused"))))
                 .alias("error"),
            ))
        http_log = (j_observed.select(
            F.col("host"),
            F.explode(F.filter(F.array(
                attempt("https", F.col("active"), F.col("https_ok"),
                        F.col("https_avail")),
                attempt("http", F.col("http_att"), F.col("http_ok"),
                        F.col("http_avail")),
            ), lambda x: x.isNotNull())).alias("a"))
            .select(F.lit(rnd).alias("round"), "host", "a.proto",
                    "a.status_code", "a.error"))

        # ---- extraction (X1+F2 fused with X3 title) --------------------------
        # fetched hosts broadcast-join back to the text column (gated on the
        # same frontier-size threshold as the fetch-join: a 10^10-row round
        # would OOM the driver if broadcast unconditionally); the captions
        # stream scan → extraction and are dropped before the cache.
        # Extraction is one Arrow pass of the fused UDF over the full text:
        # the C regex beats Java's backtracking regex per core, and a
        # JVM-side dot-token reduction costs more in allocation/GC than it
        # saves in Arrow bytes (both measured 1.8-2× slower,
        # BENCH/BASELINE.md §3a).
        # join the text column on content_host: for redirect sources the
        # client returns the TERMINAL host's body (content_host != host);
        # for everything else content_host == host and this is the same
        # join as before
        fetched_hosts = j.filter("fetched").select(
            "host", "root",
            (F.col("content_host") if self._redirects
             else F.col("host")).alias("content_host"))
        if small_round:
            fetched_hosts = F.broadcast(fetched_hosts)
        width = self.spark.sparkContext.defaultParallelism
        base_pages = (fetched_hosts.join(self.corpus_text, "content_host")
                      .drop("content_host"))
        # The join's output parallelism is the text scan's split count (the
        # fetched subset stays SPREAD across scan splits — the broadcast
        # probe filters in place). Repartition before the CPU-heavy
        # extraction ONLY when the scan is narrower than the cores (tiny
        # fixture corpora written as 1-2 files); when splits >= cores the
        # shuffle moves every fetched caption for nothing — at 100 TB it
        # would reshuffle the whole text column.
        if 0 < self._text_nparts < width:
            base_pages = base_pages.repartition(width, "host")
        pages = (base_pages
                 .withColumn("pf", udfs.udf_page_features("caption", "root"))
                 .select("host", "root", F.col("pf.cands").alias("cands"),
                         F.col("pf.title").alias("title"))
                 .persist())

        exploded = pages.select(
            F.col("host").alias("parent"), F.col("root").alias("parent_root"),
            F.posexplode("cands").alias("pos", "cand"),
        )

        # ---- D1: novel = candidates not in cumulative seen -------------------
        seen = self.io.read_upto("seen", rnd - 1)
        bc = F.broadcast if tasks_processed <= BROADCAST_FRONTIER_MAX \
            else (lambda df: df)
        if seen is None:
            # round 0: the seen set is empty, so EVERY candidate is novel —
            # `novel` would be exploded.distinct() and the winner join below
            # an identity. Skipping both saves two full shuffles of the
            # exploded candidate set in the crawl's biggest round (the
            # winner groupBy alone produces the distinct-cand set).
            survivors = exploded
        else:
            novel = (exploded.select("cand").distinct()
                     .join(seen, F.col("cand") == F.col("host"), "left_anti"))
            survivors = exploded.join(bc(novel), "cand")

        # winner = canonical min-parent claim per novel cand; pos rides along
        # in the min-struct (one pos per (cand, parent) — per-page dedup), so
        # the per-page novel lists derive from `winner` alone, no join back
        # to `exploded`
        winner = (survivors
                  .groupBy("cand")
                  .agg(F.min(F.struct("parent", "parent_root", "pos")).alias("w"))
                  .select("cand", F.col("w.parent").alias("winner"),
                          F.col("w.parent_root").alias("winner_root"),
                          F.col("w.pos").alias("pos"))
                  .withColumn("depth", udfs.udf_get_depth("cand"))
                  .persist())

        # per-page novel list in extraction order (result.subdomains semantics)
        page_novel = (winner
                      .groupBy(F.col("winner").alias("parent"))
                      .agg(F.transform(
                          F.array_sort(F.collect_list(F.struct("pos", "cand"))),
                          lambda x: x.cand).alias("subdomains")))

        # ---- dns log (S4) + results (S2): pure projections of the cached j
        # (the dns columns were folded into the wave-1 join — no second
        # frontier join, no separate persist) --------------------------------
        dns_log = (j.filter("active")
                    .select(F.lit(rnd).alias("round"), "host", "ips", "rcode"))

        results = (j.filter("fetched")
                   .join(bc(pages.select(F.col("host"), F.col("title"))),
                         "host", "left")
                   .join(bc(page_novel), F.col("host") == F.col("parent"), "left")
                   .select(
                       F.lit(rnd).alias("round"),
                       F.col("host").alias("domain"),
                       "ips",
                       F.coalesce(F.col("subdomains"),
                                  F.array().cast("array<string>")).alias("subdomains"),
                       _status_expr(F.col("status_code")).alias("status"),
                       F.col("status_code"),
                       F.coalesce(F.col("title"), F.lit("")).alias("title"),
                       F.col("content_length"),
                       F.when(F.col("rcode") == -1,
                              F.lit("no response from any DNS server"))
                        .alias("error"),
                   ))

        # ---- next frontier (U1) ------------------------------------------------
        # NOTE on observation placement: a metric observed directly on the
        # cached `winner` would be split across wave 2's concurrent actions
        # (each action's accumulator only sees the partitions IT computed).
        # These projections each have exactly ONE consuming action — seen
        # write / frontier write — so every row flows through the observe
        # node inside a single query and the counts are exact.
        obs_enq = Observation()
        novel_frontier = (winner
                          .filter(F.col("depth") <= F.lit(cfg.max_depth))
                          .select(F.col("cand").alias("host"),
                                  F.col("winner_root").alias("root"), "depth")
                          .observe(obs_enq,
                                   F.count(F.lit(1)).alias("enqueued")))
        next_frontier = novel_frontier
        if deferred is not None:
            next_frontier = self._dedup_frontier(
                next_frontier.unionByName(
                    deferred.select("host", "root", "depth")))
        # G1 deterministic analog (off by default — see config): cap the
        # next frontier at queue_size rows, keep rule (depth, host)
        # ascending (shallowest first, then lexicographic — a fixed
        # priority replacing the reference's enqueue race).  The pre-cap
        # count rides the SAME write action through a second observe node
        # below the sort, so the drop count costs no extra job.  Physical
        # shape: orderBy+limit compiles to TakeOrderedAndProject —
        # per-partition top-K then one bounded merge, never a full sort.
        obs_pre = None
        if cfg.enforce_queue_cap and cfg.queue_size > 0:
            obs_pre = Observation()
            next_frontier = (next_frontier
                             .observe(obs_pre,
                                      F.count(F.lit(1)).alias("n_cand"))
                             .orderBy("depth", "host")
                             .limit(cfg.queue_size))
        # the frontier write's observation feeds the NEXT round's row count —
        # the old per-round frontier.count() job is gone
        obs_f = Observation()
        next_frontier = next_frontier.observe(
            obs_f, F.count(F.lit(1)).alias("n"))

        # ---- commit round: staged job waves --------------------------------------
        # Wave 1 (one job) materializes the expensive shared lineage — the
        # fetch+dns join (j) and the extraction UDF output (pages). Wave 2a
        # (seen write) first-touches the one remaining cache (winner); wave
        # 2b runs the other four writes concurrently over fully-cached data.
        # All metrics arrive via observations riding on the writes — no
        # dedicated collect/count jobs remain in the round.
        obs_novel = Observation()
        novel_df = (winner.select(F.col("cand").alias("host"))
                    .observe(obs_novel, F.count(F.lit(1)).alias("novel")))

        # Wave 2a: the seen write's lineage (winner ← exploded ← pages ← j)
        # covers every cache this round uses, so this ONE action both
        # materializes them and writes — the separate wave-1 pages.count()
        # job was a redundant scheduling pass (round-4 fold, advisor ask).
        # Wave 2b's writes then scan fully-cached data. Rationale for the
        # stages: letting all five race (one big pool) makes tasks of the
        # late jobs block on the cache locks of partitions the early jobs
        # are computing — blocked tasks HOLD task slots, and at high core
        # counts the convoy effect dominates (measured round 2 on the
        # 9.5M-URL corpus at local[32]: 359 s all-concurrent vs 233 s
        # serialized; this staged form keeps the concurrency that is
        # actually parallel). dns_log is a pure projection of the cached j
        # since the dns columns were folded into the wave-1 join.
        self.io.append("seen", shrink(novel_df), rnd)
        with ThreadPoolExecutor(max_workers=4) as pool:
            writes = [
                pool.submit(self.io.append, "results", shrink(results), rnd),
                pool.submit(self.io.append, "http_log", shrink(http_log), rnd),
                pool.submit(self.io.append, "dns_log", shrink(dns_log), rnd),
                pool.submit(self.io.append, "frontier", shrink(next_frontier),
                            rnd + 1),
            ]
            for w in writes:
                w.result()
        agg = obs_j.get
        n_next = int(obs_f.get["n"])
        unique_subdomains = int(obs_novel.get["novel"] or 0)
        tasks_enqueued = int(obs_enq.get["enqueued"] or 0)

        st = RoundStats(
            round=rnd,
            tasks_processed=tasks_processed,
            tasks_enqueued=tasks_enqueued,
            http_requests=int((agg["https_attempts"] or 0)
                              + (agg["http_attempts"] or 0)),
            dns_requests=int(agg["dns_requests"] or 0),
            success_count=int(agg["success"] or 0),
            error_count=int((agg["e1"] or 0) + (agg["e2"] or 0)
                            + (agg["e3"] or 0)),
            unique_subdomains=unique_subdomains,
            wall_sec=time.monotonic() - t0,
            tasks_dropped=(max(0, int(obs_pre.get["n_cand"] or 0) - n_next)
                           if obs_pre is not None else 0),
        )
        self.io.append_local("metrics", pd.DataFrame([st.__dict__]), rnd)
        self.io.commit_round(rnd, {"config": asdict(cfg)})

        for df in (frontier, j, pages, winner):
            df.unpersist()
        return st, n_next
