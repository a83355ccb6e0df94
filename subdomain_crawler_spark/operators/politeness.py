"""W2 — robots.txt politeness: disallow rules + per-host budgets with salted
skew-safe top-K.

North-rule addition: the reference has NO per-host rate control (its channel
is plain FIFO; a hot SLD simply monopolizes the 32 workers —
/root/reference/pkg/infrastructure/storage/queue.go:25-39). Here each round
schedules at most ``budget`` hosts per registered domain; the rest defer to
the next round's frontier with their row unchanged. Politeness runs if and
only if a robots table is given.

Robots semantics (robots table, schema ``ROBOTS_COLUMNS``: root,
disallow_prefixes array<string>, crawl_delay int, max_per_round int):

* **disallow_prefixes** — entries starting with ``/`` are URL-path prefixes;
  this engine fetches only ``proto://host/``, so a ``/`` entry blocks the
  whole root and any other path entry (``/private``) matches nothing.
  Entries NOT starting with ``/`` are host-prefix rules (``admin.`` blocks
  ``admin.<anything>``) — the useful robots dialect for a host-only crawl.
  Blocked hosts are dropped permanently (never fetched, never deferred;
  they were already seen-marked at extraction time, so they cannot loop).
* **crawl_delay** — one round models ``ROUND_WINDOW_SEC`` seconds of
  polite fetching, so a root with crawl_delay=d gets at most
  ``ROUND_WINDOW_SEC // d`` slots per round (at least 1).
* effective budget = min(max_per_round, delay budget), nulls skipped. A
  root absent from robots, or whose row has both null, is unlimited.

Canonical priority within a root: (depth ASC, host ASC) — shallow hosts
first, deterministic tie-break, so deferral is reproducible and the E2E
goldens stay exact.

Skew design: a single ``Window.partitionBy(root)`` would put one hot root's
10^8 candidates in one task. We take the top-K in two phases:

  1. window over (root, salt) with salt = pmod(xxhash64(host), S) — S
     parallel windows per root; rows ranked past ``budget`` in their salted
     bucket are deferred outright (a safe over-approximation of the
     per-root top-K);
  2. exact window over root on the ≤ S·budget phase-1 survivors. Rows that
     phase 1 pruned pass through this window keyed by their own host, one
     row per window, so they stay spread and are never ranked again.

Phase 2's per-root window is bounded by S·budget rows regardless of
frontier skew, so it never holds the hot tail. Each window runs once and
the result is one frame (unbounded ∪ bounded rows), so a caller that
persists it gets both sides of the split from one evaluation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# the robots table's schema; CrawlEngine selects exactly these columns
ROBOTS_COLUMNS = ("root", "disallow_prefixes", "crawl_delay", "max_per_round")

# seconds of polite fetching one round models (crawl_delay → budget)
ROUND_WINDOW_SEC = 60

# salted buckets per root in the phase-1 window (hot-SLD skew)
_SALT_BUCKETS = 8


def apply_budgets(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """The round's frontier minus robots-disallowed hosts, with a boolean
    ``scheduled`` column: True for the rows this round fetches, False for
    the rows deferred to the next round. One frame yields both sides, so
    the windows are evaluated once when the caller persists it."""
    blocked = F.exists(
        "disallow_prefixes",
        lambda p: (p == F.lit("/"))
        | ((~p.startswith("/")) & F.col("host").startswith(p)))
    # clamp to ≥1: a crawl_delay longer than the round window must still
    # schedule one host per round, else the row defers forever
    delay_budget = F.when(
        F.col("crawl_delay") > 0,
        F.greatest(F.lit(1),
                   F.floor(F.lit(ROUND_WINDOW_SEC) / F.col("crawl_delay")))
        .cast("int"))
    f = (frontier.join(F.broadcast(robots), "root", "left")
         .filter(~F.coalesce(blocked, F.lit(False)))
         .select("host", "root", "depth",
                 # least skips nulls; both null → unlimited
                 F.least("max_per_round", delay_budget).alias("_budget")))

    unbounded = (f.filter(F.col("_budget").isNull())
                 .select("host", "root", "depth",
                         F.lit(True).alias("scheduled")))

    salt = F.pmod(F.xxhash64("host"), F.lit(_SALT_BUCKETS))
    w1 = Window.partitionBy("root", salt).orderBy("depth", "host")
    ranked = (f.filter(F.col("_budget").isNotNull())
              .withColumn("_kept",
                          F.row_number().over(w1) <= F.col("_budget")))
    # phase 2 ranks the phase-1 survivors per root; a pruned row is keyed by
    # its own host, so it is a window of one and the hot tail never gathers
    # under one key
    w2 = (Window.partitionBy("root", F.when(~F.col("_kept"), F.col("host")))
          .orderBy("depth", "host"))
    bounded = ranked.select(
        "host", "root", "depth",
        (F.col("_kept") & (F.row_number().over(w2) <= F.col("_budget")))
        .alias("scheduled"))

    return unbounded.unionByName(bounded)
