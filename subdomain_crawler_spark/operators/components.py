"""Connected components over a DataFrame pair graph — the grouping step of
the near-dup pipeline (LSH candidate pairs → duplicate clusters).

Algorithm: min-label propagation with pointer-jumping compression.
Each round every node takes the minimum of its own and its neighbors'
labels (one shuffle join + one partial-aggregated groupBy), then jumps
its label through the previous round's label table (one more join against
the cached table).  The jump makes the propagation radius roughly DOUBLE
per round (1, 3, 7, 15, … hops on a path graph) — O(log diameter) rounds,
the same asymptotics as the large-star/small-star alternation
(Kiveris et al., "Connected Components in MapReduce and Beyond") with a
simpler per-round shape.

Scale notes (10^10-node pair graphs):
* No row data ever reaches the driver — the only per-round driver value is
  an Observation carrying the round's exact CHANGED-ROW count.  Each round
  carries its input label alongside the output (``prev_label`` — one extra
  id-width column in the round's checkpoint) and observes
  ``sum(label != prev_label)`` above the checkpoint; labels only ever
  decrease, so ``changed == 0`` means the round was a no-op — an exact
  (not probabilistic) fixed-point proof that each round self-reports.
  (Metrics BELOW a localCheckpoint never fire — the RDD materialization
  path bypasses the QueryExecution listeners — so the observation must
  ride the block scan above it, which is also why the mid round of a
  stride cannot cheaply observe anything: its blocks are scanned three
  times by the next round's plan.)
* One Spark action per round, each materializing that round's checkpoint
  EAGERLY.  A two-round stride under a single action (mid round lazily
  checkpointed) was tried and measured SLOWER at every interleaved pair
  (sf0.1: +1.3-1.9 s vs per-round actions): the next round's plan scans
  the mid table three times, and when those scans race inside one action
  the not-yet-stored lazy-checkpoint partitions hit the block-cache lock
  convoy (same mechanism as the wave-2b staging note in plans/crawl.py)
  — costing more than the saved job launch.  At 10^10-node scale the
  per-round job-launch floor (~100 ms) is noise against the round's data
  movement, so per-round actions are the right shape there too.  The
  common LSH dedup graph — tiny cliques, diameter 1-2 — still needs only
  two actions (round 1 relabels, round 2 is the no-op proof).
* Lineage is truncated EVERY round via ``localCheckpoint``: each round
  references the previous label table twice (propagation join + jump
  join), so an un-truncated logical plan DOUBLES per round — exponential
  tree growth that OOMs the driver around round 7-8 (observed: AQE's
  generateTreeString heap blowup).  The checkpoint stores the round's
  label partitions (same bytes a persist would hold) and resets the plan
  to a leaf.  Superseded rounds' blocks are freed EAGERLY each iteration
  (round-5 review ask: waiting for the ContextCleaner lets up to
  max_rounds stale label tables accumulate on a long-lived session) —
  only the final table's blocks stay alive, released by the
  ContextCleaner when the caller drops the returned DataFrame.
* Non-convergence RAISES instead of returning silently-wrong labels
  (a round-4 review finding: a silent iteration cap on a correctness-gated
  operator).  With doubling, ``max_rounds=50`` covers any graph a real
  machine can hold (diameter ≈ 2^50).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def free_checkpoint_blocks(df: DataFrame) -> None:
    """Eagerly drop the storage blocks behind a ``localCheckpoint``-ed
    DataFrame (or a projection over one — every LogicalRDD leaf under the
    plan is unpersisted).  ONLY call on a table that will never be
    referenced again — the blocks are the data (recompute is impossible
    after this).  Without it the blocks linger until the JVM-side RDD is
    garbage-collected and the ContextCleaner runs."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        it = leaves.iterator()
        while it.hasNext():
            leaf = it.next()
            try:
                leaf.rdd().unpersist(False)
            except Exception:
                pass  # not a LogicalRDD leaf — nothing to free
    except Exception:
        pass  # best-effort


def _driver_union_find(rows) -> list:
    """Exact union-find (union-by-min + path halving) over collected
    symmetric edge rows — the small-graph fast path.  Union-by-min makes
    every root the component MINIMUM, matching the distributed labels
    bit-for-bit."""
    parent: dict = {}

    def find(x):
        r = parent.get(x, x)
        while r != parent.get(r, r):
            parent[x] = r = parent.get(parent[r], parent[r])
            x = r
        return r

    for row in rows:
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
        # record both endpoints even when already joined
        parent.setdefault(row[0], find(row[0]))
        parent.setdefault(row[1], find(row[1]))
    return [(n, find(n)) for n in parent]


def connected_components(
    pairs: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_rounds: int = 50,
    driver_threshold: int = 250_000,
) -> DataFrame:
    """Label each node of the undirected graph ``pairs`` with the minimum
    node id of its connected component.

    ``pairs`` columns ``src``/``dst`` must be an ORDERABLE id type —
    numeric (the cheap shuffle key; every library caller packs its ids
    into int64) or string (lexicographic min labels, pinned by
    tests/test_components.py — both the driver union-find's ``<`` and the
    distributed path's ``min()`` aggregate are type-agnostic over
    orderable columns).  Returns DataFrame(id, label) covering every node
    that appears in at least one pair (singletons never enter the graph —
    the caller decides their representation, matching the LSH pipeline
    where a pairless doc is its own group).  The result is backed by a
    ``localCheckpoint`` — materialized, lineage-free; its blocks are
    released when the caller drops the reference (or eagerly via
    ``free_checkpoint_blocks``).

    Graphs at or under ``driver_threshold`` PAIRS run exact union-find on
    the driver instead of the iterative loop: a LOUD, size-gated regime
    split, not a silent cap — the edge count is known before the choice,
    results are bit-identical (union-by-min roots ARE component minima),
    and the memory bound is explicit: the edges cross as TWO Arrow
    columns (toPandas — no driver Row objects), ≤ 2·threshold rows
    ≈ 8 MB at the default for int64 ids — for STRING ids per-row cost is
    id-width-bound instead, ~8 MB per 16 average id bytes at the default
    threshold — and the transient
    Python-object peak (edge tuples + the parent dict over ≤ 2·threshold
    distinct nodes) is ~100-150 MB for int64, proportionally more for
    long string ids; callers with wide ids should size
    ``driver_threshold`` down accordingly.  (Round-7 ADVICE fixed the old
    ``collect()`` that built up to 2M driver Rows while the docstring
    claimed 32 MB; round-10 ADVICE flagged the stale int64-only math.)  Rationale: each distributed round costs ~6-8 AQE stage
    waves of pure scheduling floor, so a 450-pair LSH graph pays seconds
    for microseconds of work; the same regime split Spark itself applies
    when it broadcasts a small join side.  ``driver_threshold=0`` forces
    the distributed path (the scale shape, and what the adversarial
    convergence tests pin).

    Raises RuntimeError if the labels have not provably converged within
    ``max_rounds`` rounds (distributed path only — union-find needs no
    iteration).
    """
    # symmetrize with ONE explode pass — a unionByName of two selects would
    # put the caller's pair plan (often a full MinHash-LSH banding over the
    # corpus) in the lineage TWICE, and the first action would compute the
    # signature kernel twice before the persist caches anything
    edges = (pairs.select(F.explode(F.array(
                 F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                 F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
             )).alias("e"))
             .select("e.a", "e.b")
             .persist())
    n_edges = edges.count()  # materializes the persist (the caller's pair
    # plan — often the full LSH banding — runs exactly once, here)
    if n_edges <= 2 * driver_threshold:
        import pandas as pd
        from pyspark.sql.types import StructField, StructType

        id_type = pairs.schema[src].dataType
        # Arrow transfer: two int64 columns, no driver-side Row objects
        # (collect() built one Row per symmetrized edge — hundreds of MB
        # of Python objects at the threshold; toPandas is ~16 B/row)
        pdf = edges.toPandas()
        edges.unpersist()
        out = _driver_union_find(
            zip(pdf["a"].tolist(), pdf["b"].tolist()))
        schema = StructType([StructField("id", id_type, False),
                             StructField("label", id_type, False)])
        # ship the labels back as a pandas frame (Arrow createDataFrame —
        # the list-of-tuples path pickles per row) and BROADCAST-hint the
        # result: the node count is bounded by 2·driver_threshold (the
        # loud size gate above), i.e. ≤ ~8-16 MB of ids, so every
        # caller's expand join (labels ← nodes/repmap) compiles to a
        # BroadcastHashJoin instead of a statless sort-merge exchange
        # pair — the driver-path twin of what the distributed path's
        # plans decide from real sizes (round 11; measured ~3 s → ~0.5 s
        # on dedup_pipeline's expand at sf1.0)
        res = pairs.sparkSession.createDataFrame(
            pd.DataFrame(out, columns=["id", "label"]), schema)
        return F.broadcast(res)
    labels = (edges.select(F.col("a").alias("id")).distinct()
              .withColumn("label", F.col("id")).persist())
    seed_labels = labels  # the setup frame, unpersisted after round 0

    def one_round(lab: DataFrame) -> DataFrame:
        # propagate: every node takes min(own, neighbors') previous label.
        # The node's OWN previous label rides along (own=true rows — each
        # id contributes exactly one) so the round's output can self-report
        # whether it changed anything, with no comparison join.
        prop = (edges.join(lab.select("id", "label"),
                           edges["b"] == F.col("id"))
                .select(F.col("a").alias("id"), "label",
                        F.lit(False).alias("own")))
        new = (lab.select("id", "label", F.lit(True).alias("own"))
               .unionByName(prop)
               .groupBy("id")
               .agg(F.min("label").alias("label"),
                    F.min(F.when(F.col("own"), F.col("label")))
                     .alias("prev_label")))
        # pointer jump through the previous table: label := prev[label].
        # prev[x] <= x for every x (labels start at id, only decrease), so
        # the jump only improves; label values are node ids, so the lookup
        # always matches (coalesce is belt-and-braces for the left join).
        prevmap = lab.select(F.col("id").alias("jid"),
                             F.col("label").alias("jlabel"))
        new = (new.join(prevmap, new["label"] == prevmap["jid"], "left")
               .select("id", F.coalesce("jlabel", "label").alias("label"),
                       "prev_label"))
        # truncate lineage + mark this round's partitions for storage; the
        # next action to touch the frame materializes it
        return new.localCheckpoint(eager=False)

    converged = False
    rounds_run = 0
    last_changed = None
    while rounds_run < max_rounds:
        new = one_round(labels)
        rounds_run += 1
        obs = Observation()
        # the observation rides ABOVE the round's checkpoint (below it
        # metrics never fire); changed==0 ⇔ the round was a no-op ⇔ fixed
        # point (labels are monotone non-increasing). sum() is null on an
        # empty graph — converged by definition.
        (new.observe(obs, F.sum((F.col("label") != F.col("prev_label"))
                                .cast("long")).alias("changed"))
            .count())  # the round's ONE action: materializes new + obs
        if seed_labels is not None:
            seed_labels.unpersist()  # the distinct-ids frame from setup
            seed_labels = None
        else:
            free_checkpoint_blocks(labels)  # superseded round, freed eagerly
        labels = new
        last_changed = int(obs.get["changed"] or 0)
        if last_changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds "
            f"(last round still changed {last_changed} labels)")
    return labels.select("id", "label")
