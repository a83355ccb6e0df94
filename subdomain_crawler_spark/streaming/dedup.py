"""Streaming seen-filter — the crawler's D1 as a stateful streaming operator.

The reference's seen-set is a mutable in-process bloom filter
(/root/reference/pkg/infrastructure/storage/bloom_filter.go); the batch
engine replays it as an exact anti-join against the cumulative seen table.
This module is the STREAMING form: a continuous candidate stream is deduped
against state that persists across micro-batches and restarts — the
``applyInPandasWithState`` custom-stateful-operator pattern from the brief.

Shape:

    candidates ──groupBy(shard = xxhash64(host) % S)──►
        applyInPandasWithState(per-shard seen-set state) ──► novel rows only

* State is partitioned by a hash shard key, NOT by host: state rows stay
  bounded (S entries) and each shard's set grows with its share of the
  keyspace.
* Within a micro-batch the operator also dedups batch-internal repeats
  (first occurrence wins, like D2).
* Two state representations, selected by ``state_mode``:

  - ``"exact"`` (default): the state row stores the exact host array for
    the shard — semantics-preserving, memory grows with distinct hosts.
    This is what the crawl-equivalence tests pin.
  - ``"bloom"``: the state row stores ONE serialized bloom filter
    (operators/seen.BloomFilter.to_bytes) — **constant bytes per shard**
    regardless of how many hosts the shard has absorbed, the right shape
    at 10^10 hosts where S exact sets would not fit executor memory.
    Cost: bloom false positives DROP genuinely-novel hosts at the
    configured ``bloom_fp`` rate (the reference accepts exactly this
    trade, bloom_filter.go:26-46 — its seen set IS a bloom filter).
    Size the filter as capacity-per-shard = expected distinct hosts / S.

* Restart safety: GroupState rides the streaming checkpoint, so a second
  ``availableNow`` run over the same checkpoint resumes the seen set —
  test_streaming_dedup proves cross-run dedup for BOTH state modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BinaryType, IntegerType,
                               StringType, StructField, StructType)

OUTPUT_SCHEMA = StructType([
    StructField("host", StringType()),
    StructField("root", StringType()),
    StructField("depth", IntegerType()),
])

STATE_SCHEMA = StructType([StructField("hosts", ArrayType(StringType()))])
BLOOM_STATE_SCHEMA = StructType([StructField("bloom", BinaryType())])


def _dedup_shard(key, pdfs, state):
    import pandas as pd

    seen = set(state.get[0]) if state.exists else set()
    for pdf in pdfs:
        batch = pdf.drop_duplicates("host")          # D2: within-batch
        novel = batch[~batch["host"].isin(seen)]     # D1: vs state
        if len(novel):
            seen.update(novel["host"].tolist())
            yield novel[["host", "root", "depth"]]
    state.update((sorted(seen),))


def _make_bloom_dedup(capacity: int, fp: float):
    """Shard worker for state_mode="bloom": state = one serialized
    BloomFilter; maybe-seen rows are dropped (FP ⇒ novel-host drop, the
    reference's own semantics)."""

    def _dedup_shard_bloom(key, pdfs, state):
        from ..operators.seen import BloomFilter

        if state.exists:
            filt = BloomFilter.from_bytes(bytes(state.get[0]))
        else:
            filt = BloomFilter.with_estimates(capacity, fp)
        for pdf in pdfs:
            batch = pdf.drop_duplicates("host")           # D2: within-batch
            novel = batch[~filt.contains(batch["host"])]  # D1: vs bloom state
            if len(novel):
                filt.add(novel["host"])
                yield novel[["host", "root", "depth"]]
        state.update((bytearray(filt.to_bytes()),))

    return _dedup_shard_bloom


def streaming_seen_filter(candidates: DataFrame, shards: int = 32,
                          state_mode: str = "exact",
                          bloom_capacity: int = 1_000_000,
                          bloom_fp: float = 0.01) -> DataFrame:
    """Candidates (host, root, depth) stream → novel-only stream."""
    sharded = candidates.withColumn(
        "shard", F.pmod(F.xxhash64("host"), F.lit(shards)).cast("long"))
    if state_mode == "bloom":
        fn, schema = _make_bloom_dedup(bloom_capacity, bloom_fp), \
            BLOOM_STATE_SCHEMA
    elif state_mode == "exact":
        fn, schema = _dedup_shard, STATE_SCHEMA
    else:
        raise ValueError(f"unknown state_mode {state_mode!r}")
    return (sharded.groupBy("shard")
            .applyInPandasWithState(
                fn,
                outputStructType=OUTPUT_SCHEMA,
                stateStructType=schema,
                outputMode="append",
                timeoutConf="NoTimeout"))
