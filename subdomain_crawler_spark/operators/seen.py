"""URL-seen set kernels: vectorized FNV-1a and a numpy bloom filter.

Reference D1: a single RWMutex-guarded bloom (1e6 @ 1% FP,
pkg/infrastructure/storage/bloom_filter.go:26-46,
pkg/interface/cli/config.go:43-45) whose false positives silently drop ~1% of
genuinely-new hosts, and whose check-then-add race admits rare duplicates
(worker.go:172-174). Neither behavior is reproducible deterministically, so
the batch engine's seen set is the EXACT ``left_anti`` join of each round's
distinct candidates against the cumulative seen table (plans/crawl.py), with
no filter in front of it.

Spark's runtime bloom filter (``spark.sql.optimizer.runtime.bloomFilter``,
on by default) does not accelerate that join. In the giant-regime plan
(frontier above ``BROADCAST_FRONTIER_MAX``, broadcast joins off) neither
side of ``SortMergeJoin [cand], [host], LeftAnti`` carries a
``might_contain`` filter, even with the rule's size thresholds forced to 0;
the rule only injects filters into the fetch-join's joins on ``host``.

The bloom filter here backs only the sharded bank below, which no engine
path calls; the bank stays because perfbench's tracer wraps
``build_bank_distributed`` by name (see the note above
``ShardedSeenFilter``), so nothing probes it: it is only built. The add
path is numpy-vectorized over pandas batches.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3
_MASK64 = (1 << 64) - 1


def fnv64(values: pd.Series | list[str]) -> np.ndarray:
    """Deterministic 64-bit FNV-1a per string (PYTHONHASHSEED-independent).

    Vectorized by byte POSITION: hostnames are short (≲64 bytes), so the
    whole Arrow batch folds in maxlen vectorized uint64 passes instead of a
    per-string per-byte Python loop (same values as the scalar FNV-1a)."""
    arr = values.to_numpy() if isinstance(values, pd.Series) else values
    from ..functions.text import padded_bytes

    mat, lens = padded_bytes([v.encode("utf-8") for v in arr])
    h = np.full(len(arr), _FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):  # uint64 wraparound is the algorithm
        for j in range(mat.shape[1]):
            active = lens > j
            h[active] = (h[active] ^ mat[active, j].astype(np.uint64)) \
                * np.uint64(_FNV_PRIME)
    return h


def _mix(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — second independent hash for double hashing."""
    h = h.copy()
    h ^= h >> np.uint64(30)
    h = (h * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(_MASK64)
    h ^= h >> np.uint64(27)
    h = (h * np.uint64(0x94D049BB133111EB)) & np.uint64(_MASK64)
    h ^= h >> np.uint64(31)
    return h


@dataclass
class BloomFilter:
    """Bit-array bloom with double hashing; numpy-vectorized batch ops."""

    num_bits: int
    num_hashes: int
    bits: np.ndarray  # uint8 bitset, ceil(num_bits/8) bytes

    @classmethod
    def with_estimates(cls, capacity: int, fp_rate: float) -> "BloomFilter":
        # same sizing formula as bits-and-blooms (reference bloom_filter.go:26)
        m = max(64, int(math.ceil(-capacity * math.log(fp_rate) / (math.log(2) ** 2))))
        k = max(1, int(round(m / capacity * math.log(2)))) if capacity else 1
        return cls(m, k, np.zeros((m + 7) // 8, dtype=np.uint8))

    def _positions(self, hashes: np.ndarray) -> np.ndarray:
        """(n, k) bit positions via h1 + i*h2 double hashing."""
        h1 = hashes % np.uint64(self.num_bits)
        h2 = _mix(hashes) % np.uint64(self.num_bits - 1) + np.uint64(1)
        i = np.arange(self.num_hashes, dtype=np.uint64)[None, :]
        return (h1[:, None] + i * h2[:, None]) % np.uint64(self.num_bits)

    def add_hashes(self, hashes: np.ndarray) -> None:
        pos = self._positions(hashes).ravel()
        np.bitwise_or.at(self.bits, (pos >> 3).astype(np.int64), (1 << (pos & 7)).astype(np.uint8))

    def union(self, other: "BloomFilter") -> "BloomFilter":
        assert (self.num_bits, self.num_hashes) == (other.num_bits, other.num_hashes)
        return BloomFilter(self.num_bits, self.num_hashes, self.bits | other.bits)

    def to_bytes(self) -> bytes:
        head = np.array([self.num_bits, self.num_hashes], dtype=np.uint64).tobytes()
        return head + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes) -> "BloomFilter":
        m, k = np.frombuffer(buf, dtype=np.uint64, count=2)
        return cls(int(m), int(k), np.frombuffer(buf, dtype=np.uint8, offset=16).copy())


# ShardedSeenFilter and build_bank_distributed have no caller in the
# engine (its seen set is the exact anti-join alone); they stay only because
# perfbench's tracer wraps ``build_bank_distributed`` by name at the start of
# every traced sample. Delete them together with that hook.
@dataclass
class ShardedSeenFilter:
    """Bank of ``shards`` independent blooms, routed by fnv64(host) % shards.

    The serialized bank is what gets broadcast to executors; at 10^10 scale
    each executor touches only the shards its hash-partition maps to.
    """

    shards: list[BloomFilter] = field(default_factory=list)

    @classmethod
    def build(cls, num_shards: int, capacity_per_shard: int, fp: float) -> "ShardedSeenFilter":
        return cls([BloomFilter.with_estimates(capacity_per_shard, fp) for _ in range(num_shards)])

    @property
    def num_shards(self) -> int:
        return len(self.shards)

    def add(self, values: pd.Series) -> None:
        if not len(values):
            return
        hashes = fnv64(values)
        shard_of = (hashes % np.uint64(self.num_shards)).astype(np.int64)
        for s in range(self.num_shards):
            sel = hashes[shard_of == s]
            if len(sel):
                self.shards[s].add_hashes(sel)

    def to_bytes_list(self) -> list[bytes]:
        return [b.to_bytes() for b in self.shards]


def build_bank_distributed(df, column: str, num_shards: int,
                           capacity_per_shard: int, fp: float):
    """Build a ShardedSeenFilter over a DataFrame column WITHOUT collecting
    rows to the driver: each partition builds a partial bank (mapInPandas),
    only the serialized banks travel, the driver OR-merges them. This is how
    the bank is (re)built from the cumulative seen table on resume at scale.
    """
    from pyspark.sql.types import (
        BinaryType, IntegerType, StructField, StructType,
    )

    out_schema = StructType([
        StructField("shard", IntegerType()),
        StructField("bits", BinaryType()),
    ])

    def partial(batches):
        import pandas as pd  # executor-side

        bank = ShardedSeenFilter.build(num_shards, capacity_per_shard, fp)
        for pdf in batches:
            bank.add(pdf[column].dropna())
        yield pd.DataFrame({
            "shard": range(num_shards),
            "bits": bank.to_bytes_list(),
        })

    rows = df.select(column).mapInPandas(partial, out_schema).collect()
    bank = ShardedSeenFilter.build(num_shards, capacity_per_shard, fp)
    by_shard: dict[int, list[bytes]] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(bytes(r["bits"]))
    for s, bufs in by_shard.items():
        for buf in bufs:
            bank.shards[s] = bank.shards[s].union(BloomFilter.from_bytes(buf))
    return bank
