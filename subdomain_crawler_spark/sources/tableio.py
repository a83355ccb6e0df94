"""TableIO — snapshot-committed table seam (Iceberg-shaped, parquet-backed).

The north rule asks for Iceberg snapshots; this container has no Iceberg
runtime jar (verified: /opt/spark/jars has none, no network), so the same
seam is implemented as parquet round-directories plus an atomically-renamed
JSON manifest. Swap ``ParquetSnapshotIO`` for an Iceberg-backed twin
(``writeTo().append()`` / ``VERSION AS OF``) on a real cluster — the engine
only talks to this interface.

Layout:
    base/<table>/round=<N>/*.parquet      one atomic append per round
    base/_manifest.json                   {"committed_round": N, "tables": [...]}

Commit protocol (single-writer, the driver loop): write every table's
``round=N`` directory, then rename ``_manifest.json.tmp`` → ``_manifest.json``.
A crash between writes leaves uncommitted round dirs that readers ignore —
exact-resume semantics (reference analog: the racy 16-second bloom dump,
/root/reference/pkg/application/crawl_usecase.go:192-208, made atomic here).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col as F_col, lit as F_lit


@dataclass
class ParquetSnapshotIO:
    spark: SparkSession
    base: str

    # -- manifest -----------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.base, "_manifest.json")

    def committed_round(self) -> int:
        """Highest committed round, or -1 if no commit yet."""
        try:
            with open(self._manifest_path()) as f:
                return int(json.load(f)["committed_round"])
        except (FileNotFoundError, KeyError, ValueError):
            return -1

    def commit_round(self, round_no: int, extra: dict | None = None) -> None:
        os.makedirs(self.base, exist_ok=True)
        tmp = self._manifest_path() + ".tmp"
        payload = {"committed_round": round_no, **(extra or {})}
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, self._manifest_path())  # atomic on POSIX

    def manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    # -- table append / read -------------------------------------------------

    def round_dir(self, table: str, round_no: int) -> str:
        return os.path.join(self.base, table, f"round={round_no}")

    def append(self, table: str, df: DataFrame, round_no: int) -> None:
        # zstd for these scratch-tier round tables: it beat snappy by 8-18%
        # warm wall at local[4] in both interleaved sweeps (BENCH/BASELINE.md
        # §3e — fewer bytes through the memory bus, the binding resource of
        # the write wave, outweigh its higher encode CPU).
        (df.write.mode("overwrite").option("compression", "zstd")
         .parquet(self.round_dir(table, round_no)))

    def read_round(self, table: str, round_no: int) -> DataFrame:
        return self.spark.read.parquet(self.round_dir(table, round_no))

    def read_upto(self, table: str, round_no: int) -> DataFrame | None:
        """Union of all committed rounds ≤ round_no (None if none exist)."""
        dirs = [
            self.round_dir(table, r)
            for r in range(round_no + 1)
            if os.path.isdir(self.round_dir(table, r))
        ]
        if not dirs:
            return None
        # mergeSchema: round dirs written by different engine versions may
        # carry evolved schemas (e.g. RoundStats gained tasks_dropped in
        # r10); without it the union's schema comes from whichever footer
        # drives inference and newer columns can silently drop/null
        # (round-10 ADVICE). Footer merging cost is bounded by the round
        # count.
        return (self.spark.read.option("mergeSchema", "true")
                .parquet(*dirs))

    def exists(self, table: str, round_no: int) -> bool:
        return os.path.isdir(self.round_dir(table, round_no))

    def append_local(self, table: str, pdf, round_no: int) -> None:
        """Driver-side append for tiny tables (e.g. the one-row metrics
        record): plain pyarrow write, no Spark job. The layout is identical
        to ``append`` so ``read_round``/``read_upto`` see one table."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = self.round_dir(table, round_no)
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(d, "part-00000.parquet"))


def iceberg_jar_present(spark_home: str | None = None) -> bool:
    """True when an iceberg-spark-runtime jar is on the Spark classpath —
    the gate for the Iceberg twin below (and its skip-gated test)."""
    import glob

    home = spark_home or os.environ.get("SPARK_HOME", "")
    candidates = []
    if home:
        candidates.append(os.path.join(home, "jars"))
    try:  # pip-installed pyspark keeps jars inside the package
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__),
                                       "jars"))
    except ImportError:
        pass
    return any(
        glob.glob(os.path.join(d, "iceberg-spark-runtime*.jar"))
        for d in candidates if os.path.isdir(d))


@dataclass
class IcebergSnapshotIO:
    """Iceberg-backed twin of ``ParquetSnapshotIO`` — the same seam the
    engine talks to, bound to real Iceberg snapshot semantics
    (``writeTo().append()`` atomic commits, ``round`` identity-partitioned
    tables, a ``_commits`` table as the cross-table round manifest).

    Environment-gated: this sandbox ships no iceberg-spark-runtime jar and
    has no network (verified round 2; documented in the module docstring),
    so the constructor RAISES unless the jar is present — the class is
    proven by tests/test_iceberg_seam.py, which auto-skips without the jar
    and exercises the full append/read/commit/resume contract with it.

    The caller's SparkSession must carry the catalog config (the test shows
    the exact incantation):
        spark.sql.catalog.<cat> = org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.<cat>.type = hadoop
        spark.sql.catalog.<cat>.warehouse = <dir>
    """

    spark: SparkSession
    base: str  # kept for interface parity (warehouse lives in the catalog)
    catalog: str = "local"
    namespace: str = "crawl"

    def __post_init__(self):
        if not iceberg_jar_present():
            raise RuntimeError(
                "IcebergSnapshotIO needs iceberg-spark-runtime on the "
                "classpath; this environment has none — use "
                "ParquetSnapshotIO (same interface, parquet+manifest)")
        self.spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}")

    def _qual(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    # -- manifest (a one-column Iceberg table; committed = max round) --------

    def committed_round(self) -> int:
        # Only the no-commits-table-yet case maps to -1; any other failure
        # (transient catalog/IO error during resume) PROPAGATES — a
        # blanket except here would make such an error indistinguishable
        # from "nothing committed" and silently restart a crawl from
        # round 0 over existing tables (round-7 ADVICE fix).
        if not self.spark.catalog.tableExists(self._qual("_commits")):
            return -1
        row = self.spark.sql(
            f"SELECT max(committed_round) AS r "
            f"FROM {self._qual('_commits')}").head()
        return -1 if row is None or row["r"] is None else int(row["r"])

    def commit_round(self, round_no: int, extra: dict | None = None) -> None:
        import json as _json

        df = self.spark.createDataFrame(
            [(int(round_no), _json.dumps(extra or {}))],
            "committed_round INT, extra STRING")
        t = self._qual("_commits")
        self.spark.sql(f"CREATE TABLE IF NOT EXISTS {t} "
                       f"(committed_round INT, extra STRING) USING iceberg")
        df.writeTo(t).append()  # the atomic snapshot commit

    def manifest(self) -> dict:
        import json as _json

        r = self.committed_round()
        if r < 0:
            return {}
        row = (self.spark.table(self._qual("_commits"))
               .filter(f"committed_round = {r}").head())
        return {"committed_round": r, **_json.loads(row["extra"] or "{}")}

    # -- table append / read --------------------------------------------------

    def append(self, table: str, df: DataFrame, round_no: int) -> None:
        # partition on a PRIVATE column so a caller's own "round" column
        # (http_log/dns_log/results carry one) survives the roundtrip
        # exactly as ParquetSnapshotIO returns it — the exporters select
        # F.col("round") from read_upto output (sources/jsonl.py), so
        # hijacking the name breaks the "same interface" twin claim
        out = df.withColumn("_snap_round", F_lit(int(round_no)))
        t = self._qual(table)
        if not self.spark.catalog.tableExists(t):
            # identity-partition by snapshot round: per-round reads prune
            # to one partition, exactly like the round=N parquet dirs
            out.writeTo(t).partitionedBy(F_col("_snap_round")).create()
        else:
            out.writeTo(t).append()

    def read_round(self, table: str, round_no: int) -> DataFrame:
        return (self.spark.table(self._qual(table))
                .filter(f"_snap_round = {int(round_no)}")
                .drop("_snap_round"))

    def read_upto(self, table: str, round_no: int) -> DataFrame | None:
        t = self._qual(table)
        if not self.spark.catalog.tableExists(t):
            return None
        df = (self.spark.table(t)
              .filter(f"_snap_round <= {int(round_no)}").drop("_snap_round"))
        return df if df.head(1) else None

    def exists(self, table: str, round_no: int) -> bool:
        t = self._qual(table)
        return (self.spark.catalog.tableExists(t)
                and bool(self.spark.table(t)
                         .filter(f"_snap_round = {int(round_no)}").head(1)))

    def append_local(self, table: str, pdf, round_no: int) -> None:
        self.append(table, self.spark.createDataFrame(pdf), round_no)
