"""Table IO with versioned snapshots.

The reference treats a dataset as one file and a baseline as a copied file +
JSON sidecar with version ids ``baseline_v{n}_{yyyymmdd}``
(``versioning.py:34-116``). The engine's primary target is an Iceberg
catalog table (snapshot ids give time travel / lineage pins for free); the
sandbox has no Iceberg runtime jar, so ``TableIO`` abstracts the catalog:

- ``IcebergTableIO`` (used when ``spark.sql.catalog.*`` is configured):
  ``spark.read.format("iceberg")`` + ``option("snapshot-id", ...)``,
  ``df.writeTo(tbl).append()``.
- ``ParquetTableIO`` (default here): a directory per table, a subdirectory
  per version ``v{n}_{yyyymmdd_HHMMSS}`` mirroring versioning.py's naming,
  and the directory name as the snapshot id. Semantics (pin a snapshot,
  list versions, read latest) are identical, so every engine feature is
  testable offline and swaps to Iceberg by configuration only.

Versioned snapshots and appended DataFrames are written, and every table is
read into a DataFrame, through Spark's parquet source → predicate pushdown,
column pruning and min/max file skipping apply (SURVEY.md §4.2). Rows the
driver already holds (manifest, verdict, score and service sidecar rows)
are appended as an Arrow table instead: ``pyarrow.parquet`` writes one file
into the same ``data/`` directory, with no Spark job, and Spark reads it
with the rest, under the union of every file's columns. Small appended
tables (the manifest) are also read on the driver with pyarrow
(``read_appended_arrow``).
"""

from __future__ import annotations

import os
import re
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import StructType

from ..session import local_frame

_VERSION_RE = re.compile(r"^v(\d+)_(\d{8}_\d{6})$")


class ParquetTableIO:
    """Directory-versioned parquet tables (Iceberg-shaped API)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def list_snapshots(self, table: str) -> list[str]:
        d = self._table_dir(table)
        if not os.path.isdir(d):
            return []
        versions = [v for v in os.listdir(d) if _VERSION_RE.match(v)]
        return sorted(versions, key=lambda v: int(_VERSION_RE.match(v).group(1)))

    def latest_snapshot(self, table: str) -> str | None:
        snaps = self.list_snapshots(table)
        return snaps[-1] if snaps else None

    def write(
        self,
        df: DataFrame,
        table: str,
        mode: str = "append-version",
        partition_by: list[str] | None = None,
        now: datetime | None = None,
    ) -> str:
        """Write a new snapshot; returns its id. ``now`` is injectable for
        deterministic tests (the reference bakes now() into report ids —
        quality_check.py:93-100 — we make it a parameter, SURVEY.md §7.4.6).
        """
        snaps = self.list_snapshots(table)
        n = int(_VERSION_RE.match(snaps[-1]).group(1)) + 1 if snaps else 1
        ts = (now or datetime.now(timezone.utc)).strftime("%Y%m%d_%H%M%S")
        snap_id = f"v{n}_{ts}"
        path = os.path.join(self._table_dir(table), snap_id)
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        return snap_id

    def read(self, table: str, snapshot_id: str | None = None) -> DataFrame:
        snap = snapshot_id or self.latest_snapshot(table)
        if snap is None:
            raise FileNotFoundError(f"table {table} has no snapshots")
        return self.spark.read.parquet(
            os.path.join(self._table_dir(table), snap)
        )

    def append(self, rows: DataFrame | pa.Table, table: str) -> None:
        """Un-versioned append (results / violations / manifest tables). A
        DataFrame is a Spark write. An Arrow table is one parquet file,
        written under a ``.``-prefixed name that both Spark and pyarrow
        skip, then renamed into place: a crash mid-write leaves no file
        that a reader sees."""
        d = os.path.join(self._table_dir(table), "data")
        if isinstance(rows, DataFrame):
            rows.write.mode("append").parquet(d)
            return
        os.makedirs(d, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        pq.write_table(rows, os.path.join(d, "." + name))
        os.replace(os.path.join(d, "." + name), os.path.join(d, name))

    def read_appended(self, table: str) -> DataFrame:
        """Every appended row, under the union of the files' columns:
        appends may add a column (``attempt_id`` did), and without
        ``mergeSchema`` Spark takes the schema of the file it lists first,
        so an older file would hide the new column."""
        return self.spark.read.option("mergeSchema", "true").parquet(
            os.path.join(self._table_dir(table), "data")
        )

    def read_appended_arrow(self, table: str, schema: StructType) -> pa.Table:
        """The appended rows as an Arrow table on the driver, with no Spark
        job; a column of ``schema`` that a file lacks reads as NULL."""
        fields = to_arrow_schema(schema)
        return pq.read_table(
            os.path.join(self._table_dir(table), "data"),
            schema=pa.schema([f.with_nullable(True) for f in fields]),
        )

    def exists(self, table: str) -> bool:
        """True if the table has any versioned snapshot OR appended data
        (a ``.``-prefixed file is an unfinished write, not data)."""
        if self.list_snapshots(table):
            return True
        d = os.path.join(self._table_dir(table), "data")
        return os.path.isdir(d) and any(
            f.endswith(".parquet") and not f.startswith(".")
            for f in os.listdir(d)
        )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed managed table — Spark native bucketing, the
    parquet-catalog analogue of Iceberg's ``bucket(N, col)`` partition
    transform. Two tables bucketed on the same (column, N) equi-join with
    ZERO exchanges: each bucket file pair is joined in place, which is
    the co-located join the uniqueness/token-equality pass relies on at
    10^12 rows (operators/invariants.py). An aggregation grouped on a
    superset of the bucket column likewise needs no exchange
    (HashPartitioning(col) satisfies the clustering)."""
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    w.saveAsTable(table)


class IcebergTableIO:
    """Thin adapter for a configured Iceberg catalog (not exercisable in the
    sandbox — no runtime jar; kept interface-compatible with ParquetTableIO
    so the pipeline swaps by config)."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str):
        self.spark = spark
        self.prefix = f"{catalog}.{namespace}"

    def read(self, table: str, snapshot_id: str | None = None) -> DataFrame:
        reader = self.spark.read.format("iceberg")
        if snapshot_id:
            reader = reader.option("snapshot-id", snapshot_id)
        return reader.load(f"{self.prefix}.{table}")

    def write(self, df: DataFrame, table: str, **_) -> str:
        df.writeTo(f"{self.prefix}.{table}").createOrReplace()
        hist = self.spark.sql(
            f"SELECT snapshot_id FROM {self.prefix}.{table}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return str(hist[0][0]) if hist else "unknown"

    def append(self, rows: DataFrame | pa.Table, table: str) -> None:
        """Append the columns the table has: a column the rows add (such as
        ``attempt_id`` on a table created before it) is left off until the
        table's schema is evolved to hold it."""
        if isinstance(rows, pa.Table):
            rows = local_frame(self.spark, rows, from_arrow_schema(rows.schema))
        have = set(self.read(table).columns)
        rows.select(*[c for c in rows.columns if c in have]).writeTo(
            f"{self.prefix}.{table}"
        ).append()

    def read_appended(self, table: str) -> DataFrame:
        return self.read(table)

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(f"{self.prefix}.{table}")

    def read_appended_arrow(self, table: str, schema: StructType) -> pa.Table:
        """A column of ``schema`` that the table lacks reads as NULL."""
        df = self.read_appended(table)
        return df.select(
            *[
                F.col(f.name) if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema
            ]
        ).toArrow()
