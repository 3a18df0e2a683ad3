"""Resumable per-partition manifests with lineage (north_rule).

The reference's analogue is the baseline metadata sidecar
(``versioning.py:57-116, 366-390``) — a JSON blob per dataset version. The
distributed generalization is a manifest TABLE with one row per
(run_id, part_id): status, input snapshot id, a stats digest (16-hex-char
SHA-256 prefix, mirroring ``file_handler.py:83-100``'s digest convention)
and start/finish timestamps.

Resume = an anti-join: partitions of the input whose (run_id, part_id)
already has a ``done`` manifest row are pruned BEFORE the scan via a
partition-column filter, so completed work is never re-read (partition
pruning, not post-filtering).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schema import MANIFEST_SCHEMA
from ..session import local_frame
from .tables import ParquetTableIO

MANIFEST_TABLE = "_manifest"


def completed_partitions(
    io: ParquetTableIO, run_id: str
) -> list[int]:
    """Partition ids already finished for this run (driver-side — the
    manifest has one row per partition, thousands at most: no shuffle)."""
    if not io.exists(MANIFEST_TABLE):
        return []
    m = io.read_appended(MANIFEST_TABLE)
    rows = (
        m.filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
        .select("part_id")
        .collect()
    )
    return sorted({r["part_id"] for r in rows})


def prune_completed(
    df: DataFrame, io: ParquetTableIO, run_id: str
) -> tuple[DataFrame, list[int]]:
    """Filter out already-done partitions. The predicate is on the partition
    column, so with a partitioned layout Catalyst prunes whole files/
    partitions at scan time (no data read for completed work)."""
    done = completed_partitions(io, run_id)
    if not done:
        return df, []
    return df.filter(~F.col("part_id").isin(done)), done


def record_partitions(
    spark: SparkSession,
    io: ParquetTableIO,
    run_id: str,
    part_ids: list[int],
    status: str,
    snapshot_id: str | None = None,
    digests: dict[int, str] | None = None,
    started_at: str | None = None,
    now: datetime | None = None,
) -> None:
    ts = (now or datetime.now(timezone.utc)).isoformat()
    rows = [
        (
            run_id,
            int(p),
            snapshot_id,
            (digests or {}).get(p),
            status,
            started_at or ts,
            ts if status == "done" else None,
        )
        for p in part_ids
    ]
    io.append(local_frame(spark, rows, MANIFEST_SCHEMA), MANIFEST_TABLE)


def stats_digests(verdicts: DataFrame, partition_col: str = "part_id") -> dict[int, str]:
    """16-hex-char SHA-256 digest of each partition's verdict rows
    (file_handler.py:83-100's truncation convention) — the idempotency
    witness: identical input partition → identical digest across runs."""
    # run_id is per-invocation identity, not content — excluding it is what
    # makes the digest an idempotency witness across runs
    cols = sorted(
        c for c in verdicts.columns if c not in (partition_col, "run_id")
    )
    digest = F.substring(
        F.sha2(
            F.concat_ws(
                "|",
                *[F.coalesce(F.col(c).cast("string"), F.lit("∅")) for c in cols],
            ),
            256,
        ),
        1,
        16,
    )
    rows = (
        verdicts.select(F.col(partition_col), digest.alias("d"))
        .groupBy(partition_col)
        .agg(F.sha2(F.concat_ws("|", F.sort_array(F.collect_list("d"))), 256).alias("pd"))
        .select(partition_col, F.substring("pd", 1, 16).alias("pd"))
        .collect()
    )
    return {r[partition_col]: r["pd"] for r in rows}
