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
pruning, not post-filtering). The manifest is small and driver-written, so
the resume check reads it on the driver (``read_appended_arrow``), with no
Spark job.

Commit marker: each pass attempt has an ``attempt_id``, written on every
manifest, result, score and violation row it appends, and its ``done``
rows are written last, in one file. An attempt that died before them left
rows no reader keeps (``committed``), and its parts are not done, so the
resume recomputes them under a new attempt id: a crash never duplicates a
run's results.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schema import MANIFEST_SCHEMA
from ..session import arrow_rows
from .tables import ParquetTableIO

MANIFEST_TABLE = "_manifest"


def _done_rows(io: ParquetTableIO, run_id: str | None):
    """The ``done`` manifest rows (of ``run_id``, or of every run), as an
    Arrow table read on the driver; None when there is no manifest."""
    if not io.exists(MANIFEST_TABLE):
        return None
    m = io.read_appended_arrow(MANIFEST_TABLE, MANIFEST_SCHEMA)
    keep = pc.equal(m["status"], "done")
    if run_id is not None:
        keep = pc.and_(keep, pc.equal(m["run_id"], run_id))
    return m.filter(keep)


def completed_partitions(
    io: ParquetTableIO, run_id: str
) -> list[int]:
    """Partition ids already finished for this run (driver-side — the
    manifest has one row per partition, thousands at most)."""
    done = _done_rows(io, run_id)
    return [] if done is None else sorted(set(done["part_id"].to_pylist()))


def committed(
    io: ParquetTableIO, rows: DataFrame, run_id: str | None = None
) -> DataFrame:
    """The ``rows`` of a results, score or violations table (of ``run_id``,
    or of every run) that a committed pass attempt appended: one with a
    ``done`` manifest row. Rows with no attempt id come from a writer that
    does not tag them, and are kept; so ``rows`` must show the column of
    every file (``read_appended`` merges the files' schemas)."""
    if run_id is not None:
        rows = rows.filter(F.col("run_id") == run_id)
    if "attempt_id" not in rows.columns:
        return rows
    done = _done_rows(io, run_id)
    ids = [] if done is None else sorted(
        set(done["attempt_id"].drop_null().to_pylist())
    )
    return rows.filter(F.col("attempt_id").isNull() | F.col("attempt_id").isin(ids))


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
    attempt_id: str | None = None,
) -> None:
    """Append one manifest row per part, as one Arrow file (``io`` writes
    it; ``spark`` is not needed)."""
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
            attempt_id,
        )
        for p in part_ids
    ]
    io.append(arrow_rows(rows, MANIFEST_SCHEMA), MANIFEST_TABLE)


def stats_digests(verdicts: DataFrame, partition_col: str = "part_id") -> dict[int, str]:
    """16-hex-char SHA-256 digest of each partition's verdict rows
    (file_handler.py:83-100's truncation convention) — the idempotency
    witness: identical input partition → identical digest across runs."""
    # run_id and attempt_id are per-invocation identity, not content —
    # excluding them is what makes the digest an idempotency witness
    cols = sorted(
        c for c in verdicts.columns
        if c not in (partition_col, "run_id", "attempt_id")
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
