"""init_reference — build and persist the reference snapshot.

Equivalent of ``scripts/init_baseline.py:18-105`` (read → validate →
compute metadata → persist versioned baseline), except the persisted
artifact is not a file copy + JSON sidecar but a *reference-stats table*
sized to broadcast: per-value histogram of ``n_tok``, category counts of
``source``, and scalar summary rows — everything drift checks need without
ever re-reading the reference data (versioning.py:271-364 compares metadata,
not raw rows; we keep that design because it is the scalable one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.histogram import categorical_counts, value_histogram
from ..sources.tables import ParquetTableIO

REF_STATS_TABLE = "ref_stats"
REF_SEQUENCES_TABLE = "ref_sequences"
REF_DIGESTS_TABLE = "ref_digests"


def build_ref_stats(ref_df: DataFrame) -> DataFrame:
    """Global (not per-partition) histograms of the reference snapshot:
    (col, bin, cnt). One aggregate pass over the reference table."""
    n_tok_hist = value_histogram(ref_df, "n_tok", partition_col=None)
    source_hist = categorical_counts(ref_df, "source", partition_col=None)
    return n_tok_hist.unionByName(source_hist)


def init_reference(
    spark: SparkSession,
    io: ParquetTableIO,
    ref_df: DataFrame,
    persist_sequences: bool = True,
    now=None,
) -> str:
    """Compute and persist the reference snapshot; returns its snapshot id.
    ``persist_sequences`` also writes ``REF_SEQUENCES_TABLE``, a versioned
    copy of the raw reference table kept as the snapshot's baseline; no
    engine path reads it (the verdicts and the violation export need only
    the digests)."""
    stats = build_ref_stats(ref_df)
    snap_id = io.write(stats, REF_STATS_TABLE, now=now)
    from ..operators.invariants import token_digests

    # (doc_id, tok_digest) — the compact artifact the per-row equality
    # invariant joins against; ~12 bytes/row instead of the full arrays
    io.write(token_digests(ref_df), REF_DIGESTS_TABLE, now=now)
    if persist_sequences:
        io.write(ref_df, REF_SEQUENCES_TABLE, now=now)
    return snap_id


def load_ref_stats(
    io: ParquetTableIO, snapshot_id: str | None = None
) -> DataFrame:
    return io.read(REF_STATS_TABLE, snapshot_id)


def load_ref_digests(
    io: ParquetTableIO, snapshot_id: str | None = None
) -> DataFrame:
    return io.read(REF_DIGESTS_TABLE, snapshot_id)
