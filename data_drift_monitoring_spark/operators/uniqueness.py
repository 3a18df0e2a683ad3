"""Uniqueness / duplicate detection — hash-partitioned distinct counts.

Reference semantics (``backend/app/core/quality/duplicates.py``):
- duplicate rows = rows whose full tuple occurs more than once
  (``duplicated(keep=False).sum()``, :47-50)
- duplicate groups = distinct duplicated tuples (:52-56)
- key-column variant (:125-144), sample groups capped 5x3 (:92-123).

Spark shape: ``groupBy(keys).count()`` — one shuffle on the key hash; the
partial aggregate collapses most of the volume map-side, and
``rollup_key_groups`` sums the group sizes per partition (also under the
shared-shuffle ``invariants.uniqueness_and_token_equality``). The counts
are exact; ``sequence_stats``' ``approx_count_distinct`` is only reported.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..config import SAMPLE_DUP_GROUPS, SAMPLE_ROWS_PER_GROUP


def duplicate_stats(
    df: DataFrame,
    keys: list[str] | None = None,
    partition_col: str = "part_id",
    ignore_null_keys: bool = False,
) -> DataFrame:
    """Per-partition duplicate counts on ``keys`` (default: all data columns
    = full-row duplicates, duplicates.py:47-56 semantics).

    ``ignore_null_keys`` drops rows with any null key first — for
    key-uniqueness checks (e.g. doc_id) null keys are a *missing-value*
    violation, not a duplicate group (pandas ``duplicated`` treats NaNs as
    equal, so the reference would conflate them; we separate the concerns).

    Output: part_id, n_rows, duplicate_rows (rows in groups of size>1),
    duplicate_groups, duplicate_pct, unique_keys.
    """
    keys = keys or [c for c in df.columns if c != partition_col]
    if ignore_null_keys:
        for k in keys:
            df = df.filter(F.col(k).isNotNull())
    grouped = df.groupBy(partition_col, *keys).agg(
        F.count(F.lit(1)).alias("_n")
    )
    return rollup_key_groups(grouped, partition_col)


def rollup_key_groups(
    per_key: DataFrame, partition_col: str, *extra: Column
) -> DataFrame:
    """Per-partition totals of per-(partition, key) group sizes ``_n`` —
    the ``duplicate_stats`` columns, then the ``extra`` aggregates."""
    return per_key.groupBy(partition_col).agg(
        F.sum("_n").alias("n_rows"),
        F.sum(F.when(F.col("_n") > 1, F.col("_n")).otherwise(0)).alias(
            "duplicate_rows"
        ),
        F.sum((F.col("_n") > 1).cast("long")).alias("duplicate_groups"),
        F.round(
            F.sum(F.when(F.col("_n") > 1, F.col("_n")).otherwise(0))
            / F.sum("_n")
            * 100,
            2,
        ).alias("duplicate_pct"),
        F.count(F.lit(1)).alias("unique_keys"),
        *extra,
    )


def duplicate_violations(df: DataFrame, keys: list[str]) -> DataFrame:
    """Violation rows: every row belonging to a duplicated key group, tagged
    with its group size and occurrence rank. The rank uses an explicit
    deterministic order (the reference's ``keep='first'`` at
    duplicates.py:206-232 relies on pandas row order, which Spark does not
    have — SURVEY.md §7.4.3), so occurrence==1 is the canonical keeper.
    """
    w = Window.partitionBy(*keys)
    order_cols = [c for c in df.columns if c not in keys] or keys
    wo = w.orderBy(*[F.col(c).asc_nulls_last() for c in order_cols])
    return (
        df.withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("occurrence", F.row_number().over(wo))
        .filter(F.col("group_size") > 1)
        .withColumn("check", F.lit("uniqueness"))
    )


def sample_duplicate_groups(df: DataFrame, keys: list[str]) -> DataFrame:
    """Reference's capped duplicate samples (duplicates.py:92-123: ≤5 groups,
    ≤3 rows each) as a single aggregation — no driver iteration.
    """
    other = [c for c in df.columns if c not in keys]
    grouped = (
        df.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.slice(
                F.sort_array(F.collect_list(F.struct(*[F.col(c) for c in other]))),
                1,
                SAMPLE_ROWS_PER_GROUP,
            ).alias("sample_rows"),
        )
        .filter(F.col("group_size") > 1)
    )
    return grouped.orderBy(
        F.desc("group_size"), *[F.col(k).asc_nulls_last() for k in keys]
    ).limit(SAMPLE_DUP_GROUPS)


def dedup_exact(
    df: DataFrame,
    keys: list[str],
    order_by: list[str] | None = None,
) -> DataFrame:
    """Deterministic keep-first dedup (duplicates.py:206-232). With
    ``order_by`` uses row_number over an explicit order; without, falls back
    to ``dropDuplicates`` (any representative — order-free, which is the only
    well-defined notion distributed)."""
    if not order_by:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc_nulls_last() for c in order_by]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
