"""Histogram aggregates (A21) and skew-safe categorical counts.

The reference's drift modules are 0-byte stubs; the semantics come from
``README.md:49`` ("compare bin distributions"). Distributed shape:

- numeric: fixed-edge binning ``floor((x - lo)/width)`` clamped to
  [0, bins-1] — the edges are decided ONCE from the reference snapshot so
  current and reference histograms are bin-compatible, then binning is a
  pure projection followed by a count aggregate.
- categorical: a direct ``groupBy(value).count()`` hot-keys on skewed values
  (70% "web" at target scale), so the engine uses salted TWO-LEVEL
  aggregation: groupBy(value, salt) → partial counts → groupBy(value) sum.
  (Catalyst's partial aggregation usually already absorbs this; the explicit
  salt guards the worst case where per-map-task key cardinality is tiny but
  reduce-side key volume is huge — north_rule mandates it explicitly.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import SKEW_SALT_BUCKETS, TOPK_VALUES


def numeric_histogram(
    df: DataFrame,
    column: str,
    lo: float,
    hi: float,
    bins: int,
    partition_col: str | None = "part_id",
) -> DataFrame:
    """Per-partition fixed-edge histogram: (part_id?, col, bin, cnt).

    ``bin`` is a zero-padded string so lexicographic order == numeric order
    (lets bins for numeric and categorical columns share one schema).
    Values outside [lo, hi) clamp into the edge bins (standard PSI practice:
    edge bins are open-ended).
    """
    width = (hi - lo) / bins
    raw = F.floor((F.col(column).cast("double") - F.lit(lo)) / F.lit(width))
    b = F.least(F.lit(bins - 1), F.greatest(F.lit(0), raw)).cast("int")
    keys = [partition_col] if partition_col else []
    return (
        df.filter(F.col(column).isNotNull())
        .select(*keys, F.lpad(b.cast("string"), 6, "0").alias("bin"))
        .groupBy(*keys, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("col", F.lit(column))
        .select(*keys, "col", "bin", "cnt")
    )


def categorical_counts(
    df: DataFrame,
    column: str,
    partition_col: str | None = "part_id",
    salted: bool = True,
) -> DataFrame:
    """Per-partition category counts: (part_id?, col, bin, cnt) with bin =
    the category value. Salted two-level aggregation for skewed keys."""
    keys = [partition_col] if partition_col else []
    base = df.filter(F.col(column).isNotNull()).select(
        *keys, F.col(column).cast("string").alias("bin")
    )
    if salted:
        salt = F.pmod(
            F.xxhash64(F.monotonically_increasing_id()),
            F.lit(SKEW_SALT_BUCKETS),
        ).alias("_salt")
        partial = base.select(*keys, "bin", salt).groupBy(
            *keys, "bin", "_salt"
        ).agg(F.count(F.lit(1)).alias("_pc"))
        counted = partial.groupBy(*keys, "bin").agg(F.sum("_pc").alias("cnt"))
    else:
        counted = base.groupBy(*keys, "bin").agg(
            F.count(F.lit(1)).alias("cnt")
        )
    return counted.withColumn("col", F.lit(column)).select(
        *keys, "col", "bin", "cnt"
    )


def value_histogram(
    df: DataFrame,
    column: str,
    partition_col: str | None = "part_id",
) -> DataFrame:
    """Exact per-value histogram for bounded int columns (n_tok ∈ [1, 2048]):
    per-value bins make the downstream KS statistic EXACT, not approximate
    (SURVEY.md §7.4.4). Bin = zero-padded value string."""
    keys = [partition_col] if partition_col else []
    return (
        df.filter(F.col(column).isNotNull())
        .select(
            *keys,
            F.lpad(F.col(column).cast("long").cast("string"), 6, "0").alias(
                "bin"
            ),
        )
        .groupBy(*keys, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("col", F.lit(column))
        .select(*keys, "col", "bin", "cnt")
    )


def top_k_values(
    df: DataFrame,
    column: str,
    k: int = TOPK_VALUES,
) -> DataFrame:
    """Top-k value counts (A13, file_handler.py:307): global aggregate then
    TakeOrdered top-k; ties broken by value for determinism."""
    return (
        df.groupBy(F.col(column).alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc_nulls_last("value"))
        .limit(k)
    )
