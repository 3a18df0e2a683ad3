"""Outlier detection — IQR and z-score, two-pass distributed shape.

Reference: ``backend/app/core/quality/outliers.py`` — per-column Python loop
(:69-73) computing Q1/Q3 (:189-190), bounds Q1±1.5·IQR (:193-194), z-scores
|x-μ|/σ > 3 (:227-228) with a σ=0 guard (:220-225), union of both masks
(:125-131), and clip/remove remediations (:356-396).

Spark shape: pass 1 = the stats wide-agg (bounds for ALL columns at once,
already computed in ``stats.column_profile``); pass 2 = a single filter pass
with the per-partition bounds joined back (broadcast — the bounds table has
one row per (partition, column)). No per-column scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import IQR_MULTIPLIER, Z_SCORE_THRESHOLD
from .stats import _is_numeric, column_profile


def outlier_bounds(profile: DataFrame) -> DataFrame:
    """Derive IQR and z-score bounds from a ``column_profile`` result.
    Pure arithmetic on the tiny stats DF (outliers.py:189-196, 227-228)."""
    iqr = F.col("q3") - F.col("q1")
    sd_ok = F.col("stddev").isNotNull() & (F.col("stddev") > 0)
    return profile.filter(F.col("q1").isNotNull()).select(
        "part_id",
        "column",
        (F.col("q1") - IQR_MULTIPLIER * iqr).alias("iqr_lo"),
        (F.col("q3") + IQR_MULTIPLIER * iqr).alias("iqr_hi"),
        # σ=0 guard (outliers.py:220-225): degenerate bounds that never fire
        F.when(sd_ok, F.col("mean") - Z_SCORE_THRESHOLD * F.col("stddev"))
        .otherwise(F.col("min"))
        .alias("z_lo"),
        F.when(sd_ok, F.col("mean") + Z_SCORE_THRESHOLD * F.col("stddev"))
        .otherwise(F.col("max"))
        .alias("z_hi"),
        "skewness",
    )


def outlier_stats(
    df: DataFrame,
    columns: list[str] | None = None,
    partition_col: str = "part_id",
    profile: DataFrame | None = None,
    exact_quantiles: bool = False,
) -> DataFrame:
    """Per-(partition, column) outlier counts via both methods and their
    union (outliers.py:125-131). Two jobs total for ALL columns.

    Output: part_id, column, n_values, iqr_outliers, z_outliers,
    outlier_count (union), outlier_pct, iqr_lo/iqr_hi, skewness.
    """
    dtypes = dict(df.dtypes)
    cols = columns or [
        c for c in df.columns if c != partition_col and _is_numeric(dtypes[c])
    ]
    if profile is None:
        profile = column_profile(
            df, partition_col, cols, exact_quantiles=exact_quantiles
        )
    bounds = outlier_bounds(profile)

    # pass 2: one scan, counting per column against broadcast bounds.
    # Rather than a join per column, pivot bounds to a per-partition map and
    # evaluate all predicates in one projection.
    b = bounds.groupBy("part_id").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    "column",
                    F.struct("iqr_lo", "iqr_hi", "z_lo", "z_hi"),
                )
            )
        ).alias("_b")
    )
    joined = df.join(F.broadcast(b), on="part_id", how="inner")

    aggs = []
    for c in cols:
        v = F.col(c).cast("double")
        lim = F.col("_b")[c]
        iqr_out = v.isNotNull() & ((v < lim["iqr_lo"]) | (v > lim["iqr_hi"]))
        z_out = v.isNotNull() & ((v < lim["z_lo"]) | (v > lim["z_hi"]))
        aggs += [
            F.sum(v.isNotNull().cast("long")).alias(f"nv_{c}"),
            F.sum(iqr_out.cast("long")).alias(f"io_{c}"),
            F.sum(z_out.cast("long")).alias(f"zo_{c}"),
            F.sum((iqr_out | z_out).cast("long")).alias(f"uo_{c}"),
        ]
    wide = joined.groupBy(partition_col).agg(*aggs)

    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"nv_{c}").alias("n_values"),
            F.col(f"io_{c}").alias("iqr_outliers"),
            F.col(f"zo_{c}").alias("z_outliers"),
            F.col(f"uo_{c}").alias("outlier_count"),
            F.round(
                F.when(F.col(f"nv_{c}") > 0, F.col(f"uo_{c}") / F.col(f"nv_{c}") * 100)
                .otherwise(0.0),
                2,
            ).alias("outlier_pct"),
        )
        for c in cols
    ]
    long = wide.select(
        partition_col, F.explode(F.array(*structs)).alias("s")
    ).select(partition_col, "s.*")
    return long.join(
        bounds.select("part_id", "column", "iqr_lo", "iqr_hi", "skewness"),
        on=["part_id", "column"],
        how="left",
    )


def outlier_violations(
    df: DataFrame,
    column: str,
    bounds: DataFrame,
    partition_col: str = "part_id",
    limit_per_partition: int | None = None,
) -> DataFrame:
    """Violation rows for one column (P3): rows outside the partition's IQR
    bounds, tagged. ``limit_per_partition`` caps export volume at scale."""
    b = bounds.filter(F.col("column") == column).select(
        partition_col, "iqr_lo", "iqr_hi"
    )
    v = F.col(column).cast("double")
    out = (
        df.join(F.broadcast(b), on=partition_col)
        .filter(v.isNotNull() & ((v < F.col("iqr_lo")) | (v > F.col("iqr_hi"))))
        .withColumn("check", F.lit("outlier"))
        .withColumn("violating_column", F.lit(column))
    )
    if limit_per_partition:
        from pyspark.sql import Window

        w = Window.partitionBy(partition_col).orderBy(F.desc(F.abs(v)))
        out = (
            out.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= limit_per_partition)
            .drop("_rk")
        )
    return out


def clip_outliers(df: DataFrame, column: str, lo, hi) -> DataFrame:
    """Winsorize (outliers.py:376-396): greatest/least clamp, pure codegen.
    Nulls pass through unchanged (Spark's greatest/least SKIP nulls — unlike
    pandas clip which preserves NaN — so the null case is explicit).

    ``lo``/``hi`` accept floats or Columns (``F.lit`` passes Columns
    through), so data-derived bounds can ride along as broadcast columns
    instead of a driver round-trip."""
    v = F.col(column)
    return df.withColumn(
        column,
        F.when(v.isNull(), v).otherwise(
            F.greatest(F.lit(lo), F.least(F.lit(hi), v))
        ),
    )


def remove_outliers(df: DataFrame, column: str, lo: float, hi: float) -> DataFrame:
    """Drop out-of-bounds rows (outliers.py:356-374); nulls are kept,
    matching the reference's mask-on-non-null behavior."""
    v = F.col(column)
    return df.filter(v.isNull() | ((v >= lo) & (v <= hi)))
