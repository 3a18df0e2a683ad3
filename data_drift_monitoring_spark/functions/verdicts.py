"""Severity / recommendation when-chains (SURVEY.md §2.8 F3-F5).

Each function is a Column expression evaluated on the *tiny* aggregated stats
DataFrames — never on raw rows. Threshold provenance is in config.py; the
decision trees mirror:

- missing severity/recommendation: ``missing_values.py:63-69, 99-141``
- duplicate severity/recommendation: ``duplicates.py:146-184``
- outlier recommendation: ``outliers.py:279-322``
- PSI classification: ``README.md:49`` (0.1 / 0.25)
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..config import (
    DUP_LOW_PCT,
    DUP_MAJOR_PCT,
    DUP_MEDIUM_PCT,
    GRADE_BANDS,
    MISSING_ERROR_PCT,
    MISSING_WARN_PCT,
    OUTLIER_CLIP_PCT,
    OUTLIER_LOW_PCT,
    OUTLIER_MEDIUM_PCT,
    PSI_LARGE,
    PSI_MODERATE,
    SKEW_TRANSFORM_THRESHOLD,
)


def missing_severity(pct: Column) -> Column:
    return (
        F.when(pct >= MISSING_ERROR_PCT, "high")
        .when(pct >= MISSING_WARN_PCT, "medium")
        .otherwise("low")
    )


def missing_recommendation(pct: Column, dtype: Column, skewness: Column) -> Column:
    """dtype × pct × skew decision tree (missing_values.py:99-141)."""
    numeric = dtype.isin(
        "tinyint", "smallint", "int", "bigint", "float", "double"
    ) | dtype.startswith("decimal")
    return (
        F.when(pct >= MISSING_ERROR_PCT, "drop_column")
        .when(
            numeric,
            F.when(
                F.abs(F.coalesce(skewness, F.lit(0.0)))
                > SKEW_TRANSFORM_THRESHOLD,
                "impute_median",
            ).otherwise("impute_mean"),
        )
        .when(dtype == "string", "impute_mode")
        .when(dtype == "boolean", "impute_mode")
        .when(dtype.startswith("timestamp") | (dtype == "date"), "forward_fill")
        .otherwise("investigate")
    )


def duplicate_severity(pct: Column) -> Column:
    return (
        F.when(pct == 0, "none")
        .when(pct < DUP_LOW_PCT, "low")
        .when(pct < DUP_MEDIUM_PCT, "medium")
        .otherwise("high")
    )


def duplicate_recommendation(pct: Column) -> Column:
    return (
        F.when(pct == 0, "no_action")
        .when(pct < DUP_LOW_PCT, "keep_first")
        .when(pct < DUP_MEDIUM_PCT, "review_and_remove")
        .when(pct < DUP_MAJOR_PCT, "investigate_cause")
        .otherwise("major_issue_investigate")
    )


def outlier_recommendation(pct: Column, skewness: Column) -> Column:
    return (
        F.when(pct == 0, "no_action")
        .when(pct < OUTLIER_LOW_PCT, "investigate")
        .when(
            pct < OUTLIER_MEDIUM_PCT,
            F.when(
                F.abs(F.coalesce(skewness, F.lit(0.0)))
                > SKEW_TRANSFORM_THRESHOLD,
                "transform_log",
            ).otherwise("winsorize"),
        )
        .when(pct < OUTLIER_CLIP_PCT, "clip_bounds")
        .otherwise("investigate_data_quality")
    )


def psi_classification(psi: Column) -> Column:
    """README.md:49: <0.1 no drift, 0.1-0.25 moderate, >0.25 large."""
    return (
        F.when(psi < PSI_MODERATE, "none")
        .when(psi < PSI_LARGE, "moderate")
        .otherwise("large")
    )


def grade(score: Column) -> Column:
    """Score → letter grade (quality_scorer.py:145-166)."""
    (cut, name), *rest = GRADE_BANDS
    chain = F.when(score >= cut, name)
    for cut, name in rest:
        chain = chain.when(score >= cut, name)
    return chain.otherwise("Critical")
