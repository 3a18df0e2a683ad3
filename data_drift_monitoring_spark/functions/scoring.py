"""Weighted quality score (quality_scorer.py:46-122) as column arithmetic.

component scores (0-100, each "100 = clean"):
  missing_score   = max(0, 100 - overall_missing_pct)        (:62-64)
  duplicate_score = max(0, 100 - duplicate_pct)              (:66-68)
  outlier_score   = max(0, 100 - min(outlier_pct, 100))      (:70-72)
  schema_score    = (cols - inconsistencies)/cols * 100       (:124-143)
weights 30/25/25/20 (:19-44);
overall = Σ scoreᵢ·wᵢ/100, rounded 2dp (:80-88); quick score variant
``100 - (miss_pct*0.3 + dup_pct*0.7)`` (quality_check.py:282).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..config import DUPLICATE_WEIGHT, MISSING_WEIGHT, OUTLIER_WEIGHT, SCHEMA_WEIGHT


def component_scores(
    missing_pct: Column,
    duplicate_pct: Column,
    outlier_pct: Column,
    schema_score: Column | None = None,
) -> dict[str, Column]:
    hundred = F.lit(100.0)
    return {
        "missing_score": F.greatest(F.lit(0.0), hundred - missing_pct),
        "duplicate_score": F.greatest(F.lit(0.0), hundred - duplicate_pct),
        "outlier_score": F.greatest(
            F.lit(0.0), hundred - F.least(outlier_pct, hundred)
        ),
        "schema_score": schema_score
        if schema_score is not None
        else F.lit(100.0),
    }


def overall_score(
    missing_pct: Column,
    duplicate_pct: Column,
    outlier_pct: Column,
    schema_score: Column | None = None,
) -> Column:
    s = component_scores(missing_pct, duplicate_pct, outlier_pct, schema_score)
    return F.round(
        s["missing_score"] * MISSING_WEIGHT / 100
        + s["duplicate_score"] * DUPLICATE_WEIGHT / 100
        + s["outlier_score"] * OUTLIER_WEIGHT / 100
        + s["schema_score"] * SCHEMA_WEIGHT / 100,
        2,
    )


def quick_score(missing_pct: Column, duplicate_pct: Column) -> Column:
    """quality_check.py:282 fast path."""
    return F.greatest(
        F.lit(0.0),
        F.round(F.lit(100.0) - (missing_pct * 0.3 + duplicate_pct * 0.7), 2),
    )

