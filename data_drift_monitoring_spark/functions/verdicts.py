"""Verdict policy: severity, recommendation, drift flags and grade (SURVEY.md
§2.8 F3-F5), as plain Python over the floats and counts of the aggregated
stats — the only copy of these rules. The pipeline, the drift operators and
the service all call them on the driver. Threshold provenance is in
config.py; the decision trees mirror:

- missing severity/recommendation: ``missing_values.py:63-69, 99-141``
- duplicate severity/recommendation: ``duplicates.py:146-184``
- outlier severity/recommendation: ``outliers.py:279-322``
- PSI classification: ``README.md:49`` (0.1 / 0.25)
- grade: ``quality_scorer.py:145-166``

A comparison with NaN is false, so a NaN PSI classifies as ``large`` and a
NaN p-value is not significant, as in the Spark SQL chains these replace.
"""

from __future__ import annotations

from ..config import (
    CHI2_ALPHA,
    DUP_LOW_PCT,
    DUP_MAJOR_PCT,
    DUP_MEDIUM_PCT,
    GRADE_BANDS,
    KS_ALPHA,
    MISSING_ERROR_PCT,
    MISSING_WARN_PCT,
    OUTLIER_CLIP_PCT,
    OUTLIER_LOW_PCT,
    OUTLIER_MEDIUM_PCT,
    PSI_LARGE,
    PSI_MODERATE,
    SKEW_TRANSFORM_THRESHOLD,
)

_NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double")


def _banded(pct: float, low: float, high: float) -> str:
    """0 → none, then low / medium / high below ``low``, below ``high``,
    else."""
    if pct == 0:
        return "none"
    return "low" if pct < low else "medium" if pct < high else "high"


def missing_severity(pct: float) -> str:
    """Missing-value severity of a verdict row and of a report column; below
    the warning band it reads ``low``, so a column whose null share rounds
    to 0 but has nulls still lands in a severity bucket."""
    if pct >= MISSING_ERROR_PCT:
        return "high"
    return "medium" if pct >= MISSING_WARN_PCT else "low"


def missing_recommendation(
    pct: float, dtype: str, skewness: float | None
) -> str:
    """dtype × pct × skew decision tree (missing_values.py:99-141)."""
    if pct == 0:
        return "no_action"
    if pct >= MISSING_ERROR_PCT:
        return "drop_column"
    if dtype in _NUMERIC or dtype.startswith("decimal"):
        if abs(skewness or 0.0) > SKEW_TRANSFORM_THRESHOLD:
            return "impute_median"
        return "impute_mean"
    if dtype in ("string", "boolean"):
        return "impute_mode"
    if dtype.startswith("timestamp") or dtype == "date":
        return "forward_fill"
    return "investigate"


def duplicate_severity(pct: float) -> str:
    return _banded(pct, DUP_LOW_PCT, DUP_MEDIUM_PCT)


def duplicate_recommendation(pct: float) -> str:
    if pct == 0:
        return "no_action"
    if pct < DUP_LOW_PCT:
        return "keep_first"
    if pct < DUP_MEDIUM_PCT:
        return "review_and_remove"
    if pct < DUP_MAJOR_PCT:
        return "investigate_cause"
    return "major_issue_investigate"


def outlier_severity(pct: float) -> str:
    return _banded(pct, OUTLIER_LOW_PCT, OUTLIER_MEDIUM_PCT)


def outlier_recommendation(pct: float, skewness: float | None) -> str:
    if pct == 0:
        return "no_action"
    if pct < OUTLIER_LOW_PCT:
        return "investigate"
    if pct < OUTLIER_MEDIUM_PCT:
        if abs(skewness or 0.0) > SKEW_TRANSFORM_THRESHOLD:
            return "transform_log"
        return "winsorize"
    if pct < OUTLIER_CLIP_PCT:
        return "clip_bounds"
    return "investigate_data_quality"


def length_consistency(mismatches: int, pct: float) -> tuple[str, str]:
    """(severity, recommendation) of the token-array length check (A20)."""
    if mismatches == 0:
        return "none", "no_action"
    return ("medium" if pct < 1 else "high"), "repair_n_tok"


def referential(violations: int, pct: float) -> tuple[str, str]:
    """(severity, recommendation) of the source ∈ allowed check (J3)."""
    if violations == 0:
        return "none", "no_action"
    severity = "low" if pct < 1 else "medium" if pct < 5 else "high"
    return severity, "quarantine_unknown_sources"


def token_equality(mismatches: int) -> tuple[str, str]:
    """(severity, recommendation) of the per-row token-equality check."""
    if mismatches == 0:
        return "none", "no_action"
    return "high", "recompute_tokens"


def psi_classification(psi: float) -> str:
    """README.md:49: <0.1 no drift, 0.1-0.25 moderate, >0.25 large."""
    return "none" if psi < PSI_MODERATE else "moderate" if psi < PSI_LARGE else "large"


def psi_recommendation(psi: float) -> str:
    return {
        "none": "no_action",
        "moderate": "monitor_drift",
        "large": "retrain_or_investigate",
    }[psi_classification(psi)]


def drift_flags(psi: float, ks_pvalue: float, chi2_pvalue: float) -> dict:
    """The drift verdict of one (partition, column) group: PSI class, KS and
    chi² significance, and whether any of the three calls it drift (a NaN
    PSI, from a column absent from the reference, is not drift by itself)."""
    ks, chi2 = ks_pvalue < KS_ALPHA, chi2_pvalue < CHI2_ALPHA
    return {
        "psi_drift": psi_classification(psi),
        "ks_significant": ks,
        "chi2_significant": chi2,
        "drift_detected": psi >= PSI_MODERATE or ks or chi2,
    }


def ks_drift(significant: bool) -> tuple[str, str]:
    """(severity, recommendation) of a KS drift verdict."""
    if significant:
        return "high", "investigate_distribution_shift"
    return "none", "no_action"


def grade(score: float) -> str:
    """Score → letter grade (quality_scorer.py:145-166)."""
    for cut, name in GRADE_BANDS:
        if score >= cut:
            return name
    return "Critical"
