"""Weighted quality score (quality_scorer.py:46-122) as plain Python on the
driver — the only copy of the score rules.

component scores (0-100, each "100 = clean"):
  missing_score   = max(0, 100 - overall_missing_pct)        (:62-64)
  duplicate_score = max(0, 100 - duplicate_pct)              (:66-68)
  outlier_score   = max(0, 100 - min(outlier_pct, 100))      (:70-72)
  schema_score    = 100 (no schema inconsistencies are scored)
weights 30/25/25/20 (:19-44);
overall = Σ scoreᵢ·wᵢ/100, rounded 2dp (:80-88); quick score variant
``100 - (miss_pct*0.3 + dup_pct*0.7)`` (quality_check.py:282).

The pipeline's rounding is ``round_half_up``, which gives Spark's
``round(x, 2)`` bit for bit, so its rows equal the SQL oracles'; the
service rounds ``weighted_score`` with Python's ``round``, as the reference
does.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from ..config import DUPLICATE_WEIGHT, MISSING_WEIGHT, OUTLIER_WEIGHT, SCHEMA_WEIGHT
from .verdicts import grade

WEIGHTS = {
    "missing": MISSING_WEIGHT,
    "duplicates": DUPLICATE_WEIGHT,
    "outliers": OUTLIER_WEIGHT,
    "schema": SCHEMA_WEIGHT,
}

# verdict check → score component; the component is the worst pct of its
# checks' rows in the part, the contract slot the capped sum of its checks
_MISSING, _DUPLICATE = "missing_values", "uniqueness"
_CONTRACT = ("referential", "length_consistency", "token_equality")


def round_half_up(x: float) -> float:
    """Spark's ``round(x, 2)`` on a double: HALF_UP on the shortest decimal
    string of ``x`` (``Double.toString``), where Python's ``round`` rounds
    the binary value half to even. NaN and infinities pass through."""
    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP))


def component_scores(
    missing_pct: float, duplicate_pct: float, outlier_pct: float
) -> dict[str, float]:
    return {
        "missing_score": max(0.0, 100.0 - missing_pct),
        "duplicate_score": max(0.0, 100.0 - duplicate_pct),
        "outlier_score": max(0.0, 100.0 - min(outlier_pct, 100.0)),
        "schema_score": 100.0,
    }


def weighted_score(
    missing_pct: float, duplicate_pct: float, outlier_pct: float
) -> float:
    """The unrounded weighted sum of the component scores."""
    s = component_scores(missing_pct, duplicate_pct, outlier_pct)
    return (
        s["missing_score"] * MISSING_WEIGHT / 100
        + s["duplicate_score"] * DUPLICATE_WEIGHT / 100
        + s["outlier_score"] * OUTLIER_WEIGHT / 100
        + s["schema_score"] * SCHEMA_WEIGHT / 100
    )


def overall_score(
    missing_pct: float, duplicate_pct: float, outlier_pct: float
) -> float:
    return round_half_up(weighted_score(missing_pct, duplicate_pct, outlier_pct))


def quick_score(missing_pct: float, duplicate_pct: float) -> float:
    """quality_check.py:282 fast path."""
    return max(
        0.0, round_half_up(100.0 - (missing_pct * 0.3 + duplicate_pct * 0.7))
    )


def score_rows(verdicts) -> list[tuple]:
    """Per-partition weighted quality score + grade from (part_id, check,
    pct) verdict triples (quality_scorer.py:46-122 generalized: dataset →
    partition): (part_id, missing_pct, duplicate_pct, violation_pct,
    overall_score, grade), one tuple per part in first-seen order.
    Components: missing = worst null pct, duplicate = doc_id dup pct,
    outlier(slot) = contract-violation pct (referential + length
    mismatches + token mismatches, capped at 100)."""
    worst: dict = {}
    for part, check, pct in verdicts:
        w = worst.setdefault(part, {})
        if pct is not None:
            w[check] = max(w.get(check, pct), pct)
    out = []
    for part, w in worst.items():
        missing, dup = w.get(_MISSING, 0.0), w.get(_DUPLICATE, 0.0)
        contract = min(100.0, sum(w.get(c, 0.0) for c in _CONTRACT))
        score = overall_score(missing, dup, contract)
        out.append((
            part, round_half_up(missing), round_half_up(dup),
            round_half_up(contract), score, grade(score),
        ))
    return out
