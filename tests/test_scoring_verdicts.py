"""Scoring and verdict policy: field-for-field parity with the reference
formulas (quality_scorer.py, missing_values.py, duplicates.py, outliers.py
decision trees)."""

import pytest

from data_drift_monitoring_spark.functions import verdicts as V
from data_drift_monitoring_spark.functions.scoring import overall_score, quick_score


@pytest.mark.parametrize(
    "pct,expected",
    [(0.0, "low"), (9.99, "low"), (10.0, "medium"), (49.9, "medium"), (50.0, "high")],
)
def test_missing_severity(pct, expected):
    assert V.missing_severity(pct) == expected


@pytest.mark.parametrize(
    "pct,expected",
    [(0.0, "none"), (0.5, "low"), (1.0, "medium"), (4.9, "medium"), (5.0, "high")],
)
def test_duplicate_severity(pct, expected):
    assert V.duplicate_severity(pct) == expected


@pytest.mark.parametrize(
    "pct,expected",
    [
        (0.0, "no_action"),
        (0.5, "keep_first"),
        (3.0, "review_and_remove"),
        (10.0, "investigate_cause"),
        (25.0, "major_issue_investigate"),
    ],
)
def test_duplicate_recommendation(pct, expected):
    assert V.duplicate_recommendation(pct) == expected


@pytest.mark.parametrize(
    "pct,skew,expected",
    [
        (0.0, 0.0, "no_action"),
        (0.5, 0.0, "investigate"),
        (3.0, 2.0, "transform_log"),
        (3.0, 0.5, "winsorize"),
        (7.0, 0.0, "clip_bounds"),
        (15.0, 0.0, "investigate_data_quality"),
    ],
)
def test_outlier_recommendation(pct, skew, expected):
    assert V.outlier_recommendation(pct, skew) == expected


@pytest.mark.parametrize(
    "psi,expected", [(0.05, "none"), (0.15, "moderate"), (0.30, "large")]
)
def test_psi_classification(psi, expected):
    assert V.psi_classification(psi) == expected


@pytest.mark.parametrize(
    "score,expected",
    [
        (95.0, "Excellent"),
        (85.0, "Very Good"),
        (75.0, "Good"),
        (65.0, "Fair"),
        (55.0, "Poor"),
        (20.0, "Critical"),
    ],
)
def test_grade(score, expected):
    assert V.grade(score) == expected


def test_overall_score_weights():
    # 10% missing, 0% dup, 0% outlier → 90*0.3 + 100*0.25 + 100*0.25 + 100*0.2
    got = overall_score(10.0, 0.0, 0.0)
    assert got == round(90 * 0.30 + 100 * 0.25 + 100 * 0.25 + 100 * 0.20, 2)


def test_overall_score_clamps_at_zero():
    got = overall_score(100.0, 100.0, 250.0)
    assert got == 20.0  # only the schema component remains


def test_quick_score():
    # quality_check.py:282: 100 - (miss*0.3 + dup*0.7)
    assert quick_score(10.0, 10.0) == 90.0


def test_missing_recommendation_dtype_tree():
    rec = V.missing_recommendation
    assert rec(60.0, "double", 0.0) == "drop_column"
    assert rec(5.0, "double", 2.0) == "impute_median"
    assert rec(5.0, "double", 0.2) == "impute_mean"
    assert rec(5.0, "string", None) == "impute_mode"
    assert rec(5.0, "timestamp", 0.0) == "forward_fill"


def test_remediation_rules_engine(spark, tmp_path):
    """Rules engine: failed verdicts → prioritized actions with snippet
    substitution; JSON rules file round-trips; unmatched (check, severity)
    falls back to investigate/medium."""
    import json

    from data_drift_monitoring_spark.functions.remediation import (
        DEFAULT_RULES,
        load_rules,
        remediation_plan,
        remediation_report,
    )

    verdicts = spark.createDataFrame(
        [
            (0, "missing_values", "name", 60.0, 60.0, "high", "drop_column", False),
            (0, "uniqueness", "doc_id", 5.0, 2.0, "medium", "review_and_remove", False),
            (1, "referential", "source", 1.0, 0.5, "low", "quarantine_unknown_sources", False),
            (1, "missing_values", "age", 0.0, 0.0, "low", "no_action", True),
            (1, "custom_check", "x", 1.0, 1.0, "weird", "n/a", False),
        ],
        "part_id int, check string, column string, value double, pct double,"
        " severity string, recommendation string, passed boolean",
    )
    plan = remediation_plan(verdicts).collect()
    by = {(r["part_id"], r["check"]): r for r in plan}
    assert len(plan) == 4  # the passed row is excluded
    assert by[(0, "missing_values")]["action"] == "drop_column"
    assert by[(0, "missing_values")]["snippet"] == "df = df.drop('name')"
    assert by[(0, "missing_values")]["priority"] == "high"
    assert by[(1, "custom_check")]["action"] == "investigate"
    assert by[(1, "custom_check")]["priority"] == "medium"
    # priority-sorted: first row is the high one
    assert plan[0]["priority"] == "high"

    # JSON rules file round-trip (remediation_rules.json semantics)
    p = tmp_path / "remediation_rules.json"
    p.write_text(json.dumps([
        {"check": c, "severity": s, "priority": pr, "action": a, "snippet": sn}
        for c, s, pr, a, sn in DEFAULT_RULES
    ]))
    assert load_rules(str(p)) == DEFAULT_RULES

    rep = {r["part_id"]: r for r in remediation_report(
        remediation_plan(verdicts), "r1").collect()}
    assert rep[0]["n_actions"] == 2 and rep[0]["n_high"] == 1
    assert "df = df.drop('name')" in rep[0]["actions_json"]


def test_round_half_up_is_spark_round(spark):
    """``round_half_up`` equals Spark's ``round(x, 2)`` bit for bit on 200k
    seeded ``k/n*100`` percentages and, through ``overall_score``, on 200k
    2-dp (missing, duplicate, outlier) triples scored by the weighted-sum
    expression in Spark. Python's ``round`` differs on some of each."""
    import numpy as np
    from pyspark.sql import functions as F

    from data_drift_monitoring_spark.functions.scoring import WEIGHTS, round_half_up
    from data_drift_monitoring_spark.session import local_frame

    rng = np.random.default_rng(15)
    size = 200_000
    n = rng.integers(1, 2501, size)
    k = (rng.random(size) * (n + 1)).astype(np.int64)
    m, d, o = (rng.integers(0, 10_001, (3, size)) / 100).tolist()
    o = [x * 1.5 for x in o]  # reaches the 100 cap
    rows = zip(k.tolist(), n.tolist(), m, d, o)
    df = local_frame(spark, rows, "k long, n long, m double, d double, o double")

    def component(pct):
        return F.greatest(F.lit(0.0), F.lit(100.0) - pct)

    score = (
        component(F.col("m")) * WEIGHTS["missing"] / 100
        + component(F.col("d")) * WEIGHTS["duplicates"] / 100
        + component(F.least(F.col("o"), F.lit(100.0))) * WEIGHTS["outliers"] / 100
        + F.lit(100.0) * WEIGHTS["schema"] / 100
    )
    got = df.select(
        F.round(F.col("k") / F.col("n") * 100, 2).alias("pct"),
        F.round(score, 2).alias("score"),
    ).toArrow()
    pct = [round_half_up(a / b * 100) for a, b in zip(k.tolist(), n.tolist())]
    assert pct == got.column("pct").to_pylist()
    scores = [overall_score(*t) for t in zip(m, d, o)]
    assert scores == got.column("score").to_pylist()
