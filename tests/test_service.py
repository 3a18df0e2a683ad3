"""ValidationService: the reference's API lifecycle (upload → baseline →
check_quality → report replay → baseline compare) with golden-report-shaped
output. Mirrors the reference fixture triple from create_test.ipynb cell 0:
clean 100-row baseline / 120-row current with 10% missing name + extra
column / tiny invalid file."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_drift_monitoring_spark.service import ValidationService

GOLDEN_TOP_KEYS = {
    "report_id", "file_id", "filename", "timestamp", "dataset_info",
    "missing_values", "missing_patterns", "duplicates", "outliers",
    "quality_score", "recommendations", "summary",
}


@pytest.fixture(scope="module")
def svc(spark, tmp_path_factory):
    return ValidationService(spark, str(tmp_path_factory.mktemp("wh")))


@pytest.fixture(scope="module")
def clean_df(spark):
    rows = [
        (i, f"name_{i}", 20 + i % 40, 30000.0 + 500 * i,
         ["HR", "Engineering", "Sales"][i % 3], 50.0 + (i % 50))
        for i in range(100)
    ]
    return spark.createDataFrame(
        rows, "id long, name string, age int, salary double, "
              "department string, score double"
    )


@pytest.fixture(scope="module")
def current_df(spark, clean_df):
    extra = spark.createDataFrame(
        [(100 + i, None if i % 2 == 0 else f"n_{i}", 30, 35000.0, "IT", 60.0)
         for i in range(20)],
        clean_df.schema,
    )
    return clean_df.unionByName(extra)


def test_upload_and_baseline(svc, clean_df, tmp_path_factory, spark):
    p = str(tmp_path_factory.mktemp("raw") / "clean.parquet")
    clean_df.write.parquet(p)
    up = svc.upload(p, make_baseline=True)
    assert up["success"]
    assert up["metadata"]["num_rows"] == 100
    assert up["baseline_version"] in svc.list_baselines()
    # first upload has no prior baseline to compare against
    assert up["baseline_comparison"]["has_baseline"] in (True, False)


def test_check_quality_report_shape(svc, current_df):
    rep = svc.check_quality(current_df, key_columns=["id"], persist=True)
    assert set(rep) == GOLDEN_TOP_KEYS
    assert rep["dataset_info"]["rows"] == 120
    # 10 of 120 names null -> 8.33% on that column
    mv = {d["column"]: d for d in rep["missing_values"]["details"]}
    assert mv["name"]["missing_count"] == 10
    assert rep["missing_values"]["summary"]["worst_column"] == "name"
    assert rep["missing_patterns"]["rows_with_missing"] == 10
    assert rep["duplicates"]["total_duplicates"] == 0
    assert rep["duplicates"]["key_analysis"]["unique_combinations"] == 120
    assert rep["quality_score"]["grade"] in (
        "Excellent", "Good", "Fair", "Poor", "Critical"
    )
    assert rep["quality_score"]["overall_score"] > 90  # mild issues only
    # replay path (quality_check.py:194-227)
    back = svc.get_report(rep["report_id"])
    assert back is not None and back["dataset_info"]["rows"] == 120
    assert rep["report_id"] in svc.list_reports()


def test_check_quality_rejects_empty_table(svc, clean_df):
    """A zero-row table has no quality report: check_quality says so with a
    ValueError naming the row count instead of failing on an empty
    collect."""
    with pytest.raises(ValueError, match="dataset has 0 rows"):
        svc.check_quality(clean_df.limit(0), persist=False)


def test_check_quality_profiles_once(svc, current_df, monkeypatch):
    """The outlier counts take their bounds from the profile check_quality
    already collected: the percentile_approx profile runs once per call."""
    from data_drift_monitoring_spark import service
    from data_drift_monitoring_spark.operators import outliers, stats

    calls = []

    def counted(*args, **kwargs):
        calls.append(1)
        return stats.column_profile(*args, **kwargs)

    monkeypatch.setattr(service, "column_profile", counted)
    monkeypatch.setattr(outliers, "column_profile", counted)
    rep = svc.check_quality(current_df, persist=False)
    assert len(calls) == 1
    assert {d["column"] for d in rep["outliers"]["details"]} == {
        "id", "age", "salary", "score"
    }


def test_baseline_comparison_via_service(svc, current_df):
    from data_drift_monitoring_spark.sources.ingest import dataset_metadata

    cmp = svc.compare_with_baseline(dataset_metadata(current_df))
    assert cmp["has_baseline"]
    fields = {d["field"] for d in cmp["differences"]}
    assert "rows" in fields  # 120 vs 100


def test_invalid_upload_rejected(svc, spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("raw2") / "tiny.parquet")
    spark.range(3).write.parquet(p)
    up = svc.upload(p)
    assert not up["success"]
    assert "minimum is 10" in up["errors"][0]


def test_detect_drift_against_baseline(svc, clean_df, spark):
    """drift_check route parity: the stored baseline vs a shifted current
    dataset — the shifted numeric column must flag, a stable one must not."""
    svc.create_baseline(clean_df)
    shifted = clean_df.withColumn("score", F.col("score") + 40.0)
    rep = svc.detect_drift(shifted)
    assert rep["baseline_version"] in svc.list_baselines()
    assert rep["columns"]["score"]["drift_detected"]
    assert rep["columns"]["score"]["psi_drift"] in ("moderate", "large")
    assert rep["columns"]["score"]["recommendation"] != "no_action"
    # identical data → no drift anywhere
    same = svc.detect_drift(clean_df)
    assert not same["summary"]["overall_drift"]


def test_detect_drift_all_null_column_reports_no_data(svc, clean_df, spark):
    """A shared numeric column that is entirely NULL on both sides must be
    reported with a 'no_data' marker, not crash on min() of an empty
    sequence (round-2 ADVICE)."""
    nulled = clean_df.withColumn(
        "score", F.lit(None).cast("double")
    )
    svc.create_baseline(nulled)
    rep = svc.detect_drift(nulled)
    assert rep["columns"]["score"]["recommendation"] == "no_data"
    assert not rep["columns"]["score"]["drift_detected"]
    # the other columns still get a real drift verdict
    assert any(
        "psi" in v for c, v in rep["columns"].items() if c != "score"
    )
    assert not rep["summary"]["overall_drift"]


def test_detect_drift_column_null_in_baseline_reports_no_data(svc, clean_df):
    """A shared column with values in the current dataset but entirely NULL
    in the baseline has no reference distribution (n_ref = 0): it is
    reported as 'no_data', like the both-sides-NULL case, and is not drift
    — numeric and categorical alike."""
    null = {"score": "double", "department": "string"}
    svc.create_baseline(
        clean_df.withColumns(
            {c: F.lit(None).cast(t) for c, t in null.items()}
        )
    )
    rep = svc.detect_drift(clean_df)
    for c in null:
        assert rep["columns"][c] == {
            "drift_detected": False, "recommendation": "no_data"
        }, c
    assert "psi" in rep["columns"]["salary"]
    assert rep["summary"]["n_drifted"] == 0
    assert not rep["summary"]["overall_drift"]


def test_detect_drift_column_null_in_current_reports_no_data(svc, clean_df):
    """The mirror case: values in the baseline, entirely NULL now."""
    svc.create_baseline(clean_df)
    rep = svc.detect_drift(
        clean_df.withColumn("department", F.lit(None).cast("string"))
    )
    assert rep["columns"]["department"] == {
        "drift_detected": False, "recommendation": "no_data"
    }
    assert not rep["summary"]["overall_drift"]


def test_detect_drift_token_array_column(svc, spark):
    """An array<int> column (tokenized sequences) gets unigram
    vocabulary-usage drift in the same detect_drift pass: a vocabulary
    shift flags, an identical corpus does not."""
    import pyspark.sql.functions as F

    base = spark.createDataFrame(
        [(i, [1, 2, 3, i % 4]) for i in range(200)],
        "id int, tokens array<int>",
    )
    svc.create_baseline(base)
    same = svc.detect_drift(base)
    assert "tokens" in same["columns"]
    assert not same["columns"]["tokens"]["drift_detected"]
    shifted = spark.createDataFrame(
        [(i, [90, 91, 92, i % 4]) for i in range(200)],
        "id int, tokens array<int>",
    )
    rep = svc.detect_drift(shifted)
    assert rep["columns"]["tokens"]["drift_detected"]
    assert rep["columns"]["tokens"]["psi_drift"] == "large"


def test_remediate_from_quality_report(svc, spark):
    """remediation route parity: dirty dataset → check_quality report →
    prioritized actions from the rules engine."""
    rows = [(i, None if i % 2 else "x", float(i)) for i in range(100)]
    rows += [(0, "x", 0.0)] * 30          # duplicate rows
    rows += [(9999, "x", 1e6)]            # an outlier value
    df = spark.createDataFrame(rows, "id int, name string, score double")
    report = svc.check_quality(df, persist=False)
    actions = svc.remediate(report)
    assert actions
    checks = {a["check"] for a in actions}
    assert "missing_values" in checks and "uniqueness" in checks
    # priority-sorted high → low, snippets substituted
    prios = [a["priority"] for a in actions]
    order = {"high": 0, "medium": 1, "low": 2}
    assert prios == sorted(prios, key=lambda p: order[p])
    mv = next(a for a in actions if a["check"] == "missing_values")
    assert "'name'" in mv["snippet"]


def test_duplicate_upload_detection(svc, clean_df, tmp_path_factory):
    """file_handler.check_duplicate_file semantics: re-uploading identical
    content is flagged with the prior file id; changed content is not."""
    p = str(tmp_path_factory.mktemp("dups") / "d.parquet")
    clean_df.write.parquet(p)
    first = svc.upload(p)
    again = svc.upload(p)
    assert first["duplicate_of"] is None or isinstance(first["duplicate_of"], str)
    assert again["duplicate_of"] == first["file_id"] or again["duplicate_of"] is not None
    assert again["content_digest"] == first["content_digest"]
    assert any("identical" in w for w in again["warnings"])

    p2 = str(tmp_path_factory.mktemp("dups2") / "d2.parquet")
    clean_df.withColumn("score", F.col("score") + 1).write.parquet(p2)
    changed = svc.upload(p2)
    assert changed["content_digest"] != first["content_digest"]


def test_report_formatters(svc, spark, clean_df):
    from data_drift_monitoring_spark.functions.report_format import (
        format_drift_report,
        format_report,
    )

    rows = [(i, None if i % 2 else "x", float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "id int, name string, score double")
    report = svc.check_quality(df, persist=False)
    md = format_report(report)
    assert report["report_id"] in md
    assert report["quality_score"]["grade"] in md
    assert "Recommendations" in md and "name" in md

    svc.create_baseline(clean_df)
    drift = svc.detect_drift(clean_df.withColumn("score", F.col("score") + 40))
    dmd = format_drift_report(drift)
    assert drift["baseline_version"] in dmd and "score" in dmd


def test_one_null_in_a_large_column_reads_low(svc, spark):
    """A column with one NULL in 30,000 rows has a null share that rounds
    to 0.00 %: it still reads severity ``low``, counts in the summary's
    ``low_severity`` and gets a remediation action — the pipeline's
    missing-value severity, not a second one that calls it ``none``."""
    df = spark.range(30000).select(
        F.col("id"),
        F.when(F.col("id") == 7, None).otherwise(F.col("id") * 1.5).alias("x"),
    )
    rep = svc.check_quality(df, persist=False)
    [d] = rep["missing_values"]["details"]
    assert (d["column"], d["missing_count"], d["missing_percentage"]) == (
        "x", 1, 0.0
    )
    assert d["severity"] == "low"
    assert rep["missing_values"]["summary"]["low_severity"] == 1
    assert [
        (a["check"], a["column"], a["severity"]) for a in svc.remediate(rep)
    ] == [("missing_values", "x", "low")]


def test_detect_drift_flag_is_the_kernel_flag(spark, tmp_path):
    """``drift_detected`` in the service report has the meaning of
    ``verdicts.drift_flags`` (PSI, KS or chi²), as in the pipeline's drift
    rows. A small shift over many rows keeps PSI under 0.1 while the tests
    call it drift; ``n_drifted`` and ``overall_drift`` count the flag."""
    from data_drift_monitoring_spark.functions.verdicts import drift_flags

    svc = ValidationService(spark, str(tmp_path / "wh"))
    base = spark.range(20000).select(
        (F.col("id") % 1000 / 10.0).alias("v"),
        (F.col("id") % 7).cast("string").alias("k"),
    )
    svc.create_baseline(base)
    rep = svc.detect_drift(base.withColumn("v", F.col("v") + 2.0))
    cols = rep["columns"]
    assert cols["v"]["psi_drift"] == "none" and cols["v"]["drift_detected"]
    assert not cols["k"]["drift_detected"]
    for c in cols.values():
        assert c["drift_detected"] == drift_flags(
            c["psi"], c["ks_pvalue"], c["chi2_pvalue"]
        )["drift_detected"]
    n = sum(c["drift_detected"] for c in cols.values())
    assert rep["summary"]["n_drifted"] == n == 1
    assert rep["summary"]["overall_drift"]
