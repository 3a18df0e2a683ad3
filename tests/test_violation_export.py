"""Violation export restricted to failed checks, and the driver-side drift.

``run_checks`` exports violation rows only for the (part_id, check) pairs
whose verdict value is nonzero; that must equal the full
``build_violations`` output, which holds because per part each family's
violation row count equals its verdict value.
"""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from data_drift_monitoring_spark.operators.drift import drift_stats_broadcast
from data_drift_monitoring_spark.operators.histogram import (
    categorical_counts,
    value_histogram,
)
from data_drift_monitoring_spark.operators.invariants import token_digests
from data_drift_monitoring_spark.plans.pipeline import (
    VIOLATIONS_TABLE,
    build_verdicts,
    build_violations,
    failed_checks,
    release_cached,
    run_checks,
)
from data_drift_monitoring_spark.plans.reference import build_ref_stats
from data_drift_monitoring_spark.sources.tables import ParquetTableIO

COLS = ["part_id", "doc_id", "check", "detail"]


@pytest.fixture(scope="module")
def refs(ref_df):
    return build_ref_stats(ref_df).cache(), token_digests(ref_df).cache()


@pytest.mark.parametrize("table", ["cur_drifted_df", "ref_corrupted_df", "edge_df"])
def test_run_checks_exports_the_full_violation_set(
    spark, request, refs, allowed_sources_df, tmp_path, table
):
    df = request.getfixturevalue(table)
    ref_stats, rd = refs
    io = ParquetTableIO(spark, str(tmp_path))
    run_checks(
        spark, df, io, "v", ref_stats, allowed_sources_df,
        ref_digests=rd, min_rows=1,
    )
    exported = io.read_appended(VIOLATIONS_TABLE).filter(F.col("run_id") == "v")
    full = build_violations(df, allowed_sources_df, rd)
    got = Counter(tuple(r) for r in exported.select(COLS).collect())
    want = Counter(tuple(r) for r in full.select(COLS).collect())
    assert got == want
    assert got  # every table here has some violation


def test_every_family_fails_on_the_edge_fixture(edge_df, refs, allowed_sources_df):
    ref_stats, rd = refs
    v = build_verdicts(edge_df, ref_stats, allowed_sources_df, ref_digests=rd)
    failed = failed_checks(v)
    assert {c for p, c in failed if p == 0} == {
        "missing_values", "length_consistency", "uniqueness", "referential",
        "token_equality",
    }
    # part 2 repeats two part-0 doc_ids: a duplicate across parts is not a
    # per-part uniqueness violation, in the verdict or in the export
    assert (2, "uniqueness") not in failed
    only = build_violations(edge_df, allowed_sources_df, rd, failed=failed)
    uniq = only.filter(F.col("check") == "uniqueness").collect()
    assert {r["part_id"] for r in uniq} == {0}
    release_cached(v)


def test_failed_checks_keys_on_value_not_passed(spark):
    """A nonzero count whose pct rounds to 0 still passes its verdict, yet
    has violation rows; drift verdicts have none."""
    v = spark.createDataFrame(
        [
            (0, "missing_values", "doc_id", 1.0, 0.0, True),
            (0, "uniqueness", "doc_id", 0.0, 0.0, True),
            (1, "token_equality", "tokens", 3.0, 0.3, False),
            (1, "drift_psi", "n_tok", 0.4, None, False),
        ],
        "part_id int, check string, column string, value double, "
        "pct double, passed boolean",
    )
    assert failed_checks(v) == {(0, "missing_values"), (1, "token_equality")}


def test_no_failed_checks_exports_nothing(cur_clean_df, allowed_sources_df):
    out = build_violations(cur_clean_df, allowed_sources_df, failed=set())
    assert out.columns == COLS
    assert out.count() == 0


def test_drift_runs_on_the_driver(spark, ref_df, cur_drifted_df):
    """No Python worker stage: the plan of drift_stats_broadcast is local."""
    hist = value_histogram(cur_drifted_df, "n_tok").unionByName(
        categorical_counts(cur_drifted_df, "source")
    )
    out = drift_stats_broadcast(
        hist, build_ref_stats(ref_df), numeric_cols={"n_tok"}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan
    assert out.count() == 2 * cur_drifted_df.select("part_id").distinct().count()
