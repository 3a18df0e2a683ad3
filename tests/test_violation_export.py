"""Violation export restricted to failed checks, and the driver-side drift.

``run_checks`` exports violation rows only for the (part_id, check) pairs
whose verdict value is nonzero; that must equal the full
``build_violations`` output, which holds because per part each family's
violation row count equals its verdict value.
"""

from collections import Counter

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from data_drift_monitoring_spark.operators.drift import (
    drift_stats_broadcast,
    token_drift,
)
from data_drift_monitoring_spark.operators.histogram import (
    categorical_counts,
    value_histogram,
)
from data_drift_monitoring_spark.operators.invariants import token_digests
from data_drift_monitoring_spark.plans.pipeline import (
    VIOLATION_CHECKS,
    VIOLATIONS_TABLE,
    aggregate_parts,
    build_verdicts,
    build_violations,
    failed_checks,
    release_cached,
    run_checks,
)
from data_drift_monitoring_spark.plans.reference import build_ref_stats
from data_drift_monitoring_spark.sources.manifest import record_partitions
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
    res = run_checks(
        spark, df, io, "v", ref_stats, allowed_sources_df,
        ref_digests=rd, min_rows=1,
    )
    exported = io.read_appended(VIOLATIONS_TABLE).filter(F.col("run_id") == "v")
    full = build_violations(df, allowed_sources_df, rd).select(COLS).collect()
    got = Counter(tuple(r) for r in exported.select(COLS).collect())
    want = Counter(tuple(r) for r in full)
    assert got == want
    assert got  # every table here has some violation

    # the invariant the failed-only export rests on: per part, each
    # family's violation row count equals its verdict value
    # (missing_values: the doc_id and tokens verdicts together)
    values = Counter()
    for r in res.verdicts.filter(F.col("check").isin(*VIOLATION_CHECKS)).collect():
        if (r["check"], r["column"]) != ("missing_values", "source"):
            values[(r["part_id"], r["check"])] += int(r["value"])
    assert Counter((r["part_id"], r["check"]) for r in full) == +values


def test_every_family_fails_on_the_edge_fixture(edge_df, refs, allowed_sources_df):
    ref_stats, rd = refs
    prepared, wide = aggregate_parts(
        edge_df, ref_stats, allowed_sources_df, ref_digests=rd
    )
    failed = failed_checks(wide)
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
    prepared.unpersist()


def test_failed_checks_keys_on_value_not_passed():
    """A nonzero count whose pct rounds to 0 still passes its verdict, yet
    has violation rows; drift verdicts and NULL sources have none, and a
    check with no aggregate for the part (NULL) has none either."""
    psi = {"col": "n_tok", "psi": 0.4, "ks_stat": 0.5, "ks_pvalue": 0.0}
    wide = {
        0: {  # 1 NULL doc_id in 10^6 rows: pct rounds to 0.0
            "n_rows": 1_000_000, "null_doc_id": 1, "null_tokens": 0,
            "null_source": 0, "len_mismatch": 0, "duplicate_rows": 0,
            "ref_violations": 0, "token_mismatch": None, "drift": [],
        },
        1: {
            "n_rows": 1000, "null_doc_id": 0, "null_tokens": 0,
            "null_source": 4, "len_mismatch": 0, "duplicate_rows": None,
            "ref_violations": 0, "token_mismatch": 3, "drift": [psi],
        },
    }
    assert failed_checks(wide) == {(0, "missing_values"), (1, "token_equality")}


def test_no_failed_checks_exports_nothing(cur_clean_df, allowed_sources_df):
    out = build_violations(cur_clean_df, allowed_sources_df, failed=set())
    assert out.columns == COLS
    assert out.count() == 0


class _CaptureIO:
    """Stands in for a table IO and keeps the frames appended to it."""

    def __init__(self):
        self.frames = []

    def append(self, df, table):
        self.frames.append(df)


def test_drift_runs_on_the_driver(spark, ref_df, cur_drifted_df, refs,
                                  allowed_sources_df):
    """No Python worker stage: drift_stats_broadcast, token_drift and the
    verdict frame are driver-built local frames — no pandas operator in
    their plans and no PythonRDD under them — and the manifest rows reach
    the table IO as an Arrow table, with no Spark plan at all."""
    hist = value_histogram(cur_drifted_df, "n_tok").unionByName(
        categorical_counts(cur_drifted_df, "source")
    )
    out = drift_stats_broadcast(
        hist, build_ref_stats(ref_df), numeric_cols={"n_tok"}
    )
    tok = token_drift(cur_drifted_df, ref_df)
    ref_stats, rd = refs
    verdicts = build_verdicts(
        cur_drifted_df, ref_stats, allowed_sources_df, ref_digests=rd
    )
    io = _CaptureIO()
    record_partitions(spark, io, "r", [0, 1], "done", digests={0: "ab"})
    for df in (out, tok, verdicts):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan
        assert "ArrowEvalPython" not in plan
        assert "PythonRDD" not in (
            df._jdf.queryExecution().toRdd().toDebugString()
        )
    assert out.count() == 2 * cur_drifted_df.select("part_id").distinct().count()
    assert tok.count() == 1
    [manifest] = io.frames
    assert isinstance(manifest, pa.Table)
    assert manifest.sort_by("part_id")["stats_digest"].to_pylist() == ["ab", None]
    release_cached(verdicts)
