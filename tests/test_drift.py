"""Drift statistics: closed-form expectations on hand-built histograms
(FIXTURES.md §5) + behavior on the drifted fixture + p-value functions
against published table values.

``tests/data/drift_frozen.json`` holds the drift rows of the earlier
distributed column-algebra form (``numeric_drift`` → ``drift_stats`` →
``with_drift_pvalues``: windows, joins and a pandas UDF, since deleted) on
the drifted fixture, one row per (part_id, col) with counts, statistics,
p-values and flags; the numpy kernel must reproduce them."""

import json
import math
import os

import pytest

from data_drift_monitoring_spark.functions.pvalues import (
    chi2_sf,
    kolmogorov_sf,
    ks_2samp_pvalue,
)
from data_drift_monitoring_spark.operators.drift import drift_stats_broadcast
from data_drift_monitoring_spark.operators.histogram import (
    categorical_counts,
    value_histogram,
)


def _hist(spark, rows, with_part=False):
    if with_part:
        return spark.createDataFrame(
            [(0, *r) for r in rows], "part_id int, col string, bin string, cnt long"
        )
    return spark.createDataFrame(rows, "col string, bin string, cnt long")


def test_psi_zero_for_identical(spark):
    rows = [("x", "a", 100), ("x", "b", 300), ("x", "c", 600)]
    out = drift_stats_broadcast(
        _hist(spark, rows, True), _hist(spark, rows), partition_col="part_id"
    ).collect()[0]
    assert abs(out["psi"]) < 1e-12
    assert abs(out["js_divergence"]) < 1e-12
    assert abs(out["chi2_stat"]) < 1e-12
    assert out["ks_stat"] < 1e-12
    assert out["psi_drift"] == "none"


def test_psi_hand_computed(spark):
    cur = [("x", "a", 50), ("x", "b", 50)]
    ref = [("x", "a", 80), ("x", "b", 20)]
    out = drift_stats_broadcast(
        _hist(spark, cur, True), _hist(spark, ref)
    ).collect()[0]
    expected = (0.5 - 0.8) * math.log(0.5 / 0.8) + (0.5 - 0.2) * math.log(
        0.5 / 0.2
    )
    assert abs(out["psi"] - expected) < 1e-12
    assert out["psi_drift"] == "large"
    # KS on two bins: |0.5-0.8| = 0.3
    assert abs(out["ks_stat"] - 0.3) < 1e-12
    # chi-square 2x2 contingency, hand-computed
    n, m = 100, 100
    e_a = (50 + 80) / 2
    e_b = (50 + 20) / 2
    chi2 = sum(
        (o - e) ** 2 / e
        for o, e in [(50, e_a), (80, e_a), (50, e_b), (20, e_b)]
    )
    assert abs(out["chi2_stat"] - chi2) < 1e-9
    assert out["chi2_dof"] == 1


def test_missing_ref_bin_handled(spark):
    cur = [("x", "a", 90), ("x", "z", 10)]  # z unseen in reference
    ref = [("x", "a", 100), ("x", "b", 0)]
    out = drift_stats_broadcast(
        _hist(spark, cur, True), _hist(spark, ref)
    ).collect()[0]
    assert out["psi"] > 0  # epsilon-clamped, finite
    assert math.isfinite(out["psi"]) and math.isfinite(out["chi2_stat"])


def test_pvalues_against_tables():
    assert abs(chi2_sf(3.841, 1) - 0.05) < 1e-3
    assert abs(chi2_sf(18.307, 10) - 0.05) < 1e-3
    assert abs(chi2_sf(31.410, 20) - 0.05) < 1e-3
    assert abs(kolmogorov_sf(1.36) - 0.049) < 5e-4
    assert kolmogorov_sf(0.2) > 0.999
    assert ks_2samp_pvalue(0.5, 200, 200) < 1e-10
    assert ks_2samp_pvalue(0.01, 100, 100) > 0.99


def test_drifted_fixture_detection(spark, ref_df, cur_drifted_df):
    ref_ntok = value_histogram(ref_df, "n_tok", partition_col=None)
    ref_src = categorical_counts(ref_df, "source", partition_col=None)
    out = drift_stats_broadcast(
        value_histogram(cur_drifted_df, "n_tok").unionByName(
            categorical_counts(cur_drifted_df, "source")
        ),
        ref_ntok.unionByName(ref_src),
        numeric_cols={"n_tok"},
    )
    rows = {(r["part_id"], r["col"]): r for r in out.collect()}
    # FIXTURES.md: p6/p7 shifted n_tok → PSI > 0.25 and significant KS
    for p in (6, 7):
        assert rows[(p, "n_tok")]["psi"] > 0.25
        assert rows[(p, "n_tok")]["psi_drift"] == "large"
        assert rows[(p, "n_tok")]["ks_pvalue"] < 0.01
    # clean partitions: PSI < 0.1, not significant
    for p in (0, 1, 2, 3, 5):
        assert rows[(p, "n_tok")]["psi"] < 0.1, p
        assert rows[(p, "n_tok")]["psi_drift"] == "none"
    # p4 novel source category drifts the categorical distribution
    assert rows[(4, "source")]["psi"] > 0.25
    assert rows[(4, "source")]["chi2_pvalue"] < 0.01
    # clean partitions: no PSI drift; at α=0.05 across 7 partitions up to one
    # chance-level KS/chi² significance is statistically expected
    clean = [(p, "source") for p in (0, 1, 2, 3, 5, 6, 7)]
    assert all(rows[k]["psi"] < 0.1 for k in clean)
    assert sum(bool(rows[k]["drift_detected"]) for k in clean) <= 1


def test_clean_fixture_no_drift(spark, ref_df, cur_clean_df):
    ref_ntok = value_histogram(ref_df, "n_tok", partition_col=None)
    nd = drift_stats_broadcast(
        value_histogram(cur_clean_df, "n_tok"), ref_ntok, numeric_cols={"n_tok"}
    )
    for r in nd.collect():
        assert r["psi"] < 0.1
        assert r["psi_drift"] == "none"


def test_salted_categorical_counts_match_plain(spark, cur_drifted_df):
    a = {
        (r["part_id"], r["bin"]): r["cnt"]
        for r in categorical_counts(cur_drifted_df, "source", salted=True).collect()
    }
    b = {
        (r["part_id"], r["bin"]): r["cnt"]
        for r in categorical_counts(cur_drifted_df, "source", salted=False).collect()
    }
    assert a == b


def test_broadcast_drift_matches_composition(spark, ref_df, cur_drifted_df):
    """drift_stats_broadcast (the numpy kernel on the driver) reproduces the
    frozen rows of the column-algebra composition exactly: same universe,
    clamp and dof conventions, same p-values and flags."""
    from data_drift_monitoring_spark.plans.reference import build_ref_stats

    path = os.path.join(os.path.dirname(__file__), "data", "drift_frozen.json")
    with open(path) as f:
        frozen = json.load(f)
    cols = frozen["columns"]
    composed = {(r[0], r[1]): dict(zip(cols, r)) for r in frozen["rows"]}

    grouped = {
        (r["part_id"], r["col"]): r
        for r in drift_stats_broadcast(
            value_histogram(cur_drifted_df, "n_tok").unionByName(
                categorical_counts(cur_drifted_df, "source")
            ),
            build_ref_stats(ref_df),
            numeric_cols={"n_tok"},
        ).collect()
    }

    assert set(grouped) == set(composed)
    for k, g in grouped.items():
        c = composed[k]
        for f in ("n_cur", "n_ref", "chi2_dof"):
            assert g[f] == c[f], (k, f, g[f], c[f])
        for f in ("psi", "js_divergence", "ks_stat", "chi2_stat",
                  "ks_pvalue", "chi2_pvalue"):
            assert g[f] == pytest.approx(c[f], rel=1e-9, abs=1e-12), (k, f)
        for f in ("psi_drift", "ks_significant", "chi2_significant",
                  "drift_detected"):
            assert g[f] == c[f], (k, f)


def test_salted_agg_avoids_hot_partition(spark, cur_drifted_df):
    """SURVEY §5.2.6: with a 70%-skewed source key, the salted two-level
    aggregation's FIRST shuffle must not concentrate the hot key's rows in
    one task. We observe the partial-aggregate row distribution directly:
    group by (bin, salt) and check the per-shuffle-partition share of rows
    the hot key contributes."""
    from pyspark.sql import functions as F

    from data_drift_monitoring_spark.config import SKEW_SALT_BUCKETS

    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    k = SKEW_SALT_BUCKETS
    base = cur_drifted_df.filter(F.col("source").isNotNull()).select(
        F.col("source").alias("bin"),
        F.pmod(
            F.xxhash64(F.monotonically_increasing_id()), F.lit(k)
        ).alias("_salt"),
    )
    # AQE would coalesce this tiny fixture's shuffle into one partition and
    # mask the partitioning we want to observe — disable it for the probe
    # (at real scale the partitions stay separate because they are large)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        landed = (
            base.groupBy("bin", "_salt")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("pid", F.spark_partition_id())
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    hot = [r for r in landed if r["bin"] == "web"]
    # the hot key is split into ~k groups landing on multiple partitions
    assert len(hot) == k
    pids = {r["pid"] for r in hot}
    assert len(pids) > 1, "salting failed: all hot-key groups on one task"
    # no single task carries more than ~3/k of the hot key's rows
    total = sum(r["c"] for r in hot)
    per_pid = {}
    for r in hot:
        per_pid[r["pid"]] = per_pid.get(r["pid"], 0) + r["c"]
    assert max(per_pid.values()) < total * min(1.0, 3.0 / min(k, n_shuffle) + 0.2)


# ---------------------------------------------------------------------------
# token-unigram drift (planted truth)
# ---------------------------------------------------------------------------


def _seq_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, tokens array<int>")


def test_token_drift_self_is_zero(spark):
    from data_drift_monitoring_spark.operators.drift import token_drift

    df = _seq_df(
        spark, [("a", [1, 2, 3]), ("b", [2, 3, 4]), ("c", [1, 1, 5])]
    )
    row = token_drift(df, df).collect()[0]
    assert row["psi"] == pytest.approx(0.0, abs=1e-12)
    assert row["js_divergence"] == pytest.approx(0.0, abs=1e-12)
    assert row["new_tokens"] == 0
    assert row["oov_pct"] == pytest.approx(0.0)
    assert row["psi_drift"] == "none"


def test_token_drift_planted_oov_and_psi(spark):
    """cur introduces two ids ref never saw (3 of 8 occurrences => 37.5%
    OOV) and shifts mass off id 1 — PSI must classify as drifted and the
    OOV accounting must be exact."""
    from data_drift_monitoring_spark.operators.drift import token_drift

    ref = _seq_df(spark, [("r1", [1, 1, 1, 2]), ("r2", [1, 2, 2, 2])])
    cur = _seq_df(spark, [("c1", [2, 2, 9, 9]), ("c2", [2, 2, 7, 1])])
    row = token_drift(cur, ref).collect()[0]
    assert row["n_cur"] == 8 and row["n_ref"] == 8
    assert row["new_tokens"] == 2  # ids 9 and 7
    assert row["oov_pct"] == pytest.approx(100.0 * 3 / 8)
    # closed form: universe {1,2,7,9}; p=(1/8,4/8,1/8,2/8), q=(4/8,4/8,0,0)
    eps = 1e-6
    p = [1 / 8, 4 / 8, 1 / 8, 2 / 8]
    q = [4 / 8, 4 / 8, eps, eps]  # clamped inside the log only
    qr = [4 / 8, 4 / 8, 0.0, 0.0]
    psi = sum(
        (pi - qi) * math.log(max(pi, eps) / max(qi, eps))
        for pi, qi in zip(p, qr)
    )
    assert row["psi"] == pytest.approx(psi, rel=1e-9)
    assert row["psi_drift"] != "none"


def test_token_unigram_histogram_partitioned(spark):
    from data_drift_monitoring_spark.operators.drift import (
        token_unigram_histogram,
    )

    df = spark.createDataFrame(
        [(0, [5, 5, 6]), (1, [5])],
        "part_id int, tokens array<int>",
    )
    got = {
        (r["part_id"], r["bin"]): r["cnt"]
        for r in token_unigram_histogram(
            df, partition_col="part_id"
        ).collect()
    }
    assert got == {
        (0, "0000000005"): 2,
        (0, "0000000006"): 1,
        (1, "0000000005"): 1,
    }


def test_token_unigram_bins_distinct_at_large_ids(spark):
    """Regression: lpad width must cover 10-digit int32 ids — width 8
    truncated 214748364 and 2147483646 into the same bin."""
    from data_drift_monitoring_spark.operators.drift import (
        token_unigram_histogram,
    )

    df = spark.createDataFrame(
        [("a", [214748364, 2147483646, 21474836])],
        "doc_id string, tokens array<int>",
    )
    bins = {r["bin"] for r in token_unigram_histogram(df).collect()}
    assert bins == {"0214748364", "2147483646", "0021474836"}
