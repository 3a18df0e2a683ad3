"""Per-row token-array equality invariant (input_hint) on the corrupted-copy
fixture: corruption injected only in partition 5."""

from pyspark.sql import functions as F

from data_drift_monitoring_spark.operators.invariants import (
    token_digests,
    token_equality_stats,
)
from data_drift_monitoring_spark.plans.pipeline import build_violations


def _token_violations(cur, ref):
    """The ``token_equality`` rows of the violation export against the
    reference's persisted digests."""
    return build_violations(cur, ref_digests=token_digests(ref)).filter(
        F.col("check") == "token_equality"
    )


def test_stats_flag_only_corrupted_partition(spark, ref_df, ref_corrupted_df):
    rows = {
        r["part_id"]: r
        for r in token_equality_stats(ref_corrupted_df, ref_df).collect()
    }
    assert rows[5]["token_mismatch"] > 0
    for p in range(8):
        assert rows[p]["missing_in_ref"] == 0
        if p != 5:
            assert rows[p]["token_mismatch"] == 0, p
            assert rows[p]["token_match"] == rows[p]["n_rows"]


def test_violation_rows_pinpoint_diffs(spark, ref_df, ref_corrupted_df):
    v = _token_violations(ref_corrupted_df, ref_df).collect()
    assert v and all(r["part_id"] == 5 for r in v)
    # one row per planted mismatch, located by (part_id, doc_id)
    assert len({(r["part_id"], r["doc_id"]) for r in v}) == len(v)
    # cross-check count against the digest-only stats
    stats = {
        r["part_id"]: r
        for r in token_equality_stats(ref_corrupted_df, ref_df).collect()
    }
    assert len(v) == stats[5]["token_mismatch"]


def test_identical_tables_no_violations(spark, ref_df):
    assert _token_violations(ref_df, ref_df).count() == 0


def test_ref_duplicates_do_not_inflate_current_counts(spark, ref_df):
    """A reference snapshot with duplicated doc_ids must not fan out the
    join: current-side n_rows / uniqueness must equal the clean-ref run."""
    from data_drift_monitoring_spark.operators.invariants import (
        uniqueness_and_token_equality,
    )

    cur = ref_df.selectExpr(
        "part_id", "doc_id", "xxhash64(tokens) AS tok_digest"
    )
    ref = token_digests(ref_df)
    dup_ref = ref.unionByName(ref)  # every ref key appears twice

    clean = {
        r["part_id"]: r for r in uniqueness_and_token_equality(cur, ref).collect()
    }
    doubled = {
        r["part_id"]: r
        for r in uniqueness_and_token_equality(cur, dup_ref).collect()
    }
    assert set(clean) == set(doubled)
    for p, c in clean.items():
        d = doubled[p]
        for col in (
            "n_rows", "duplicate_rows", "duplicate_groups", "unique_keys",
            "token_mismatch", "token_match", "missing_in_ref",
        ):
            assert c[col] == d[col], (p, col)


def test_ref_duplicates_do_not_fan_out_violation_rows(spark):
    """A doc_id held twice in the reference yields one violation row, as in
    ``token_equality_stats``, which keeps one reference digest per key."""
    from data_drift_monitoring_spark.schema import SEQUENCES_SCHEMA

    def table(rows):
        return spark.createDataFrame(
            [(d, t, len(t), "web", 0) for d, t in rows], SEQUENCES_SCHEMA
        )

    cur = table([("a", [1, 2, 3]), ("b", [4, 5]), ("c", [7, 8])])
    ref = table([
        ("a", [1, 2, 3]),
        ("b", [4, 6]), ("b", [4, 6]),  # one mismatched doc, duplicated
        ("c", [7, 8]), ("c", [7, 9]),  # two copies, one of them equal
    ])
    v = _token_violations(cur, ref).collect()
    stats = token_equality_stats(cur, ref).collect()
    assert len(v) == sum(r["token_mismatch"] for r in stats)
    assert "b" in {r["doc_id"] for r in v}
    assert [r["doc_id"] for r in v].count("b") == 1
