"""End-to-end pipeline: per-partition verdicts on the drifted fixture
(FIXTURES.md §1 variant 3), validation gates, resume semantics, digests."""

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from data_drift_monitoring_spark.config import MIN_ROWS
from data_drift_monitoring_spark.plans.pipeline import (
    RESULTS_TABLE,
    VIOLATIONS_TABLE,
    run_checks,
)
from data_drift_monitoring_spark.plans.reference import (
    init_reference,
    load_ref_digests,
    load_ref_stats,
)
from data_drift_monitoring_spark.schema import (
    MANIFEST_SCHEMA,
    SEQUENCES_SCHEMA,
    validate_schema,
)
from data_drift_monitoring_spark.session import local_frame
from data_drift_monitoring_spark.sources.tables import ParquetTableIO
from data_drift_monitoring_spark.sources import manifest as M


@pytest.fixture(scope="module")
def warehouse(spark, data_dir, ref_df, tmp_path_factory):
    io = ParquetTableIO(spark, str(tmp_path_factory.mktemp("wh")))
    snap = init_reference(spark, io, ref_df)
    return io, snap


def test_drifted_run_verdicts(spark, warehouse, cur_drifted_df, allowed_sources_df):
    io, snap = warehouse
    res = run_checks(
        spark, cur_drifted_df, io, "run_drift",
        load_ref_stats(io), allowed_sources_df, None, snapshot_id=snap,
    )
    failed = {
        (r["check"], r["column"], r["part_id"])
        for r in res.verdicts.filter("passed = false").collect()
    }
    assert ("missing_values", "doc_id", 2) in failed
    assert ("uniqueness", "doc_id", 3) in failed
    assert ("referential", "source", 4) in failed
    assert ("length_consistency", "tokens", 5) in failed
    assert ("drift_psi", "n_tok", 6) in failed
    assert ("drift_psi", "n_tok", 7) in failed
    assert ("drift_psi", "source", 4) in failed
    # no false positives on clean partitions for contract checks
    for check, col, bad in [
        ("missing_values", "doc_id", {2}),
        ("uniqueness", "doc_id", {3}),
        ("referential", "source", {4}),
        ("length_consistency", "tokens", {5}),
        ("drift_psi", "n_tok", {6, 7}),
    ]:
        got = {p for (c, co, p) in failed if c == check and co == col}
        assert got == bad, (check, got)
    # score column sanity
    sc = {r["part_id"]: r for r in res.score.collect()}
    assert sc[2]["missing_pct"] > 5
    assert sc[3]["duplicate_pct"] > 5
    assert all(sc[p]["grade"] in ("Excellent", "Very Good") for p in (0, 1))


def test_clean_run_all_pass(spark, warehouse, cur_clean_df, allowed_sources_df):
    io, snap = warehouse
    res = run_checks(
        spark, cur_clean_df, io, "run_clean",
        load_ref_stats(io), allowed_sources_df, None, snapshot_id=snap,
    )
    failing = res.verdicts.filter(
        (F.col("passed") == False) & (F.col("check") != "drift_ks")  # noqa: E712
    ).collect()
    assert failing == []
    sc = res.score.collect()
    assert all(r["overall_score"] == 100.0 for r in sc)
    assert all(r["grade"] == "Excellent" for r in sc)


def test_token_equality_in_pipeline(spark, warehouse, ref_corrupted_df, allowed_sources_df):
    io, snap = warehouse
    res = run_checks(
        spark, ref_corrupted_df, io, "run_corrupt",
        load_ref_stats(io), allowed_sources_df, load_ref_digests(io),
        snapshot_id=snap,
    )
    te = {
        r["part_id"]: r
        for r in res.verdicts.filter("check = 'token_equality'").collect()
    }
    assert not te[5]["passed"] and te[5]["value"] > 0
    assert all(te[p]["passed"] for p in range(8) if p != 5)


def test_min_rows_gate(spark, data_dir):
    df = spark.read.parquet(os.path.join(data_dir, "invalid"))
    with pytest.raises(ValueError, match="minimum"):
        run_checks(spark, df)
    with pytest.raises(ValueError, match="minimum is 4"):
        run_checks(spark, df, min_rows=4)
    # an explicit 0 turns the gate off; it is not the default floor of 10
    res = run_checks(spark, df, min_rows=0)
    assert res.verdicts.count() > 0


def test_min_rows_gate_counts_the_whole_input(spark, ref_df, tmp_path):
    """The gate counts the input, not the parts left to validate: a resume
    whose one remaining part holds fewer than MIN_ROWS rows still runs."""
    big = ref_df.filter("part_id = 0").limit(2 * MIN_ROWS)
    small = ref_df.filter("part_id = 1").limit(MIN_ROWS - 1)
    df = big.unionByName(small)
    io = ParquetTableIO(spark, str(tmp_path))
    M.record_partitions(spark, io, "gate", [0], "done")
    res = run_checks(spark, df, io, "gate")
    assert res.pruned_partitions == [0]
    assert {r["part_id"] for r in res.verdicts.collect()} == {1}
    assert M.completed_partitions(io, "gate") == [0, 1]
    # an input below the floor still raises; min_rows=0 turns the gate off
    with pytest.raises(ValueError, match=f"minimum is {MIN_ROWS}"):
        run_checks(spark, small, io, "gate_small")
    assert run_checks(spark, small, min_rows=0).verdicts.count() > 0


def _done_but(spark, io, run_id, snap, todo=5):
    """Mark every fixture part but ``todo`` done for ``run_id``."""
    done = [p for p in range(8) if p != todo]
    M.record_partitions(spark, io, run_id, done, "done", snap)
    return done


def test_one_part_resume_manifest_rows(
    spark, warehouse, ref_corrupted_df, allowed_sources_df
):
    """A one-part resume appends one ``started`` and one ``done`` row for
    its part, with the same started_at; a fully-resumed re-invocation
    appends no manifest rows and no results."""
    io, snap = warehouse
    run = "run_manifest_rows"
    done = _done_but(spark, io, run, snap)

    def rows(table):
        return io.read_appended(table).filter(F.col("run_id") == run).collect()

    def invoke():
        return run_checks(
            spark, ref_corrupted_df, io, run, load_ref_stats(io),
            allowed_sources_df, load_ref_digests(io), snapshot_id=snap,
        )

    res = invoke()
    assert res.pruned_partitions == done
    manifest = rows(M.MANIFEST_TABLE)
    assert len(manifest) == len(done) + 2
    new = sorted(
        (r for r in manifest if r["part_id"] == 5), key=lambda r: r["status"]
    )
    assert [r["status"] for r in new] == ["done", "started"]
    finished, started = new
    assert finished["started_at"] == started["started_at"]
    assert started["finished_at"] is None and started["stats_digest"] is None
    assert finished["finished_at"] is not None and finished["stats_digest"]
    assert all(r["snapshot_id"] == snap for r in new)

    tables = (RESULTS_TABLE, RESULTS_TABLE + "_score", VIOLATIONS_TABLE)
    written = {t: len(rows(t)) for t in tables}
    assert written[RESULTS_TABLE] > 0 and written[VIOLATIONS_TABLE] > 0
    again = invoke()
    assert again.pruned_partitions == list(range(8))
    assert len(rows(M.MANIFEST_TABLE)) == len(manifest)
    assert {t: len(rows(t)) for t in tables} == written
    assert again.verdicts.count() == written[RESULTS_TABLE]


def test_one_part_resume_job_budget(
    spark, warehouse, ref_corrupted_df, allowed_sources_df, count_jobs
):
    """One one-part resume pass with every check on launches at most 17
    Spark jobs: the manifest is read on the driver (no job), one ``take``
    over the parts left is both the gate and the todo probe, every per-part
    aggregate comes from one collect that also names the todo parts and
    the failed checks, and the manifest, verdict and score rows are written
    as Arrow files (no job); the violation export and the digests are the
    jobs after the collect."""
    io, snap = warehouse
    run = "run_job_budget"
    _done_but(spark, io, run, snap)
    ref_stats, rd = load_ref_stats(io), load_ref_digests(io)
    store = spark.sparkContext._jsc.sc().statusStore()

    def job_ids():
        it = store.jobsList(None).iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next().jobId())
        return ids

    def invoke():
        run_checks(
            spark, ref_corrupted_df, io, run, ref_stats, allowed_sources_df,
            rd, snapshot_id=snap,
        )

    before = job_ids()
    jobs = count_jobs(invoke)
    # the job-group count agrees with the status store's job list
    assert jobs == sorted(job_ids() - before)
    assert M.completed_partitions(io, run) == list(range(8))
    assert len(jobs) <= 17
    # a fully-resumed re-invocation learns that no part is left before it
    # plans any aggregate: the gate's takes (over the pruned input, then
    # the whole), and the schema reads of the two committed read-backs
    assert len(count_jobs(invoke)) <= 6


def test_schema_gate(spark):
    bad = spark.createDataFrame([(1,)], "x int")
    assert not validate_schema(bad.schema, SEQUENCES_SCHEMA, strict=True).is_valid


def test_resume_prunes_done_partitions(spark, warehouse, cur_drifted_df, allowed_sources_df):
    io, snap = warehouse
    res1 = run_checks(
        spark, cur_drifted_df, io, "run_resume",
        load_ref_stats(io), allowed_sources_df, None, snapshot_id=snap,
    )
    n1 = res1.verdicts.count()
    assert M.completed_partitions(io, "run_resume") == list(range(8))
    # second invocation: everything pruned, results replayed from the table
    res2 = run_checks(
        spark, cur_drifted_df, io, "run_resume",
        load_ref_stats(io), allowed_sources_df, None, snapshot_id=snap,
    )
    assert res2.pruned_partitions == list(range(8))
    assert res2.verdicts.count() == n1  # no duplicate appends


def test_digest_idempotency(spark, warehouse, cur_drifted_df, allowed_sources_df):
    """Identical input partition → identical stats digest across runs."""
    io, snap = warehouse
    for rid in ("run_dg_a", "run_dg_b"):
        run_checks(
            spark, cur_drifted_df, io, rid,
            load_ref_stats(io), allowed_sources_df, None, snapshot_id=snap,
        )
    m = io.read_appended(M.MANIFEST_TABLE)
    rows = m.filter(
        F.col("run_id").isin("run_dg_a", "run_dg_b")
        & (F.col("status") == "done")
    ).collect()
    by_run = {}
    for r in rows:
        by_run.setdefault(r["run_id"], {})[r["part_id"]] = r["stats_digest"]
    assert by_run["run_dg_a"] == by_run["run_dg_b"]


def test_returned_frames_equal_the_appended_rows(
    spark, warehouse, cur_drifted_df, allowed_sources_df
):
    """run_checks returns its in-memory verdict and score frames and digests
    them in memory; both must equal what it appended for the run."""
    io, snap = warehouse
    res = run_checks(
        spark, cur_drifted_df, io, "run_frames",
        load_ref_stats(io), allowed_sources_df, None, snapshot_id=snap,
    )

    def rows(df, cols):
        # repr: NaN drift statistics compare equal by representation
        return sorted(repr(tuple(r)) for r in df.select(cols).collect())

    back = {}
    for got, table in (
        (res.verdicts, RESULTS_TABLE), (res.score, RESULTS_TABLE + "_score")
    ):
        back[table] = io.read_appended(table).filter(
            F.col("run_id") == "run_frames"
        )
        assert back[table].columns == got.columns
        assert rows(got, got.columns) == rows(back[table], got.columns)
    recorded = {
        r["part_id"]: r["stats_digest"]
        for r in io.read_appended(M.MANIFEST_TABLE)
        .filter((F.col("run_id") == "run_frames") & (F.col("status") == "done"))
        .collect()
    }
    assert recorded == M.stats_digests(back[RESULTS_TABLE])
    assert recorded == M.stats_digests(res.verdicts)
    assert sorted(recorded) == list(range(8))


class _Crash(Exception):
    pass


# the tables of a pass's five appends, in order: "started" manifest rows,
# verdicts, score, violations, "done" manifest rows
_APPENDS = (
    M.MANIFEST_TABLE, RESULTS_TABLE, RESULTS_TABLE + "_score", VIOLATIONS_TABLE,
    M.MANIFEST_TABLE,
)


def _run_view(io, run, again):
    """What readers see of ``run`` after ``again``, a fully-resumed
    invocation: the verdict and score frames it reads back, the committed
    violation rows and the "done" digests; run and attempt ids dropped."""

    def rows(df):
        cols = [c for c in df.columns if c not in ("run_id", "attempt_id")]
        # repr: NaN drift statistics compare equal by representation
        return sorted(repr(tuple(r)) for r in df.select(cols).collect())

    assert again.pruned_partitions == list(range(8))
    done = io.read_appended(M.MANIFEST_TABLE).filter(
        (F.col("run_id") == run) & (F.col("status") == "done")
    )
    return {
        RESULTS_TABLE: rows(again.verdicts),
        RESULTS_TABLE + "_score": rows(again.score),
        "digests": sorted(
            (r["part_id"], r["stats_digest"]) for r in done.collect()
        ),
        VIOLATIONS_TABLE: rows(
            M.committed(io, io.read_appended(VIOLATIONS_TABLE), run)
        ),
    }


def _crashing(spark, io, at, tables):
    """``io`` whose ``at``-th append raises; every append's table is
    recorded in ``tables``."""
    crashing = ParquetTableIO(spark, io.root)

    def append(rows, table):
        tables.append(table)
        if len(tables) == at:
            raise _Crash(table)
        io.append(rows, table)

    crashing.append = append
    return crashing


@pytest.fixture(scope="module")
def drifted_pass(spark, warehouse, cur_drifted_df, allowed_sources_df):
    """``invoke(io, run)``: a full run_checks pass of the drifted fixture
    against the reference, every check on; and one clean run's view."""
    io, snap = warehouse
    args = (load_ref_stats(io), allowed_sources_df, load_ref_digests(io))

    def invoke(into, run):
        return run_checks(
            spark, cur_drifted_df, into, run, *args, snapshot_id=snap
        )

    invoke(io, "crash_clean")
    return invoke, _run_view(io, "crash_clean", invoke(io, "crash_clean"))


@pytest.mark.parametrize("at", range(1, len(_APPENDS) + 1))
def test_crash_then_resume_equals_one_clean_run(spark, warehouse, drifted_pass, at):
    """A pass that dies at any one of its five appends, then resumes,
    leaves the run with exactly one clean run's verdict, score, violation
    and manifest-digest rows: the dead attempt wrote no "done" row, so no
    reader keeps its rows, and the resume recomputes its parts."""
    io, _ = warehouse
    invoke, clean = drifted_pass
    run = f"crash_at_{at}"
    tables = []
    with pytest.raises(_Crash):
        invoke(_crashing(spark, io, at, tables), run)
    assert tables == list(_APPENDS[:at])
    assert invoke(io, run).pruned_partitions == []
    assert _run_view(io, run, invoke(io, run)) == clean


def test_crash_then_resume_over_untagged_rows(
    spark, warehouse, drifted_pass, tmp_path
):
    """Tables that already hold Spark-written rows with no attempt id
    column (an earlier writer's) still show a resumed crash once: the
    reads see the column of every file, whichever file Spark lists first,
    and keep the untagged rows."""
    src, _ = warehouse
    invoke, clean = drifted_pass
    io = ParquetTableIO(spark, str(tmp_path))
    for table in set(_APPENDS):
        io.append(
            src.read_appended(table)
            .filter(F.col("run_id") == "crash_clean")
            .drop("attempt_id")
            .withColumn("run_id", F.lit("untagged")),
            table,
        )
    run = "over_untagged"
    with pytest.raises(_Crash):
        invoke(_crashing(spark, io, len(_APPENDS), []), run)
    assert invoke(io, run).pruned_partitions == []
    assert _run_view(io, run, invoke(io, run)) == clean
    assert _run_view(io, "untagged", invoke(io, "untagged")) == clean


def test_spark_and_arrow_appends_read_back_as_one_table(
    spark, warehouse, cur_drifted_df, allowed_sources_df, tmp_path
):
    """run_checks appends its manifest, verdict and score rows as Arrow
    files. A Spark-written append of the same rows in the same table
    directory reads back with them through ``read_appended``, under the
    schema Spark reads from the Spark-written file alone; the manifest's
    driver read sees both files too."""
    io, snap = warehouse
    arrow = {}
    keep = ParquetTableIO(spark, io.root)

    def append(rows, table):
        if isinstance(rows, pa.Table):
            arrow.setdefault(table, []).append(rows)
        io.append(rows, table)

    keep.append = append
    run_checks(
        spark, cur_drifted_df, keep, "mixed", load_ref_stats(io),
        allowed_sources_df, None, snapshot_id=snap,
    )
    assert sorted(arrow) == sorted(
        [M.MANIFEST_TABLE, RESULTS_TABLE, RESULTS_TABLE + "_score"]
    )
    mixed = ParquetTableIO(spark, str(tmp_path))
    for table, parts in arrow.items():
        t = pa.concat_tables(parts)
        mixed.append(local_frame(spark, t, from_arrow_schema(t.schema)), table)
        spark_only = mixed.read_appended(table).schema
        mixed.append(t, table)
        back = mixed.read_appended(table)
        assert back.schema == spark_only
        assert sorted(repr(tuple(r)) for r in back.collect()) == sorted(
            repr(tuple(r.values())) for r in 2 * t.to_pylist()
        )
    manifest = mixed.read_appended_arrow(M.MANIFEST_TABLE, MANIFEST_SCHEMA)
    assert manifest.num_rows == 2 * sum(
        p.num_rows for p in arrow[M.MANIFEST_TABLE]
    )
    assert M.completed_partitions(mixed, "mixed") == list(range(8))


def test_violation_rows_match_verdict_counts(
    spark, cur_drifted_df, ref_df, allowed_sources_df
):
    """Row-level violations (build_violations) must reconcile with the
    aggregate verdict values for every check family."""
    from data_drift_monitoring_spark.operators.invariants import token_digests
    from data_drift_monitoring_spark.plans.pipeline import (
        build_verdicts,
        build_violations,
    )

    rd = token_digests(ref_df)
    verd = {
        (r["part_id"], r["check"], r["column"]): r["value"]
        for r in build_verdicts(
            cur_drifted_df, allowed_sources=allowed_sources_df, ref_digests=rd
        ).collect()
    }
    viol = build_violations(
        cur_drifted_df, allowed_sources=allowed_sources_df, ref_digests=rd
    )
    counts = {
        (r["part_id"], r["check"]): r["n"]
        for r in viol.groupBy("part_id", "check")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    parts = sorted({k[0] for k in verd})
    for p in parts:
        assert counts.get((p, "missing_values"), 0) == verd[
            (p, "missing_values", "doc_id")
        ] + verd[(p, "missing_values", "tokens")]
        assert counts.get((p, "length_consistency"), 0) == verd[
            (p, "length_consistency", "tokens")
        ]
        assert counts.get((p, "uniqueness"), 0) == verd[
            (p, "uniqueness", "doc_id")
        ]
        assert counts.get((p, "referential"), 0) == verd[
            (p, "referential", "source")
        ]
        assert counts.get((p, "token_equality"), 0) == verd[
            (p, "token_equality", "tokens")
        ]


def test_score_and_check_history_trends(
    spark, cur_clean_df, cur_drifted_df, allowed_sources_df, tmp_path_factory
):
    """historical trends (reference README.md:79 promise): two persisted
    runs — clean then drifted — produce an ordered per-partition score
    trend with deltas and a per-check value history."""
    from datetime import datetime, timezone

    from data_drift_monitoring_spark.plans.trends import (
        check_history,
        score_history,
    )

    io = ParquetTableIO(spark, str(tmp_path_factory.mktemp("wh_trends")))
    t1 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    t2 = datetime(2026, 1, 2, tzinfo=timezone.utc)
    run_checks(spark, cur_clean_df, io, run_id="r1",
               allowed_sources=allowed_sources_df, now=t1)
    run_checks(spark, cur_drifted_df, io, run_id="r2",
               allowed_sources=allowed_sources_df, now=t2)

    hist = score_history(io).collect()
    by = {(r["part_id"], r["run_id"]): r for r in hist}
    parts = {r["part_id"] for r in hist}
    assert len(by) == len(hist)  # one row per (part, run)
    for p in parts:
        first, second = by[(p, "r1")], by[(p, "r2")]
        assert first["direction"] == "baseline"
        assert first["prev_overall_score"] is None
        assert second["prev_overall_score"] == first["overall_score"]
        assert second["direction"] in ("degrading", "stable")
    # the drifted fixture corrupts partitions 2 (nulls) and 3 (dups):
    # their second run must actually degrade
    assert by[(2, "r2")]["direction"] == "degrading"
    assert by[(3, "r2")]["direction"] == "degrading"
    assert by[(2, "r2")]["delta"] < 0

    uh = check_history(io, "uniqueness", "doc_id").collect()
    ub = {(r["part_id"], r["run_seq"] if "run_seq" in r else r["run_ts"]): r
          for r in uh}
    assert len(uh) == 2 * len(parts)
    dup3 = [r for r in uh if r["part_id"] == 3 and r["direction"] != "baseline"]
    assert dup3 and dup3[0]["value"] > 0  # duplicate rows appear in run 2
