"""run_checks — the end-to-end validation + drift pipeline.

Distributed equivalent of ``POST /check_quality``
(``quality_check.py:25-191``), which runs missing → duplicates → outliers →
score sequentially over one in-memory DataFrame. Here (SURVEY.md §3.2):

    scan (partition-pruned by the resume manifest) → persisted projection
    → ONE collect of every per-part aggregate (``part_aggregates``, a
      tagged union): the wide groupBy(part_id) stats agg, the uniqueness
      agg on doc_id sharing its key-hash shuffle with the optional per-row
      token-equality join vs the reference digests, the per-partition
      histograms, and the reference histograms and allowed sources; its
      keys are the parts to validate
    → referential counts and drift (numpy kernel) on the driver
    → verdict rows and quality score in plain Python on the driver, under
      the policy of ``functions.verdicts`` / ``functions.scoring``; each
      ships as one Arrow ``session.local_frame``, so it plans as a local
      scan and no action on it starts a Python worker
    → violation rows for the failed (part, check) pairs only
    → write: a "started" manifest row per part, then the verdict and score
      rows as Arrow files (``pyarrow.parquet``, no Spark job), the
      violation rows as a Spark write, and last the "done" manifest rows
      (lineage), whose digests come from the in-memory verdict frame, not a
      read-back of the results table. Every row carries the pass attempt's
      id, and the "done" rows commit it: readers keep only committed
      attempts' rows (``manifest.committed``), so a pass that dies between
      appends leaves nothing a reader sees, and its resume recomputes it

Verdict row shape: (run_id, part_id, check, column, value, pct, severity,
recommendation, passed) — the per-partition generalization of the
reference's report JSON (one nested dict per dataset → one row per
partition × check). A JSON rollup equivalent to the reference's report
document is derivable with ``F.to_json(F.struct(...))`` (report_json).
"""

from __future__ import annotations

import uuid
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..cache import release_cached, track_cached
from ..config import DRIFT_BINS, MIN_ROWS
from ..functions import verdicts as V
from ..functions.scoring import round_half_up, score_rows
from ..operators.drift import drift_from_histograms, hist_map
from ..operators.histogram import categorical_counts, value_histogram
from ..operators.invariants import (
    digest_join,
    token_mismatch,
    uniqueness_and_token_equality,
)
from ..operators.referential import referential_violations
from ..operators.stats import prepare_sequences, sequence_stats_prepared
from ..operators.uniqueness import duplicate_stats, duplicate_violations
from ..schema import SEQUENCES_SCHEMA, validate_schema
from ..session import arrow_rows, local_frame
from ..sources import manifest as M
from ..sources.tables import ParquetTableIO

RESULTS_TABLE = "check_results"
VIOLATIONS_TABLE = "violations"


@dataclass
class RunResult:
    run_id: str
    verdicts: DataFrame
    score: DataFrame
    pruned_partitions: list[int] = field(default_factory=list)


# the verdict row (run_checks adds run_id) and the score row; part_id keeps
# the input's type
_VERDICT_SCHEMA = (
    "part_id {}, check string, column string, value double, pct double, "
    "severity string, recommendation string, passed boolean"
)
_SCORE_SCHEMA = (
    "part_id {}, missing_pct double, duplicate_pct double, "
    "violation_pct double, overall_score double, grade string"
)
# what run_checks adds to every row it appends: the run, and the pass
# attempt whose "done" manifest rows commit the row
_PASS_COLS = ", run_id string, attempt_id string"


def _pct(count: int, n: int) -> float:
    return round_half_up(count / n * 100)


def verdict_rows(wide: dict) -> list[tuple]:
    """Every verdict of every ``wide`` part, in part then check order, under
    the policy of ``functions.verdicts``; a check whose count is absent for
    a part has no row for it."""
    out = []
    for p, w in wide.items():
        n = w["n_rows"]

        def add(check, column, value, pct, severity, recommendation, passed):
            out.append((
                p, check, column, float(value), pct, severity, recommendation,
                passed,
            ))

        # 1. missing values on every column of the contract (A1)
        for col in ("doc_id", "tokens", "source"):
            k, pct = w[f"null_{col}"], _pct(w[f"null_{col}"], n)
            dtype = SEQUENCES_SCHEMA[col].dataType.simpleString()
            add(
                "missing_values", col, k, pct, V.missing_severity(pct),
                V.missing_recommendation(pct, dtype, None), pct == 0,
            )
        # 2. token-array length consistency (A20 — the contract invariant)
        lm = w["len_mismatch"]
        pct = _pct(lm, n)
        add(
            "length_consistency", "tokens", lm, pct,
            *V.length_consistency(lm, pct), lm == 0,
        )
        # 3. uniqueness on doc_id (A14); no row for a part whose doc_ids are
        #    all NULL (null keys are a missing-value violation, not a
        #    duplicate)
        if (dup := w.get("duplicate_rows")) is not None:
            pct = w["duplicate_pct"]
            add(
                "uniqueness", "doc_id", dup, pct, V.duplicate_severity(pct),
                V.duplicate_recommendation(pct), dup == 0,
            )
        # 4. referential: source ∈ allowed dimension (J3); NULL sources
        #    count as violations
        if (rv := w.get("ref_violations")) is not None:
            pct = _pct(rv, n)
            add("referential", "source", rv, pct, *V.referential(rv, pct), rv == 0)
        # 5. drift vs reference snapshot, one PSI and one KS verdict per
        #    (part, column) histogram group
        for d in w["drift"]:
            add(
                "drift_psi", d["col"], d["psi"], None, d["psi_drift"],
                V.psi_recommendation(d["psi"]), d["psi_drift"] == "none",
            )
        for d in w["drift"]:
            add(
                "drift_ks", d["col"], d["ks_stat"], d["ks_pvalue"],
                *V.ks_drift(d["ks_significant"]), not d["ks_significant"],
            )
        # 6. per-row token equality against the reference digests (same
        #    doc_id pass as uniqueness, so no row for an all-NULL-doc_id
        #    part either)
        if (tm := w.get("token_mismatch")) is not None:
            pct = _pct(tm, w["te_rows"])
            add("token_equality", "tokens", tm, pct, *V.token_equality(tm), tm == 0)
    return out


def _typed(like: DataFrame, schema: str) -> str:
    """``schema`` with its part_id typed as in ``like``."""
    return schema.format(like.schema["part_id"].dataType.simpleString())


def _local(like: DataFrame, rows, schema: str) -> DataFrame:
    """``rows`` (or their ``arrow_rows`` table) as a ``local_frame`` of
    ``_typed(like, schema)``; one partition: the rows are few, and every
    later action on them (digests) then runs one task, not one per core."""
    return local_frame(like.sparkSession, rows, _typed(like, schema)).coalesce(1)


def part_aggregates(
    prepared: DataFrame,
    ref_stats: DataFrame | None = None,
    allowed_sources: DataFrame | None = None,
    ref_digests: DataFrame | None = None,
) -> DataFrame:
    """Every per-part aggregate over the ``prepare_sequences`` projection,
    and the small side inputs, as ONE plan of O(parts × bins) rows: a union
    of the check operators, each row tagged (``_agg``) with the struct
    column that holds it. ``ref_digests`` (``reference.load_ref_digests``)
    turns on the per-row token-equality invariant."""
    # 1-2. missing values + length consistency; one row per part
    pieces = {
        "stats": sequence_stats_prepared(prepared).select(
            "part_id", "n_rows", "null_doc_id", "null_tokens", "null_source",
            "len_mismatch",
        )
    }
    # 3 + 6. uniqueness on doc_id — and, when reference digests exist, the
    #    per-row token-equality invariant from the SAME doc_id shuffle
    if ref_digests is not None:
        pieces["dup"] = uniqueness_and_token_equality(prepared, ref_digests).select(
            "part_id", "duplicate_rows", "duplicate_pct",
            F.col("n_rows").alias("te_rows"), "token_mismatch",
        )
    else:
        pieces["dup"] = duplicate_stats(
            prepared.select("part_id", "doc_id"),
            keys=["doc_id"],
            ignore_null_keys=True,
        ).select("part_id", "duplicate_rows", "duplicate_pct")
    # per-partition source counts (salted two-level agg), shared by the
    # referential check and the drift comparison, plus the n_tok per-value
    # histogram when drift runs
    if allowed_sources is not None or ref_stats is not None:
        hist = categorical_counts(prepared, "source")
        if ref_stats is not None:
            hist = value_histogram(prepared, "n_tok").unionByName(hist)
        pieces["hist"] = hist.select("part_id", "col", "bin", "cnt")
    if allowed_sources is not None:
        pieces["allowed"] = allowed_sources.select("source")
    if ref_stats is not None:
        pieces["ref"] = ref_stats.select("col", "bin", "cnt")
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [
            p.select(F.lit(tag).alias("_agg"), F.struct(*p.columns).alias(tag))
            for tag, p in pieces.items()
        ],
    )


def aggregate_parts(
    df: DataFrame,
    ref_stats: DataFrame | None = None,
    allowed_sources: DataFrame | None = None,
    ref_digests: DataFrame | None = None,
) -> tuple[DataFrame, dict]:
    """Step 1 of ``build_verdicts``: collect ``part_aggregates`` over the
    persisted projection once; referential counts and drift (numpy kernel)
    follow on the driver. Returns the projection and ``wide``: part_id →
    its aggregates, one key per part of ``df``: n_rows and the null,
    length-mismatch and duplicate counts, ref_violations, te_rows and
    token_mismatch when those checks run, and ``drift``, its kernel rows.
    A count is absent when its check has no row for the part."""
    prepared = prepare_sequences(df).persist(StorageLevel.MEMORY_AND_DISK)
    aggs = part_aggregates(prepared, ref_stats, allowed_sources, ref_digests)
    rows: dict[str, list] = defaultdict(list)
    for r in aggs.collect():
        rows[r["_agg"]].append(r[r["_agg"]])
    wide = {r["part_id"]: {**r.asDict(), "drift": []} for r in rows["stats"]}
    for r in rows["dup"]:
        wide[r["part_id"]].update(r.asDict())
    hist_rows = [tuple(r) for r in rows["hist"]]

    # 4. referential: source ∈ allowed dimension (J3). The dimension is tiny
    #    by definition, so it is an isin over the histogram bins; violations
    #    = n_rows - matched, so NULL sources count as violations.
    if allowed_sources is not None:
        allowed = {r["source"] for r in rows["allowed"]}
        matched = dict.fromkeys(wide, 0)
        for p, col, b, cnt in hist_rows:
            if col == "source" and b in allowed:
                matched[p] += cnt
        for p, w in wide.items():
            w["ref_violations"] = w["n_rows"] - matched[p]

    # 5. drift vs reference snapshot (PSI/KS/JS/chi² from histograms)
    if ref_stats is not None:
        for s in drift_from_histograms(
            hist_rows, hist_map(rows["ref"]), {"n_tok"}, DRIFT_BINS
        ):
            wide[s["part_id"]]["drift"].append(s)
    return prepared, wide


def verdict_frame(
    prepared: DataFrame, rows, schema: str = _VERDICT_SCHEMA
) -> DataFrame:
    """Step 2 of ``build_verdicts``: ``verdict_rows`` (or their Arrow table
    of ``schema``) as a local frame (Arrow, a local scan), so no action on
    the verdicts starts a Python worker; it holds ``prepared`` cached for a
    violation export."""
    return track_cached(_local(prepared, rows, schema), prepared)


def build_verdicts(
    df: DataFrame,
    ref_stats: DataFrame | None = None,
    allowed_sources: DataFrame | None = None,
    ref_digests: DataFrame | None = None,
) -> DataFrame:
    """All per-partition verdict rows (no writes): one aggregate collect
    (``aggregate_parts``), then the verdict rows built on the driver. The
    projection stays cached for a violation export over the same input;
    pass the result to ``release_cached`` when done."""
    prepared, wide = aggregate_parts(df, ref_stats, allowed_sources, ref_digests)
    return verdict_frame(prepared, verdict_rows(wide))


# check families with row-level violations → the ``wide`` columns whose sum
# is, per part, the family's violation row count (missing_values: NULL
# doc_ids and NULL tokens; a NULL source has no violation row)
VIOLATION_CHECKS = {
    "missing_values": ("null_doc_id", "null_tokens"),
    "length_consistency": ("len_mismatch",),
    "uniqueness": ("duplicate_rows",),
    "referential": ("ref_violations",),
    "token_equality": ("token_mismatch",),
}


def failed_checks(wide: dict) -> set[tuple]:
    """(part_id, check) pairs whose family count in ``wide`` is nonzero —
    ``build_violations``' ``failed``; a count whose pct rounds to 0 counts."""
    return {
        (p, check)
        for p, w in wide.items()
        for check, cols in VIOLATION_CHECKS.items()
        if any(w.get(c) for c in cols)
    }


def build_violations(
    df: DataFrame,
    allowed_sources: DataFrame | None = None,
    ref_digests: DataFrame | None = None,
    failed: set[tuple] | None = None,
) -> DataFrame:
    """Row-level violation export (north_rule: "violation rows"): one row
    per offending sequence with a check tag and a human-readable detail.
    Unified schema: (part_id, doc_id, check, detail).

    Separate from the verdict pass by design — verdicts are the always-on
    cheap aggregate; violations re-scan only when a consumer wants the
    offending rows. ``failed`` (see ``failed_checks``) restricts the export
    to those (part_id, check) pairs: a family with no failing part is
    skipped and the others scan only their failing parts. The result is
    the same as the full export, because per part each family's row count
    equals its verdict value (uniqueness is per part, like its verdict)."""
    p = prepare_sequences(df)

    def rows(src: DataFrame, check: str, detail) -> DataFrame:
        return src.select(
            F.col("part_id"),
            F.col("doc_id"),
            F.lit(check).alias("check"),
            detail.cast("string").alias("detail"),
        )

    def scope(check: str) -> DataFrame | None:
        """The rows to search for ``check``'s violations; None to skip."""
        if failed is None:
            return p
        parts = sorted(pid for pid, c in failed if c == check)
        return p.filter(F.col("part_id").isin(parts)) if parts else None

    pieces = []
    if (src := scope("missing_values")) is not None:
        pieces += [
            rows(
                src.filter(F.col("doc_id").isNull()),
                "missing_values",
                F.lit("null doc_id"),
            ),
            rows(
                src.filter(F.col("tok_len").isNull()),
                "missing_values",
                F.lit("null tokens"),
            ),
        ]

    if (src := scope("length_consistency")) is not None:
        pieces.append(
            rows(
                src.filter(
                    F.col("tok_len").isNotNull()
                    & (F.col("tok_len") != F.col("n_tok"))
                ),
                "length_consistency",
                F.concat(
                    F.lit("declared n_tok="),
                    F.col("n_tok"),
                    F.lit(" actual="),
                    F.col("tok_len"),
                ),
            )
        )

    if (src := scope("uniqueness")) is not None:
        dup = duplicate_violations(
            src.select("part_id", "doc_id").filter(F.col("doc_id").isNotNull()),
            keys=["part_id", "doc_id"],
        )
        pieces.append(
            rows(
                dup,
                "uniqueness",
                F.concat(
                    F.lit("group_size="),
                    F.col("group_size"),
                    F.lit(" occurrence="),
                    F.col("occurrence"),
                ),
            )
        )

    if allowed_sources is not None and (src := scope("referential")) is not None:
        pieces.append(
            rows(
                referential_violations(src, allowed_sources, "source"),
                "referential",
                F.concat(F.lit("unknown source="), F.coalesce(
                    F.col("source"), F.lit("NULL"))),
            )
        )

    if ref_digests is not None and (src := scope("token_equality")) is not None:
        # the verdict's own join, filtered to its mismatch predicate
        mism = digest_join(src, ref_digests).filter(token_mismatch())
        pieces.append(
            rows(mism, "token_equality", F.lit("token digest mismatch"))
        )

    if not pieces:
        return rows(p.filter(F.lit(False)), "missing_values", F.lit(None))
    return reduce(DataFrame.unionByName, pieces)


def score_partitions(verdicts: DataFrame) -> DataFrame:
    """Per-partition weighted quality score + grade of a verdict frame:
    ``scoring.score_rows`` over its collected (part_id, check, pct)
    triples, as a local frame."""
    triples = verdicts.select("part_id", "check", "pct").collect()
    return _local(verdicts, score_rows(triples), _SCORE_SCHEMA)


def verdict_rollup(verdicts: DataFrame) -> DataFrame:
    """Second-level rollup of the verdict table (SURVEY §2.4's one
    previously-unexercised aggregation shape): per (part_id, check)
    subtotals, per-part_id subtotals, and the grand total in ONE pass
    via ``rollup()`` — the grouping sets share a single map-side-combined
    exchange instead of three self-aggregations. Rolled-up key levels
    surface as part_id = -1 / check = 'ALL' (real part ids are >= 0).

    Aggregate choices are oracle-exact by construction: counts are
    integers, worst_pct is a max (order-independent), and the pct total
    is summed in centi-points as int64 — a float sum's result depends on
    accumulation order and would flip last bits between engines."""
    failed = F.when(F.col("passed") == False, 1).otherwise(0)  # noqa: E712
    return (
        verdicts.rollup("part_id", "check")
        .agg(
            F.count(F.lit(1)).alias("n_checks"),
            F.sum(failed).cast("long").alias("n_failed"),
            F.max("pct").alias("worst_pct"),
            F.sum(F.round(F.col("pct") * 100, 0).cast("long")).alias(
                "sum_pct_centi"
            ),
        )
        .select(
            F.coalesce(F.col("part_id"), F.lit(-1)).alias("part_id"),
            F.coalesce(F.col("check"), F.lit("ALL")).alias("check"),
            "n_checks",
            "n_failed",
            "worst_pct",
            "sum_pct_centi",
        )
    )


def report_json(verdicts: DataFrame, run_id: str) -> DataFrame:
    """Reference-shaped JSON rollup (S6, quality_check.py:171-174): one JSON
    document per partition."""
    per_check = verdicts.groupBy("part_id").agg(
        F.to_json(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        F.concat_ws(":", "check", "column"),
                        F.struct("value", "pct", "severity", "recommendation", "passed"),
                    )
                )
            )
        ).alias("checks_json"),
    )
    return per_check.select(
        F.lit(run_id).alias("run_id"), "part_id", "checks_json"
    )


def run_checks(
    spark: SparkSession,
    df: DataFrame,
    io: ParquetTableIO | None = None,
    run_id: str = "run_0",
    ref_stats: DataFrame | None = None,
    allowed_sources: DataFrame | None = None,
    ref_digests: DataFrame | None = None,
    snapshot_id: str | None = None,
    min_rows: int | None = None,
    now: datetime | None = None,
) -> RunResult:
    """Full pipeline with schema gate, resume pruning, and persistence.

    Raises ValueError on hard validation failures (min rows/cols — the
    reference's 422 path, file_handler.py:163-186)."""
    sv = validate_schema(df.schema, SEQUENCES_SCHEMA)
    if not sv.is_valid:
        raise ValueError(f"schema validation failed: {sv.errors}")
    floor = MIN_ROWS if min_rows is None else min_rows
    started = (now or datetime.now(timezone.utc)).isoformat()
    todo, pruned = (df, []) if io is None else M.prune_completed(df, io, run_id)
    # the gate counts the whole input, not the parts left to validate; when
    # the parts left clear the floor alone, one take answers both questions
    left = len(todo.select("part_id").take(max(floor, 1)))
    n = len(df.select("part_id").take(floor)) if pruned and left < floor else left
    if n < floor:
        raise ValueError(
            f"dataset has {n} rows; minimum is {floor} "
            "(reference MIN_ROWS gate, config/settings.py:58)"
        )
    if io is not None and not left:  # fully resumed: nothing to recompute
        verdicts, score = (
            M.committed(io, io.read_appended(t), run_id)
            for t in (RESULTS_TABLE, RESULTS_TABLE + "_score")
        )
        return RunResult(run_id, verdicts, score, pruned)

    prepared, wide = aggregate_parts(todo, ref_stats, allowed_sources, ref_digests)
    attempt = uuid.uuid4().hex
    rows = verdict_rows(wide)

    def tagged(rs, schema: str):
        # ``rs`` with the pass's ids, as one Arrow table: appended as a
        # file, and the returned frame
        return arrow_rows(
            [(*r, run_id, attempt) for r in rs], _typed(prepared, schema)
        )

    verdict_schema = _VERDICT_SCHEMA + _PASS_COLS
    score_schema = _SCORE_SCHEMA + _PASS_COLS
    verdict_table = tagged(rows, verdict_schema)
    score_table = tagged(score_rows((r[0], r[1], r[4]) for r in rows), score_schema)
    verdicts = verdict_frame(prepared, verdict_table, verdict_schema)
    score = _local(prepared, score_table, score_schema)
    if io is None:
        # the verdict rows are local data; only a violation export reads the
        # cached projection
        release_cached(verdicts)
        return RunResult(run_id, verdicts, score, pruned)

    try:
        # the todo parts are the parts the aggregates saw
        M.record_partitions(
            spark, io, run_id, sorted(wide), "started", snapshot_id,
            started_at=started, now=now, attempt_id=attempt,
        )
        io.append(verdict_table, RESULTS_TABLE)
        io.append(score_table, RESULTS_TABLE + "_score")
        io.append(
            build_violations(
                todo, allowed_sources, ref_digests, failed=failed_checks(wide)
            ).withColumns({"run_id": F.lit(run_id), "attempt_id": F.lit(attempt)}),
            VIOLATIONS_TABLE,
        )
    finally:
        # drop the cached projection once the export has read it (or the
        # pass failed), so repeated run_checks calls (or a driver loop)
        # don't accumulate cache entries
        release_cached(verdicts)
    # the verdict frame is local data: digesting it reads nothing back. The
    # "done" rows commit the attempt.
    digests = M.stats_digests(verdicts)
    M.record_partitions(
        spark, io, run_id, sorted(digests), "done", snapshot_id,
        digests=digests, started_at=started, now=now, attempt_id=attempt,
    )
    return RunResult(run_id, verdicts, score, pruned)
