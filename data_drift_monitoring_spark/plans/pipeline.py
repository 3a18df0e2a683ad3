"""run_checks — the end-to-end validation + drift pipeline.

Distributed equivalent of ``POST /check_quality``
(``quality_check.py:25-191``), which runs missing → duplicates → outliers →
score sequentially over one in-memory DataFrame. Here (SURVEY.md §3.2):

    scan (partition-pruned by the resume manifest) → persisted projection
    → ONE wide groupBy(part_id) agg (stats + length-consistency + sketches)
    → uniqueness agg on doc_id (key-hash shuffle), sharing its shuffle with
      the optional per-row token-equality join vs the reference digests
    → per-partition histograms (n_tok values, source categories)
    → the per-part aggregates (O(parts × bins) rows) collected: referential
      counts and drift (numpy kernel) vs the reference histograms computed
      on the driver
    → verdict rows from ONE projection (severity when-chains) over a small
      per-part DataFrame + quality score
    → violation rows for the failed (part, check) pairs only
    → write: results table, violations table, manifest rows (lineage)

Verdict row shape: (run_id, part_id, check, column, value, pct, severity,
recommendation, passed) — the per-partition generalization of the
reference's report JSON (one nested dict per dataset → one row per
partition × check). A JSON rollup equivalent to the reference's report
document is derivable with ``F.to_json(F.struct(...))`` (report_json).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions import verdicts as V
from ..functions.scoring import overall_score
from ..functions.verdicts import grade, psi_classification
from ..operators.drift import collect_ref_hist, drift_from_histograms
from ..operators.histogram import categorical_counts, value_histogram
from ..operators.invariants import (
    _one_digest_per_key,
    token_digests,
    uniqueness_and_token_equality,
)
from ..operators.stats import sequence_stats_prepared
from ..operators.uniqueness import duplicate_stats, duplicate_violations
from ..schema import SEQUENCES_SCHEMA, validate_schema
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


def prepare_sequences(df: DataFrame, partition_col: str = "part_id") -> DataFrame:
    """ONE heavy scan of the sequence table → a narrow per-row projection
    (doc_id, n_tok, source, tok_len, tok_digest): the token arrays — the
    bulk of the bytes at 10^12 scale — are read exactly once; every check
    downstream (stats, uniqueness, referential, histograms, token-equality
    join) works off this ~40-byte/row projection. Persisted MEMORY_AND_DISK
    by ``build_verdicts`` so the multiple groupBy shuffles don't re-scan."""
    return df.select(
        F.col(partition_col),
        "doc_id",
        "n_tok",
        "source",
        F.size("tokens").alias("tok_len"),  # NULL iff tokens is NULL
        F.xxhash64("tokens").alias("tok_digest"),
    )


def release_cached(verdicts: DataFrame) -> None:
    """Unpersist the projection build_verdicts cached for this verdict
    DataFrame. The verdict rows are local data and do not need it; call once
    any violation export over the same input has run — a long-running
    stream invoking build_verdicts per micro-batch would otherwise grow the
    SQL CacheManager unboundedly."""
    for c in getattr(verdicts, "_cached_intermediates", ()):
        try:
            c.unpersist()
        except Exception:
            pass
    verdicts._cached_intermediates = ()


# the per-part aggregate row build_verdicts emits verdicts from; a NULL
# check column means that check has no row for the part
_WIDE_SCHEMA = (
    "part_id {}, n_rows long, null_doc_id long, null_tokens long, "
    "null_source long, len_mismatch long, duplicate_rows long, "
    "duplicate_pct double, ref_violations long, te_rows long, "
    "token_mismatch long, drift array<struct<col: string, psi: double, "
    "ks_stat: double, ks_pvalue: double>>"
)


def _check(check: str, column, value, pct, severity, recommendation, passed):
    """One verdict as a struct (the verdict row minus part_id)."""
    return F.struct(
        F.lit(check).alias("check"),
        (column if isinstance(column, Column) else F.lit(column)).alias(
            "column"
        ),
        value.cast("double").alias("value"),
        pct.cast("double").alias("pct"),
        severity.alias("severity"),
        recommendation.alias("recommendation"),
        passed.alias("passed"),
    )


def _verdict_structs(t) -> Column:
    """Every verdict of one wide per-part row, as an array of ``_check``
    structs in check order; checks with no row for the part are dropped."""
    structs = []

    # 1. missing values on every column of the contract (A1; severity chain
    #    missing_values.py:63-69)
    for col in ("doc_id", "tokens", "source"):
        pct = F.round(F.col(f"null_{col}") / F.col("n_rows") * 100, 2)
        structs.append(
            _check(
                "missing_values", col,
                F.col(f"null_{col}"), pct,
                V.missing_severity(pct),
                F.when(pct >= t.missing_error_pct, "drop_column")
                .when(pct > 0, "impute_mode" if col != "tokens" else "investigate")
                .otherwise("no_action"),
                pct == 0,
            )
        )

    # 2. token-array length consistency (A20 — the contract invariant)
    lm = F.col("len_mismatch")
    lm_pct = F.round(lm / F.col("n_rows") * 100, 2)
    structs.append(
        _check(
            "length_consistency", "tokens", lm, lm_pct,
            F.when(lm == 0, "none").when(lm_pct < 1, "medium").otherwise("high"),
            F.when(lm == 0, "no_action").otherwise("repair_n_tok"),
            lm == 0,
        )
    )

    # 3. uniqueness on doc_id (A14); no row for a part whose doc_ids are all
    #    NULL (null keys are a missing-value violation, not a duplicate)
    dup_pct = F.col("duplicate_pct")
    structs.append(
        F.when(
            F.col("duplicate_rows").isNotNull(),
            _check(
                "uniqueness", "doc_id", F.col("duplicate_rows"), dup_pct,
                V.duplicate_severity(dup_pct),
                V.duplicate_recommendation(dup_pct),
                F.col("duplicate_rows") == 0,
            ),
        )
    )

    # 4. referential: source ∈ allowed dimension (J3); NULL sources count as
    #    violations, as in the anti-join of operators.referential
    rv = F.col("ref_violations")
    rv_pct = F.round(rv / F.col("n_rows") * 100, 2)
    structs.append(
        F.when(
            rv.isNotNull(),
            _check(
                "referential", "source", rv, rv_pct,
                F.when(rv == 0, "none")
                .when(rv_pct < 1, "low")
                .when(rv_pct < 5, "medium")
                .otherwise("high"),
                F.when(rv == 0, "no_action").otherwise(
                    "quarantine_unknown_sources"
                ),
                rv == 0,
            ),
        )
    )

    # 5. drift vs reference snapshot, one PSI and one KS verdict per
    #    (part, column) histogram group
    def psi(d):
        return _check(
            "drift_psi", d["col"], d["psi"], F.lit(None),
            psi_classification(d["psi"], t),
            F.when(d["psi"] < t.psi_moderate, "no_action")
            .when(d["psi"] < t.psi_large, "monitor_drift")
            .otherwise("retrain_or_investigate"),
            d["psi"] < t.psi_moderate,
        )

    def ks(d):
        significant = d["ks_pvalue"] < t.ks_alpha
        return _check(
            "drift_ks", d["col"], d["ks_stat"], d["ks_pvalue"],
            F.when(significant, "high").otherwise("none"),
            F.when(significant, "investigate_distribution_shift").otherwise(
                "no_action"
            ),
            ~significant,
        )

    # 6. per-row token equality against the reference digests (same doc_id
    #    pass as uniqueness, so no row for an all-NULL-doc_id part either)
    tm = F.col("token_mismatch")
    te_pct = F.round(tm / F.col("te_rows") * 100, 2)
    te = F.when(
        tm.isNotNull(),
        _check(
            "token_equality", "tokens", tm, te_pct,
            F.when(tm == 0, "none").otherwise("high"),
            F.when(tm == 0, "no_action").otherwise("recompute_tokens"),
            tm == 0,
        ),
    )

    every = F.concat(
        F.array(*structs),
        F.transform("drift", psi),
        F.transform("drift", ks),
        F.array(te),
    )
    return F.filter(every, lambda s: s.isNotNull())


def build_verdicts(
    df: DataFrame,
    ref_stats: DataFrame | None = None,
    allowed_sources: DataFrame | None = None,
    ref_sequences: DataFrame | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
    ref_digests: DataFrame | None = None,
) -> DataFrame:
    """Assemble all per-partition verdict rows (no writes).

    Eager: every check reduces to a per-part aggregate of O(parts × bins)
    rows, never O(rows) (``n_tok`` bins are bounded). The aggregates are
    collected from the persisted ``prepare_sequences`` projection, drift
    (numpy kernel) and referential counts are computed on the driver, and
    the verdict rows come from ONE projection over a small per-part
    DataFrame — no union of per-check plans, no Python worker.

    ``ref_digests`` (doc_id, tok_digest) is the preferred reference-side
    artifact for the per-row token-equality invariant; ``ref_sequences``
    (full arrays) is accepted and digested on the fly.

    The projection stays cached (tracked on the returned DataFrame) so a
    violation export over the same input reuses it; pass the result to
    ``release_cached`` when done."""
    t = config.thresholds
    part = config.partition_col
    prepared = prepare_sequences(df, part).persist(StorageLevel.MEMORY_AND_DISK)

    # 1-2. missing values + length consistency; one row per part
    wide = {
        r[part]: {**r.asDict(), "part_id": r[part], "drift": []}
        for r in sequence_stats_prepared(prepared, part)
        .select(
            part, "n_rows", "null_doc_id", "null_tokens", "null_source",
            "len_mismatch",
        )
        .collect()
    }

    # 3 + 6. uniqueness on doc_id — and, when reference digests exist, the
    #    per-row token-equality invariant from the SAME doc_id shuffle
    if ref_digests is None and ref_sequences is not None:
        ref_digests = token_digests(ref_sequences)
    if ref_digests is not None:
        dup = uniqueness_and_token_equality(
            prepared, ref_digests, partition_col=part
        ).select(
            part, "duplicate_rows", "duplicate_pct",
            F.col("n_rows").alias("te_rows"), "token_mismatch",
        )
    else:
        dup = duplicate_stats(
            prepared.select(part, "doc_id"),
            keys=["doc_id"],
            partition_col=part,
            ignore_null_keys=True,
        ).select(part, "duplicate_rows", "duplicate_pct")
    for r in dup.collect():
        wide[r[part]].update(r.asDict())

    # per-partition source counts (salted two-level agg), shared by the
    # referential check and the drift comparison, plus the n_tok per-value
    # histogram when drift runs
    if allowed_sources is not None or ref_stats is not None:
        hist = categorical_counts(prepared, "source", config=config)
        if ref_stats is not None:
            hist = value_histogram(prepared, "n_tok").unionByName(hist)
        hist_rows = hist.select(part, "col", "bin", "cnt").collect()

    # 4. referential: source ∈ allowed dimension (J3). The dimension is tiny
    #    by definition, so it is an isin over the histogram bins; violations
    #    = n_rows - matched, so NULL sources count as violations.
    if allowed_sources is not None:
        allowed = {r["source"] for r in allowed_sources.select("source").collect()}
        matched = dict.fromkeys(wide, 0)
        for p, col, b, cnt in hist_rows:
            if col == "source" and b in allowed:
                matched[p] += cnt
        for p, w in wide.items():
            w["ref_violations"] = w["n_rows"] - matched[p]

    # 5. drift vs reference snapshot (PSI/KS/JS/chi² from histograms)
    if ref_stats is not None:
        for s in drift_from_histograms(
            hist_rows, collect_ref_hist(ref_stats), {"n_tok"},
            config.drift_bins,
        ):
            wide[s["part_id"]]["drift"].append(
                (s["col"], s["psi"], s["ks_stat"], s["ks_pvalue"])
            )

    # one partition: the rows are few, and every later action on the
    # verdicts (score, writes) then runs one task, not one per core
    per_part = df.sparkSession.createDataFrame(
        list(wide.values()),
        _WIDE_SCHEMA.format(prepared.schema[part].dataType.simpleString()),
    ).coalesce(1)
    out = per_part.select("part_id", F.inline(_verdict_structs(t)))
    out._cached_intermediates = [prepared]
    return out


# check families with row-level violations: per part, each family's
# violation row count equals its verdict value (missing_values: the doc_id
# and tokens verdicts together), so a family with value 0 exports no rows
VIOLATION_CHECKS = (
    "missing_values", "length_consistency", "uniqueness", "referential",
    "token_equality",
)


def failed_checks(verdicts: DataFrame) -> set[tuple]:
    """(part_id, check) pairs of the violation families with a nonzero
    verdict value — the ``failed`` argument of ``build_violations``."""
    return {
        (r["part_id"], r["check"])
        for r in verdicts.filter(
            (F.col("value") > 0) & F.col("check").isin(*VIOLATION_CHECKS)
        )
        .select("part_id", "check")
        .collect()
    }


def build_violations(
    df: DataFrame,
    allowed_sources: DataFrame | None = None,
    ref_digests: DataFrame | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
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
    part = config.partition_col
    p = prepare_sequences(df, part)

    def rows(src: DataFrame, check: str, detail) -> DataFrame:
        return src.select(
            F.col(part),
            F.col("doc_id"),
            F.lit(check).alias("check"),
            detail.cast("string").alias("detail"),
        )

    def scope(check: str) -> DataFrame | None:
        """The rows to search for ``check``'s violations; None to skip."""
        if failed is None:
            return p
        parts = sorted(pid for pid, c in failed if c == check)
        return p.filter(F.col(part).isin(parts)) if parts else None

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
            src.select(part, "doc_id").filter(F.col("doc_id").isNotNull()),
            keys=[part, "doc_id"],
            partition_col=part,
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
        bad = src.join(
            F.broadcast(
                allowed_sources.select("source").distinct()
            ),
            on="source",
            how="left_anti",
        )
        pieces.append(
            rows(
                bad,
                "referential",
                F.concat(F.lit("unknown source="), F.coalesce(
                    F.col("source"), F.lit("NULL"))),
            )
        )

    if ref_digests is not None and (src := scope("token_equality")) is not None:
        # one reference digest per doc_id, as in the verdict's join
        r = _one_digest_per_key(ref_digests, "doc_id")
        mism = (
            src.filter(F.col("doc_id").isNotNull())
            .join(r.hint("shuffle_hash"), on="doc_id", how="inner")
            .filter(F.col("tok_digest") != F.col("_rd"))
        )
        pieces.append(
            rows(mism, "token_equality", F.lit("token digest mismatch"))
        )

    if not pieces:
        return rows(p.filter(F.lit(False)), "missing_values", F.lit(None))
    return reduce(DataFrame.unionByName, pieces)


def score_partitions(
    verdicts: DataFrame, config: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Per-partition weighted quality score + grade (quality_scorer.py:46-122
    generalized: dataset → partition). Components: missing = worst null pct,
    duplicate = doc_id dup pct, outlier(slot) = contract-violation pct
    (length mismatches + referential + token mismatches)."""
    p = verdicts.groupBy("part_id").pivot(
        "check",
        [
            "missing_values",
            "uniqueness",
            "referential",
            "length_consistency",
            "token_equality",
        ],
    ).agg(F.max("pct"))
    z = F.lit(0.0)
    missing = F.coalesce(F.col("missing_values"), z)
    dup = F.coalesce(F.col("uniqueness"), z)
    contract = F.least(
        F.lit(100.0),
        F.coalesce(F.col("referential"), z)
        + F.coalesce(F.col("length_consistency"), z)
        + F.coalesce(F.col("token_equality"), z),
    )
    sc = overall_score(missing, dup, contract, None, config.thresholds)
    return p.select(
        "part_id",
        F.round(missing, 2).alias("missing_pct"),
        F.round(dup, 2).alias("duplicate_pct"),
        F.round(contract, 2).alias("violation_pct"),
        sc.alias("overall_score"),
        grade(sc).alias("grade"),
    )


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
    ref_sequences: DataFrame | None = None,
    ref_digests: DataFrame | None = None,
    snapshot_id: str | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
    min_rows: int | None = None,
    now: datetime | None = None,
    export_violations: bool = True,
) -> RunResult:
    """Full pipeline with schema gate, resume pruning, and persistence.

    Raises ValueError on hard validation failures (min rows/cols — the
    reference's 422 path, file_handler.py:163-186)."""
    sv = validate_schema(df.schema, SEQUENCES_SCHEMA)
    if not sv.is_valid:
        raise ValueError(f"schema validation failed: {sv.errors}")
    t = config.thresholds
    n = df.limit((min_rows or t.min_rows)).count()
    if n < (min_rows or t.min_rows):
        raise ValueError(
            f"dataset has {n} rows; minimum is {min_rows or t.min_rows} "
            "(reference MIN_ROWS gate, config/settings.py:58)"
        )

    pruned: list[int] = []
    started = (now or datetime.now(timezone.utc)).isoformat()
    if io is not None:
        df, pruned = M.prune_completed(df, io, run_id, config.partition_col)
        todo = [
            r["part_id"]
            for r in df.select(config.partition_col).distinct().collect()
        ]
        if not todo:  # fully resumed: nothing to recompute
            verdicts = io.read_appended(RESULTS_TABLE).filter(
                F.col("run_id") == run_id
            )
            score = io.read_appended(RESULTS_TABLE + "_score").filter(
                F.col("run_id") == run_id
            )
            return RunResult(run_id, verdicts, score, pruned)
        M.record_partitions(
            spark, io, run_id, todo, "started", snapshot_id, now=now
        )

    built = build_verdicts(
        df, ref_stats, allowed_sources, ref_sequences, config,
        ref_digests=ref_digests,
    )
    verdicts = built.withColumn("run_id", F.lit(run_id))
    score = score_partitions(built, config).withColumn(
        "run_id", F.lit(run_id)
    )
    if io is None:
        # the verdict rows are local data; only a violation export reads the
        # cached projection
        release_cached(built)
        return RunResult(run_id, verdicts, score, pruned)

    io.append(verdicts, RESULTS_TABLE)
    io.append(score, RESULTS_TABLE + "_score")
    if export_violations:
        if ref_digests is None and ref_sequences is not None:
            ref_digests = token_digests(ref_sequences)
        io.append(
            build_violations(
                df, allowed_sources, ref_digests, config,
                failed=failed_checks(built),
            ).withColumn("run_id", F.lit(run_id)),
            VIOLATIONS_TABLE,
        )
    # everything is on disk now; drop the cached projection so repeated
    # run_checks calls (or a driver loop) don't accumulate cache entries
    release_cached(built)
    digests = M.stats_digests(
        io.read_appended(RESULTS_TABLE).filter(F.col("run_id") == run_id)
    )
    M.record_partitions(
        spark, io, run_id, sorted(digests), "done", snapshot_id,
        digests=digests, started_at=started, now=now,
    )
    # return the persisted read-backs, as the pruned early-return path does
    verdicts = io.read_appended(RESULTS_TABLE).filter(
        F.col("run_id") == run_id
    )
    score = io.read_appended(RESULTS_TABLE + "_score").filter(
        F.col("run_id") == run_id
    )
    return RunResult(run_id, verdicts, score, pruned)
