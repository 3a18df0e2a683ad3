"""ValidationService — the reference's API surface as a Python facade.

The reference exposes its pipeline over FastAPI routes
(``backend/app/api/routes/data_upload.py:24-192`` upload+validate+baseline,
``backend/app/api/routes/quality_check.py:25-191`` the quality report,
baseline CRUD ``data_upload.py:336-397``). A Spark engine's natural surface
is a session-scoped object, not HTTP — this facade gives a reference user
the same verbs with the same response shapes, each backed by the
distributed operators:

    svc = ValidationService(spark, warehouse="/data/wh")
    up  = svc.upload("/data/raw/users.csv", make_baseline=True)
    rep = svc.check_quality("/data/raw/users_new.csv", key_columns=["id"])
    rep["quality_score"]["grade"]          # 'Excellent' ... 'Critical'
    svc.compare_with_baseline(rep_metadata)

``check_quality`` returns a dict with the golden report's top-level keys
(``data/drift_reports/quality_report_20251023_*.json``): report_id,
dataset_info, missing_values, missing_patterns, duplicates, outliers,
quality_score, recommendations, summary. Values come from four aggregate
passes over the table (five with ``key_columns``) regardless of column
count: the column profile, the per-row missing patterns, the duplicate
counts and one outlier-count pass that reuses the profile's quantiles (the
reference runs 4 + N pandas passes).
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions import verdicts as V
from .functions.scoring import WEIGHTS, component_scores, weighted_score
from .operators.stats import column_profile, missing_patterns
from .operators.uniqueness import duplicate_stats
from .plans.compare import compare_metadata, no_baseline
from .session import arrow_rows, local_frame
from .sources.ingest import (
    dataset_metadata,
    read_dataset,
    validate_dataset,
    validate_format,
)
from .sources.tables import ParquetTableIO

_GRADE_EMOJI = {  # quality_scorer.py:168-186
    "Excellent": "\U0001f7e2",
    "Very Good": "\U0001f7e2",
    "Good": "\U0001f7e1",
    "Fair": "\U0001f7e0",
    "Poor": "\U0001f534",
    "Critical": "\U0001f534",
}

BASELINE_TABLE = "baseline"
BASELINE_META_TABLE = "baseline_metadata"
DIGEST_TABLE = "upload_digests"


class ValidationService:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.io = ParquetTableIO(spark, warehouse)

    # -- upload / baseline (data_upload.py:24-192) -----------------------

    def upload(
        self,
        path: str,
        make_baseline: bool = False,
        expected_schema=None,
        now: datetime | None = None,
    ) -> dict:
        """Format gate → read → validate → metadata → persist (versioned)
        → optional baseline → metadata comparison vs current baseline."""
        fmt = validate_format(path)
        df = read_dataset(self.spark, path, fmt)
        validation = validate_dataset(df, expected_schema)
        if not validation.is_valid:
            return {
                "success": False,
                "errors": list(validation.errors),
                "warnings": list(validation.warnings),
            }
        meta = dataset_metadata(df)
        # duplicate-upload detection (file_handler.py:366-394 semantics,
        # content-level instead of file-byte-level): one distributed
        # digest pass vs the tiny digest registry
        from .sources.ingest import content_digest

        digest = content_digest(df)
        dup_of = None
        if self.io.exists(DIGEST_TABLE):
            prior = (
                self.io.read_appended(DIGEST_TABLE)
                .filter(F.col("digest") == digest)
                .limit(1)
                .collect()
            )
            dup_of = prior[0]["file_id"] if prior else None
        snap = self.io.write(df, "uploads", now=now)
        self.io.append(
            arrow_rows([(digest, snap)], "digest string, file_id string"),
            DIGEST_TABLE,
        )
        result = {
            "success": True,
            "file_id": snap,
            "format": fmt,
            "content_digest": digest,
            "duplicate_of": dup_of,
            "warnings": list(validation.warnings)
            + (
                [f"dataset content identical to previous upload {dup_of}"]
                if dup_of
                else []
            ),
            "metadata": meta,
            "baseline_comparison": self.compare_with_baseline(meta),
        }
        if make_baseline or not self.io.exists(BASELINE_TABLE):
            result["baseline_version"] = self.create_baseline(df, meta, now)
        return result

    def create_baseline(
        self, df: DataFrame, meta: dict | None = None, now=None
    ) -> str:
        """versioning.py:57-116: versioned copy + metadata sidecar (an
        append-only table keyed by the baseline's own snapshot id, so a
        pinned-version read never depends on two writes minting the same
        timestamp)."""
        meta = meta or dataset_metadata(df)
        now = now or datetime.now(timezone.utc)
        snap = self.io.write(df, BASELINE_TABLE, now=now)
        side = arrow_rows(
            [(snap, json.dumps(meta))], "version_id string, metadata string"
        )
        self.io.append(side, BASELINE_META_TABLE)
        return snap

    def list_baselines(self) -> list[str]:
        return self.io.list_snapshots(BASELINE_TABLE)

    def compare_with_baseline(
        self, current_metadata: dict, baseline_version: str | None = None
    ) -> dict:
        """versioning.py:271-364 over the persisted metadata sidecar.
        ``baseline_version`` is a BASELINE_TABLE snapshot id; the sidecar is
        resolved by filtering on that id (never by sidecar snapshot)."""
        if not self.io.exists(BASELINE_META_TABLE):
            return no_baseline()
        side = self.io.read_appended(BASELINE_META_TABLE)
        if baseline_version is not None:
            side = side.filter(F.col("version_id") == baseline_version)
        rows = side.collect()
        if not rows:
            return no_baseline()

        def _vnum(r):  # 'v{n}_{ts}' → n (latest baseline wins when unpinned)
            m = r["version_id"].split("_", 1)[0]
            return int(m[1:]) if m[1:].isdigit() else -1

        row = max(rows, key=_vnum)
        return compare_metadata(
            current_metadata,
            json.loads(row["metadata"]),
            baseline_version=row["version_id"],
        )

    # -- quality report (quality_check.py:25-191) ------------------------

    def check_quality(
        self,
        df_or_path: DataFrame | str,
        key_columns: list[str] | None = None,
        report_id: str | None = None,
        now: datetime | None = None,
        persist: bool = True,
    ) -> dict:
        ts = now or datetime.now(timezone.utc)
        if isinstance(df_or_path, str):
            df = read_dataset(self.spark, df_or_path)
            filename = df_or_path
        else:
            df, filename = df_or_path, None
        # operators key on a partition column; one logical partition here
        tagged = df.withColumn("part_id", F.lit(0))
        cols = df.columns

        # job 1: wide profile (nulls + numeric stats for every column)
        pf = column_profile(tagged, partition_col="part_id")
        prof_rows = pf.collect()
        prof = {r["column"]: r for r in prof_rows}
        n_rows = next(iter(prof.values()))["n_rows"] if prof else 0
        if not n_rows:
            raise ValueError(
                f"dataset has {n_rows} rows; a quality report needs at least 1"
            )

        # job 2: per-row patterns + full-row/key duplicates in one pass set
        pat = missing_patterns(tagged, partition_col="part_id").collect()[0]
        dup = duplicate_stats(tagged, keys=cols, partition_col="part_id").collect()[0]
        key_dup = (
            duplicate_stats(
                tagged, keys=key_columns, partition_col="part_id"
            ).collect()[0]
            if key_columns
            else None
        )

        # job 3: outlier counts for all numeric columns (reuses profile)
        from .operators.outliers import outlier_stats

        out_rows = outlier_stats(
            tagged, profile=local_frame(self.spark, prof_rows, pf.schema)
        ).collect()

        report = _assemble_report(
            report_id or f"quality_report_{ts.strftime('%Y%m%d_%H%M%S')}",
            filename,
            ts,
            df,
            n_rows,
            prof,
            pat,
            dup,
            key_dup,
            key_columns,
            out_rows,
        )
        if persist:
            row = arrow_rows(
                [(report["report_id"], json.dumps(report, default=str))],
                "report_id string, report string",
            )
            self.io.append(row, "quality_reports")
        return report

    # -- drift check (drift_check.py route — 0-byte in the reference; the
    # -- README.md:45 intent: /detect_drift of current vs stored baseline)

    def detect_drift(
        self,
        df_or_path: DataFrame | str,
        baseline_version: str | None = None,
        columns: list[str] | None = None,
        bins: int = 20,
    ) -> dict:
        """PSI / KS / JS / chi² of every shared column of the current
        dataset against the stored baseline snapshot, with the README.md:49
        PSI classification. A column's ``drift_detected`` is the kernel
        row's flag (``verdicts.drift_flags``: PSI ≥ 0.1, or a significant
        KS or chi² test), the flag the pipeline's drift rows carry;
        ``n_drifted`` and ``overall_drift`` count it. Numeric columns are binned on shared fixed
        edges (combined min/max across both sides); string columns use
        exact category counts; integer-array columns (tokenized sequences)
        use unigram token-id histograms — vocabulary-usage drift. One
        drift_stats_broadcast pass covers all columns. A column entirely
        NULL on either side has no distribution to compare and is reported
        as 'no_data'."""
        from .operators.drift import (
            drift_stats_broadcast,
            token_unigram_histogram,
        )
        from .operators.histogram import categorical_counts, numeric_histogram
        from .operators.stats import _is_numeric

        df = (
            read_dataset(self.spark, df_or_path)
            if isinstance(df_or_path, str)
            else df_or_path
        )
        version = baseline_version or self.io.latest_snapshot(BASELINE_TABLE)
        base = self.io.read(BASELINE_TABLE, version)
        dc, db = dict(df.dtypes), dict(base.dtypes)
        shared = [
            c for c in df.columns
            if c in db and (columns is None or c in columns)
        ]
        numeric = [c for c in shared if _is_numeric(dc[c]) and _is_numeric(db[c])]
        categorical = [c for c in shared if dc[c] == "string" and db[c] == "string"]
        _tok_types = ("array<smallint>", "array<int>", "array<bigint>")
        token_cols = [
            c for c in shared if dc[c] in _tok_types and db[c] == dc[c]
        ]
        if not numeric and not categorical and not token_cols:
            return {"baseline_version": version, "columns": {},
                    "summary": {"n_columns": 0, "n_drifted": 0,
                                "overall_drift": False}}

        bounds: dict[str, tuple[float, float]] = {}
        no_data: list[str] = []
        if numeric:
            aggs = []
            for c in numeric:
                d = F.col(c).cast("double")
                aggs += [F.min(d).alias(f"mn_{c}"), F.max(d).alias(f"mx_{c}")]
            cur_b = df.agg(*aggs).collect()[0]
            ref_b = base.agg(*aggs).collect()[0]
            for c in numeric:
                los = [x for x in (cur_b[f"mn_{c}"], ref_b[f"mn_{c}"])
                       if x is not None]
                his = [x for x in (cur_b[f"mx_{c}"], ref_b[f"mx_{c}"])
                       if x is not None]
                if not los:
                    # entirely NULL on both sides: no histogram is
                    # computable — report instead of crashing on min([])
                    no_data.append(c)
                    continue
                lo, hi = min(los), max(his)
                bounds[c] = (float(lo), float(hi) if hi > lo else float(lo) + 1.0)
            numeric = [c for c in numeric if c in bounds]
        if not numeric and not categorical and not token_cols:
            return {
                "baseline_version": version,
                "columns": {c: {"drift_detected": False,
                                "recommendation": "no_data"}
                            for c in no_data},
                "summary": {"n_columns": len(no_data), "n_drifted": 0,
                            "overall_drift": False},
            }

        def hists(src: DataFrame) -> DataFrame | None:
            pieces = [
                numeric_histogram(
                    src, c, lo=bounds[c][0], hi=bounds[c][1], bins=bins,
                    partition_col=None,
                ).select("col", "bin", "cnt")
                for c in numeric
            ] + [
                categorical_counts(
                    src, c, partition_col=None, salted=False
                ).select("col", "bin", "cnt")
                for c in categorical
            ] + [
                token_unigram_histogram(src, c, name=c)
                .select("col", "bin", "cnt")
                for c in token_cols
            ]
            out = pieces[0]
            for p in pieces[1:]:
                out = out.unionByName(p)
            return out

        stats = drift_stats_broadcast(
            hists(df), hists(base), partition_col=None
        )
        cols = {}
        n_drifted = 0
        for r in stats.collect():
            if r["n_ref"] == 0:  # NaN statistics, not drift
                continue
            drifted = r["drift_detected"]
            n_drifted += int(drifted)
            cols[r["col"]] = {
                "psi": float(r["psi"]),
                "psi_drift": r["psi_drift"],
                "ks_stat": float(r["ks_stat"]),
                "ks_pvalue": float(r["ks_pvalue"]),
                "js_divergence": float(r["js_divergence"]),
                "chi2_stat": float(r["chi2_stat"]),
                "chi2_dof": int(r["chi2_dof"]),
                "chi2_pvalue": float(r["chi2_pvalue"]),
                "n_current": int(r["n_cur"]),
                "n_baseline": int(r["n_ref"]),
                "drift_detected": drifted,
                "recommendation": V.psi_recommendation(r["psi"]),
            }
        for c in [*no_data, *numeric, *categorical, *token_cols]:
            cols.setdefault(
                c, {"drift_detected": False, "recommendation": "no_data"}
            )
        return {
            "baseline_version": version,
            "columns": cols,
            "summary": {
                "n_columns": len(cols),
                "n_drifted": n_drifted,
                "overall_drift": n_drifted > 0,
            },
        }

    # -- remediation (remediation.py route — 0-byte in the reference) ----

    def remediate(self, report: dict, rules=None) -> list[dict]:
        """Quality report (check_quality output) → prioritized remediation
        actions via the rules engine (functions/remediation.DEFAULT_RULES;
        pass ``rules`` from load_rules(remediation_rules.json) to
        override). Driver-side — the report is already aggregated."""
        from .functions.remediation import DEFAULT_RULES

        rl = {(c, s): (p, a, sn) for c, s, p, a, sn in (rules or DEFAULT_RULES)}
        actions: list[dict] = []

        def add(check: str, column: str | None, severity: str) -> None:
            if severity in (None, "none"):
                return
            p, a, sn = rl.get(
                (check, severity),
                ("medium", "investigate", "# investigate '{column}'"),
            )
            actions.append(
                {
                    "check": check,
                    "column": column,
                    "severity": severity,
                    "priority": p,
                    "action": a,
                    "snippet": sn.replace("{column}", column or "<row>"),
                }
            )

        for d in report.get("missing_values", {}).get("details", []):
            add("missing_values", d["column"], d["severity"])
        dup = report.get("duplicates", {})
        if dup.get("severity", "none") != "none":
            add("uniqueness", None, dup["severity"])
        for d in report.get("outliers", {}).get("details", []):
            add(
                "outliers",
                d["column"],
                V.outlier_severity(float(d["outlier_percentage"])),
            )
        _prio = {"high": 0, "medium": 1, "low": 2}
        actions.sort(key=lambda r: _prio.get(r["priority"], 3))
        return actions

    def list_reports(self) -> list[str]:
        if not self.io.exists("quality_reports"):
            return []
        return [
            r["report_id"]
            for r in self.io.read_appended("quality_reports")
            .select("report_id")
            .collect()
        ]

    def get_report(self, report_id: str) -> dict | None:
        """quality_check.py:194-227 replay path."""
        if not self.io.exists("quality_reports"):
            return None
        rows = (
            self.io.read_appended("quality_reports")
            .filter(F.col("report_id") == report_id)
            .collect()
        )
        return json.loads(rows[0]["report"]) if rows else None


def _assemble_report(
    report_id, filename, ts, df, n_rows, prof, pat, dup, key_dup,
    key_columns, out_rows,
) -> dict:
    cols = df.columns
    n_cols = len(cols)
    total_cells = n_rows * n_cols
    total_missing = sum(int(r["null_count"]) for r in prof.values())
    with_missing = {
        c: r for c, r in prof.items() if r["null_count"] > 0
    }
    worst = max(
        prof.values(), key=lambda r: r["null_pct"], default=None
    )

    mv_details = [
        {
            "column": c,
            "missing_count": int(r["null_count"]),
            "missing_percentage": float(r["null_pct"]),
            "dtype": r["dtype"],
            "severity": V.missing_severity(float(r["null_pct"])),
        }
        for c, r in sorted(
            with_missing.items(), key=lambda kv: -kv[1]["null_pct"]
        )
    ]
    missing_values = {
        "total_missing": total_missing,
        "total_cells": total_cells,
        "overall_missing_percentage": round(
            total_missing / total_cells * 100, 2
        )
        if total_cells
        else 0.0,
        "columns_affected": len(with_missing),
        "columns_with_missing": sorted(with_missing),
        "details": mv_details,
        "summary": {
            "high_severity": sum(1 for d in mv_details if d["severity"] == "high"),
            "medium_severity": sum(
                1 for d in mv_details if d["severity"] == "medium"
            ),
            "low_severity": sum(1 for d in mv_details if d["severity"] == "low"),
            "worst_column": worst["column"] if worst else None,
            "worst_percentage": float(worst["null_pct"]) if worst else 0.0,
        },
    }

    dup_pct = float(dup["duplicate_pct"])
    duplicates = {
        "total_rows": int(dup["n_rows"]),
        "total_duplicates": int(dup["duplicate_rows"]),
        "duplicate_percentage": dup_pct,
        "duplicate_groups": int(dup["duplicate_groups"]),
        "unique_rows": int(dup["unique_keys"]),
        "check_full_row": True,
        "key_columns": key_columns,
        "key_analysis": (
            {
                "duplicate_rows": int(key_dup["duplicate_rows"]),
                "duplicate_percentage": float(key_dup["duplicate_pct"]),
                "unique_combinations": int(key_dup["unique_keys"]),
            }
            if key_dup is not None
            else None
        ),
        "severity": V.duplicate_severity(dup_pct),
    }

    total_outliers = sum(int(r["outlier_count"]) for r in out_rows)
    total_numeric = sum(int(r["n_values"]) for r in out_rows)
    out_pct = (
        round(total_outliers / total_numeric * 100, 2) if total_numeric else 0.0
    )
    outliers = {
        "total_outliers": total_outliers,
        "total_numeric_values": total_numeric,
        "outlier_percentage": out_pct,
        "columns_analyzed": len(out_rows),
        "details": [
            {
                "column": r["column"],
                "outlier_count": int(r["outlier_count"]),
                "iqr_outliers": int(r["iqr_outliers"]),
                "z_score_outliers": int(r["z_outliers"]),
                "outlier_percentage": float(r["outlier_pct"]),
                "skewness": (
                    float(r["skewness"]) if r["skewness"] is not None else None
                ),
            }
            for r in sorted(out_rows, key=lambda r: -r["outlier_pct"])
        ],
        "severity": V.outlier_severity(out_pct),
    }

    pcts = missing_values["overall_missing_percentage"], dup_pct, out_pct
    components = component_scores(*pcts)
    # Python's round, as the reference's quality_scorer.py:80-88
    overall = round(weighted_score(*pcts), 2)
    grade = V.grade(overall)

    recommendations = []
    for d in mv_details:
        if d["severity"] in ("medium", "high"):
            recommendations.append(
                {
                    "category": "missing_values",
                    "column": d["column"],
                    "priority": d["severity"],
                    "action": "drop_column"
                    if d["severity"] == "high"
                    else "impute",
                }
            )
    if duplicates["severity"] in ("medium", "high"):
        recommendations.append(
            {
                "category": "duplicates",
                "priority": duplicates["severity"],
                "action": "deduplicate",
            }
        )
    for d in outliers["details"]:
        if V.outlier_severity(d["outlier_percentage"]) == "high":
            recommendations.append(
                {
                    "category": "outliers",
                    "column": d["column"],
                    "priority": "medium",
                    "action": "investigate_or_clip",
                }
            )

    # quality_scorer.py:249-251: stable priority sort (category order kept
    # within each priority tier)
    _prio = {"high": 0, "medium": 1, "low": 2}
    recommendations.sort(key=lambda r: _prio.get(r["priority"], 3))

    high = missing_values["summary"]["high_severity"] + sum(
        1 for s in (duplicates["severity"], outliers["severity"]) if s == "high"
    )
    med = missing_values["summary"]["medium_severity"] + sum(
        1
        for s in (duplicates["severity"], outliers["severity"])
        if s == "medium"
    )
    low = missing_values["summary"]["low_severity"] + sum(
        1 for s in (duplicates["severity"], outliers["severity"]) if s == "low"
    )

    return {
        "report_id": report_id,
        "file_id": None,
        "filename": filename,
        "timestamp": ts.isoformat(),
        "dataset_info": {
            "rows": n_rows,
            "columns": len(cols),
            "column_names": cols,
            "dtypes": dict(df.dtypes),
        },
        "missing_values": missing_values,
        "missing_patterns": {
            "rows_with_missing": int(pat["rows_with_missing"]),
            "rows_with_missing_percentage": float(
                pat["rows_with_missing_pct"]
            ),
            "rows_with_multiple_missing": int(pat["rows_multiple_missing"]),
            "completely_empty_rows": int(pat["rows_all_missing"]),
            "max_missing_per_row": int(pat["max_missing_in_row"]),
            "avg_missing_per_row": float(pat["avg_missing_per_row"]),
        },
        "duplicates": duplicates,
        "outliers": outliers,
        "quality_score": {
            "overall_score": overall,
            "grade": grade,
            "grade_emoji": _GRADE_EMOJI[grade],
            "breakdown": {
                **{k: round(v, 2) for k, v in components.items()},
                "weights": dict(WEIGHTS),
            },
        },
        "recommendations": recommendations,
        "summary": {
            "total_issues": high + med + low,
            "high_priority_issues": high,
            "medium_priority_issues": med,
            "low_priority_issues": low,
        },
    }
