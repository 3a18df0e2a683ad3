"""Rule-driven remediation engine.

The reference promises configurable remediation — ``README.md:113``
(``remediation_rules.json``), ``README.md:131,147`` (remediation endpoints
and core), with 0-byte stubs at
``backend/app/core/remediation/{rules_engine,code_generator}.py``. This
module supplies the capability: a (check, severity) → (priority, action,
code snippet) rules table, loadable from JSON, applied to the verdict
rows of ``plans.pipeline.build_verdicts``.

Engine shape: the rules table is tiny by definition, so the application
is a broadcast join against the (already aggregated, per-partition)
verdict rows — never against raw data. Snippets are parameterized
templates (``{column}`` substitution happens as a Column expression, so
the whole plan stays JVM-side and is mirrorable in SQL).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, functions as F

from ..session import local_frame

# (check, severity, priority, action, snippet template)
# Defaults mirror the per-check recommendation rules in
# functions/verdicts.py so the rules file is an override, not a fork.
DEFAULT_RULES: list[tuple[str, str, str, str, str]] = [
    ("missing_values", "high", "high", "drop_column",
     "df = df.drop('{column}')"),
    ("missing_values", "medium", "medium", "impute",
     "df = df.fillna({{'{column}': df.agg(F.mode('{column}')).first()[0]}})"),
    ("missing_values", "low", "low", "monitor",
     "# monitor null rate of '{column}' (below warn threshold)"),
    ("length_consistency", "high", "high", "repair_n_tok",
     "df = df.withColumn('n_tok', F.size('{column}'))"),
    ("length_consistency", "medium", "medium", "repair_n_tok",
     "df = df.withColumn('n_tok', F.size('{column}'))"),
    ("uniqueness", "high", "high", "deduplicate",
     "df = dedup_exact(df, keys=['{column}'])"),
    ("uniqueness", "medium", "medium", "review_and_remove",
     "df = dedup_exact(df, keys=['{column}'])"),
    ("uniqueness", "low", "low", "keep_first",
     "df = dedup_exact(df, keys=['{column}'])"),
    ("referential", "high", "high", "quarantine_unknown_sources",
     "bad = df.join(allowed, '{column}', 'left_anti'); df = df.join(allowed, '{column}', 'semi')"),
    ("referential", "medium", "medium", "quarantine_unknown_sources",
     "bad = df.join(allowed, '{column}', 'left_anti'); df = df.join(allowed, '{column}', 'semi')"),
    ("referential", "low", "low", "quarantine_unknown_sources",
     "bad = df.join(allowed, '{column}', 'left_anti'); df = df.join(allowed, '{column}', 'semi')"),
    ("token_equality", "high", "high", "recompute_tokens",
     "df = retokenize(df, '{column}')"),
    ("outliers", "high", "high", "clip_or_investigate",
     "df = clip_outliers(df, '{column}', lo, hi)"),
    ("outliers", "medium", "medium", "winsorize",
     "df = clip_outliers(df, '{column}', lo, hi)"),
    ("outliers", "low", "low", "investigate",
     "# inspect the tail of '{column}' before transforming"),
    ("drift_psi", "large", "high", "retrain_or_investigate",
     "# PSI large on '{column}': refresh reference or retrain"),
    ("drift_psi", "moderate", "medium", "monitor_drift",
     "# PSI moderate on '{column}': keep under watch"),
    ("drift_ks", "high", "medium", "investigate_distribution_shift",
     "# KS significant on '{column}': inspect upstream pipeline"),
]

_RULES_SCHEMA = (
    "check string, severity string, priority string, action string, "
    "snippet string"
)


def load_rules(path: str) -> list[tuple[str, str, str, str, str]]:
    """remediation_rules.json: a list of {check, severity, priority,
    action, snippet} objects (the reference's promised config file)."""
    with open(path) as f:
        raw = json.load(f)
    return [
        (r["check"], r["severity"], r["priority"], r["action"], r["snippet"])
        for r in raw
    ]


def remediation_plan(
    verdicts: DataFrame,
    rules: list[tuple[str, str, str, str, str]] | None = None,
) -> DataFrame:
    """Failed verdicts → prioritized remediation actions.

    Output: (part_id, check, column, severity, priority, action, snippet)
    sorted high → medium → low then (part_id, check). Verdicts with no
    matching rule fall back to ('medium', 'investigate'). The join is a
    broadcast of the rules table against per-partition verdict rows —
    O(partitions × checks) rows, nothing row-scale."""
    rules_df = local_frame(
        verdicts.sparkSession, rules or DEFAULT_RULES, _RULES_SCHEMA
    )
    failed = verdicts.filter(~F.col("passed"))
    j = failed.join(F.broadcast(rules_df), on=["check", "severity"], how="left")
    prio = F.coalesce(F.col("priority"), F.lit("medium"))
    return (
        j.select(
            "part_id",
            "check",
            "column",
            "severity",
            prio.alias("priority"),
            F.coalesce(F.col("action"), F.lit("investigate")).alias("action"),
            F.replace(
                F.coalesce(F.col("snippet"), F.lit("# investigate '{column}'")),
                F.lit("{column}"),
                F.col("column"),
            ).alias("snippet"),
        )
        .withColumn(
            "_rank",
            F.when(prio == "high", 0).when(prio == "medium", 1).otherwise(2),
        )
        .orderBy("_rank", "part_id", "check")
        .drop("_rank")
    )


def remediation_report(plan: DataFrame, run_id: str) -> DataFrame:
    """One consolidated JSON remediation document per partition (the
    reference's remediation-report response shape)."""
    per_part = plan.groupBy("part_id").agg(
        F.to_json(
            F.collect_list(
                F.struct("check", "column", "severity", "priority", "action",
                         "snippet")
            )
        ).alias("actions_json"),
        F.count(F.lit(1)).alias("n_actions"),
        F.sum((F.col("priority") == "high").cast("long")).alias("n_high"),
    )
    return per_part.select(
        F.lit(run_id).alias("run_id"), "part_id", "n_actions", "n_high",
        "actions_json",
    )
