"""Historical quality & drift trends across validation runs.

The reference promises versioned trending — ``README.md:79``
("Reproducibility and trending") and the 0-byte
``frontend/dashboard/components/historical_trends.py`` — but ships none.
This module supplies it over the engine's persisted run history: the
appended score/results tables (``plans.pipeline.run_checks``) plus the
manifest's per-run timestamps give an ordered time series per partition;
trends are window lag/delta computations over those (tiny aggregated
tables — per-run × per-partition rows, never raw data). Only rows of
committed pass attempts count (``manifest.committed``): a pass that died
before its "done" rows, and was resumed, appears once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..sources.manifest import MANIFEST_TABLE, committed
from ..sources.tables import ParquetTableIO

_DIRECTION = (
    lambda delta: F.when(delta > 0, "improving")
    .when(delta < 0, "degrading")
    .otherwise("stable")
)


def trend_over_runs(
    scores: DataFrame,
    order_col: str = "run_seq",
    value_col: str = "overall_score",
    keys: list[str] | None = None,
) -> DataFrame:
    """Pure trend computation: per key (default part_id), order runs by
    ``order_col`` and emit previous value, delta, and direction. Used by
    the io-backed history readers below and directly testable/oracle-able
    on any (run, key, value) frame."""
    keys = keys or ["part_id"]
    w = Window.partitionBy(*keys).orderBy(order_col)
    prev = F.lag(value_col).over(w)
    delta = F.round(F.col(value_col) - prev, 2)
    return scores.select(
        *keys,
        order_col,
        value_col,
        prev.alias("prev_" + value_col),
        delta.alias("delta"),
        F.when(prev.isNull(), "baseline")
        .otherwise(_DIRECTION(delta))
        .alias("direction"),
    )


def _run_order(io: ParquetTableIO) -> DataFrame:
    """(run_id, run_ts): each run's earliest manifest timestamp — the
    run-ordering axis for every history reader."""
    m = io.read_appended(MANIFEST_TABLE)
    return m.groupBy("run_id").agg(F.min("started_at").alias("run_ts"))


def score_history(io: ParquetTableIO, results_table: str = "check_results") -> DataFrame:
    """Per-partition quality-score trend across all persisted runs:
    (part_id, run_id, run_ts, overall_score, prev, delta, direction)."""
    s = committed(io, io.read_appended(results_table + "_score")).join(
        F.broadcast(_run_order(io)), on="run_id"
    )
    out = trend_over_runs(
        s.select("part_id", "run_id", "run_ts", "overall_score"),
        order_col="run_ts",
    )
    return out.join(
        s.select("part_id", "run_ts", "run_id"), on=["part_id", "run_ts"]
    ).select(
        "part_id", "run_id", "run_ts", "overall_score",
        "prev_overall_score", "delta", "direction",
    )


def check_history(
    io: ParquetTableIO,
    check: str,
    column: str | None = None,
    results_table: str = "check_results",
) -> DataFrame:
    """Per-partition trend of one check's metric value across runs (e.g.
    drift_psi on n_tok, uniqueness on doc_id)."""
    v = committed(io, io.read_appended(results_table)).filter(
        F.col("check") == check
    )
    if column is not None:
        v = v.filter(F.col("column") == column)
    v = v.join(F.broadcast(_run_order(io)), on="run_id")
    out = trend_over_runs(
        v.select("part_id", "column", "run_ts", "value"),
        order_col="run_ts",
        value_col="value",
        keys=["part_id", "column"],
    )
    return out
