"""Deterministic stratified sampling for training-data mixture control.

Hash-based Bernoulli sampling per stratum: a row survives iff
``h(key) mod D < floor(rate_stratum * D)`` where ``h`` is the 60-bit
md5-prefix hash (:func:`..operators.dedup.portable_word_hash`). Properties
that matter at 10^12-sequence scale:

- **Deterministic**: the sample is a pure function of the key — identical
  across reruns, cluster sizes, partitionings, and resume-after-failure
  (no RNG state to checkpoint, unlike ``df.sample``).
- **Shuffle-free**: a broadcast join of the (tiny) per-stratum rate table
  plus a filter; the corpus never moves.
- **Engine-portable**: DuckDB reproduces the exact row set with
  ``('0x' || substr(md5(key), 1, 15))::BIGINT % D`` — the gate oracle
  verifies the selected id-sum per stratum, not just counts.
- **Nested-safe**: samples at rate r1 then r2 < r1 compose (the keep set
  at a lower threshold is a subset), enabling monotone down-sampling of a
  mixture without re-reading discarded strata.

The reference ships no sampler; this serves the BASELINE.json north-star
training-pipeline role (deterministic mixture weights over tokenized
sequences). ``seeded sample`` for *row inspection* remains
``operators.stats.sample_rows``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import local_frame
from .dedup import portable_word_hash

SAMPLE_DENOM = 1_000_000


def mixture_rates(
    df: DataFrame,
    target: dict[str, float],
    strata_col: str = "source",
    budget_rows: int | None = None,
) -> dict[str, float]:
    """Per-stratum keep rates that rebalance the corpus to a target
    mixture (domain weighting, the DoReMi/Pile-style source mix).

    ``target`` maps stratum -> desired share of the OUTPUT (shares
    should sum to ~1). The feasible output size is maximized subject to
    rate ≤ 1 everywhere: T = min_s(n_s / share_s), rate_s = share_s * T
    / n_s — the largest subset with exactly the requested mixture (in
    expectation under hash sampling). ``budget_rows`` caps T.

    One map-side-combined count aggregation (the exchange carries
    |strata| rows); the rate table is driver-side by definition of the
    problem (|strata| entries). Composes with
    :func:`stratified_sample`'s deterministic hash so reruns and
    resumes keep identical rows. Raises if a targeted stratum is absent
    (the mixture is infeasible, not silently empty)."""
    counts = {
        r[strata_col]: r["n"]
        for r in df.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    missing = [
        s for s, share in target.items() if share > 0 and not counts.get(s)
    ]
    if missing:
        raise ValueError(
            f"mixture infeasible: strata {missing} absent from data"
        )
    t_max = min(
        counts[s] / share for s, share in target.items() if share > 0
    )
    if budget_rows is not None:
        t_max = min(t_max, float(budget_rows))
    return {
        s: (share * t_max / counts[s] if share > 0 else 0.0)
        for s, share in target.items()
    }


def rebalance_to_mixture(
    df: DataFrame,
    target: dict[str, float],
    strata_col: str = "source",
    key_col: str = "doc_id",
    budget_rows: int | None = None,
) -> DataFrame:
    """Deterministically sample the corpus down to the target mixture:
    :func:`mixture_rates` → :func:`stratified_sample`. Strata not in
    ``target`` are dropped (default_rate=0)."""
    rates = mixture_rates(df, target, strata_col, budget_rows)
    return stratified_sample(
        df, rates, strata_col=strata_col, key_col=key_col, default_rate=0.0
    )


def sample_hash(key_col) -> "F.Column":
    """Uniform-in-[0, SAMPLE_DENOM) deterministic hash of a key column."""
    return F.pmod(
        portable_word_hash(F.col(key_col).cast("string")),
        F.lit(SAMPLE_DENOM),
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
    spark=None,
) -> DataFrame:
    """Keep each row with its stratum's probability, deterministically.

    ``rates`` maps stratum value -> keep rate in [0, 1]. Strata absent
    from the map use ``default_rate``. Thresholds are exact integers
    (``floor(rate * SAMPLE_DENOM)``) so the float never meets the data.
    """
    spark = spark or df.sparkSession
    thresholds = [
        (s, int(r * SAMPLE_DENOM)) for s, r in sorted(rates.items())
    ]
    # build the rate table with the corpus column's OWN dtype — a
    # hardcoded string schema would make the equi-join on an int strata
    # column match nothing and silently drop every row to default_rate
    from pyspark.sql.types import LongType, StructField, StructType

    strata_type = df.schema[strata_col].dataType
    rate_df = local_frame(
        spark,
        thresholds,
        StructType(
            [
                StructField(strata_col, strata_type),
                StructField("_keep_below", LongType()),
            ]
        ),
    )
    default_below = int(default_rate * SAMPLE_DENOM)
    return (
        df.join(F.broadcast(rate_df), on=strata_col, how="left")
        .withColumn(
            "_keep_below",
            F.coalesce(F.col("_keep_below"), F.lit(default_below)),
        )
        .filter(sample_hash(key_col) < F.col("_keep_below"))
        .drop("_keep_below")
    )
