"""Per-partition column statistics — ONE wide aggregation pass.

The reference computes its statistics in 4+ sequential full-table scans
(missing pass ``missing_values.py:46``, per-row pattern pass ``:187``,
duplicate pass ``duplicates.py:48``, then a per-column Python loop of
quantile/mask passes ``outliers.py:69-73``). Here every algebraic statistic
for every column is computed in a single ``groupBy(part_id).agg(...)`` —
Catalyst's two-phase HashAggregate gives map-side partial aggregation, so the
one shuffle moves only per-partition partial states, not rows. Quantiles use
the ``percentile_approx`` sketch (mergeable, scale-safe; exact pandas
interpolation parity is impossible distributed — SURVEY.md §7.4).

Covers SURVEY.md §2.4 A1-A8, A11-A13, A19-A21.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_NUMERIC = {"tinyint", "smallint", "int", "bigint", "float", "double", "decimal"}


def _is_numeric(dtype: str) -> bool:
    return dtype.split("(")[0] in _NUMERIC


def column_profile(
    df: DataFrame,
    partition_col: str = "part_id",
    columns: list[str] | None = None,
    exact_quantiles: bool = False,
) -> DataFrame:
    """Long-format per-(partition, column) profile.

    Output columns::

        part_id, column, dtype, n_rows, null_count, null_pct,
        mean, stddev, min, max, q1, median, q3, skewness, approx_distinct

    Numeric stats are NULL for non-numeric columns. Null handling matches the
    reference: aggregates skip nulls (pandas ``dropna`` at ``outliers.py:109``
    == Spark null-skipping aggregates); ``stddev`` is sample std (ddof=1,
    pandas default). ``exact_quantiles`` switches to ``percentile`` for
    small-fixture parity tests.
    """
    dtypes = dict(df.dtypes)
    cols = columns or [c for c in df.columns if c != partition_col]

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"nc_{c}")
        )
        if _is_numeric(dtypes[c]):
            d = F.col(c).cast("double")
            pct = (
                F.percentile(d, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
                if exact_quantiles
                else F.percentile_approx(
                    d, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), F.lit(10000)
                )
            )
            aggs += [
                F.avg(d).alias(f"mean_{c}"),
                F.stddev_samp(d).alias(f"sd_{c}"),
                F.min(d).alias(f"mn_{c}"),
                F.max(d).alias(f"mx_{c}"),
                pct.alias(f"pq_{c}"),
                F.skewness(d).alias(f"sk_{c}"),
                F.approx_count_distinct(c).alias(f"ad_{c}"),
            ]
        else:
            aggs.append(F.approx_count_distinct(c).alias(f"ad_{c}"))

    wide = df.groupBy(partition_col).agg(*aggs)

    null_d = F.lit(None).cast("double")
    structs = []
    for c in cols:
        numeric = _is_numeric(dtypes[c])
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(dtypes[c]).alias("dtype"),
                F.col(f"nc_{c}").alias("null_count"),
                F.round(F.col(f"nc_{c}") / F.col("n_rows") * 100, 2).alias(
                    "null_pct"
                ),
                (F.col(f"mean_{c}") if numeric else null_d).alias("mean"),
                (F.col(f"sd_{c}") if numeric else null_d).alias("stddev"),
                (F.col(f"mn_{c}") if numeric else null_d).alias("min"),
                (F.col(f"mx_{c}") if numeric else null_d).alias("max"),
                (F.col(f"pq_{c}")[0] if numeric else null_d).alias("q1"),
                (F.col(f"pq_{c}")[1] if numeric else null_d).alias("median"),
                (F.col(f"pq_{c}")[2] if numeric else null_d).alias("q3"),
                (F.col(f"sk_{c}") if numeric else null_d).alias("skewness"),
                F.col(f"ad_{c}").alias("approx_distinct"),
            )
        )

    return wide.select(
        F.col(partition_col),
        F.col("n_rows"),
        F.explode(F.array(*structs)).alias("s"),
    ).select(partition_col, "n_rows", "s.*")


def prepare_sequences(df: DataFrame) -> DataFrame:
    """ONE heavy scan of the sequence table → a narrow per-row projection
    (doc_id, n_tok, source, tok_len, tok_digest): the token arrays — the
    bulk of the bytes at 10^12 scale — are read exactly once; every check
    downstream (stats, uniqueness, referential, histograms, token-equality
    join) works off this ~40-byte/row projection. Persisted MEMORY_AND_DISK
    by ``build_verdicts`` so the multiple groupBy shuffles don't re-scan."""
    return df.select(
        "part_id",
        "doc_id",
        "n_tok",
        "source",
        F.size("tokens").alias("tok_len"),  # NULL iff tokens is NULL
        F.xxhash64("tokens").alias("tok_digest"),
    )


def sequence_stats(df: DataFrame) -> DataFrame:
    """The flagship per-partition contract check over the tokenized-sequence
    table (north_rule): ``sequence_stats_prepared`` of its projection."""
    return sequence_stats_prepared(prepare_sequences(df))


def sequence_stats_prepared(p: DataFrame) -> DataFrame:
    """Per-part null rates, n_tok summary, token-array length consistency
    (A20), uniqueness sketch and total token throughput in ONE agg / one
    shuffle, over the ``prepare_sequences`` projection that every flagship
    check shares, so the wide token arrays are never re-read."""
    n_tok = F.col("n_tok").cast("double")
    return p.groupBy("part_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("doc_id").isNull().cast("long")).alias("null_doc_id"),
        F.sum(F.col("tok_len").isNull().cast("long")).alias("null_tokens"),
        F.sum(F.col("source").isNull().cast("long")).alias("null_source"),
        F.sum(
            (F.col("tok_len") != F.col("n_tok")).cast("long")
        ).alias("len_mismatch"),
        F.sum(F.col("n_tok").cast("long")).alias("total_tokens"),
        F.min("n_tok").alias("min_n_tok"),
        F.max("n_tok").alias("max_n_tok"),
        F.avg(n_tok).alias("mean_n_tok"),
        F.stddev_samp(n_tok).alias("sd_n_tok"),
        F.approx_count_distinct("doc_id").alias("approx_distinct_doc_id"),
        F.approx_count_distinct("source").alias("approx_distinct_source"),
    )


def missing_patterns(
    df: DataFrame,
    partition_col: str = "part_id",
    columns: list[str] | None = None,
) -> DataFrame:
    """Per-row missing-count patterns (A4; reference
    ``missing_values.py:176-206``): rows with any/multiple/all-null cells,
    max and avg missing per row — a row expression then one agg, instead of
    the reference's second full pandas pass.
    """
    cols = columns or [c for c in df.columns if c != partition_col]
    rowmiss = sum(F.col(c).isNull().cast("int") for c in cols)
    tagged = df.select(F.col(partition_col), rowmiss.alias("_rm"))
    n = len(cols)
    return tagged.groupBy(partition_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("_rm") > 0).cast("long")).alias("rows_with_missing"),
        F.round(
            F.sum((F.col("_rm") > 0).cast("long")) / F.count(F.lit(1)) * 100, 2
        ).alias("rows_with_missing_pct"),
        F.sum((F.col("_rm") > 1).cast("long")).alias("rows_multiple_missing"),
        F.sum((F.col("_rm") == n).cast("long")).alias("rows_all_missing"),
        F.max("_rm").alias("max_missing_in_row"),
        F.round(F.avg(F.col("_rm").cast("double")), 2).alias("avg_missing_per_row"),
    )


def sample_rows(
    df: DataFrame, n: int, seed: int = 42, exact: bool = False
) -> DataFrame:
    """Seeded ~n-row sample (O6; the reference's missing-data heatmap
    samples n=100 rows with seed 42 via pandas ``df.sample(n=...)``).

    Distributed Spark has no sample-by-count: ``df.sample`` takes a
    Bernoulli FRACTION, so an exact count needs either a prior count()
    (to derive the fraction) or a full shuffle-sort by rand. Default
    path: count once, oversample 1.5× (Bernoulli sampling only hits n in
    expectation), trim with limit(n) — one extra cheap job, no sort.
    ``exact=True`` instead pays a TakeOrdered by rand(seed) for exactly
    n rows with a stable selection."""
    if exact:
        return df.orderBy(F.rand(seed)).limit(n)
    total = df.count()
    if total <= n:
        return df
    frac = min(1.0, 1.5 * n / total)
    return df.sample(fraction=frac, seed=seed).limit(n)
