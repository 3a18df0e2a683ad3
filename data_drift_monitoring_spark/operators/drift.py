"""Distribution drift: PSI, KS, Jensen-Shannon, chi-square.

The reference's drift modules are 0-byte stubs
(``backend/app/core/drift/{psi,ks_test,chi_square,jensen_shannon}.py``); the
promised semantics are in ``README.md:42-62``: KS two-sample test, PSI with
0.1/0.25 thresholds, chi-square contingency, Jensen-Shannon divergence.

Distributed shape: drift is computed from HISTOGRAMS, never raw rows. The
current table contributes per-partition histograms (one aggregate) and the
reference snapshot histogram is tiny. Two exact forms of the statistics:

- ``drift_stats_broadcast`` (the pipeline's): the O(partitions × bins)
  histogram rows are collected and one numpy kernel, ``_drift_from_counts``,
  computes every statistic and p-value per (partition, column) group on the
  driver.
- ``drift_stats`` / ``numeric_drift`` / ``with_drift_pvalues``: pure column
  algebra + a window cumsum over the ~O(bins) rows per group with the
  reference broadcast (J4). It stays distributed, so it also serves
  vocabulary-sized histograms (``token_drift``), and it is the reference the
  tests hold the kernel to.

A global sort of 10^12 raw values for exact KS is impossible; per-value bins
on a bounded int domain (n_tok ∈ [1, 2048]) make the binned ECDF exact
(SURVEY.md §7.4.4).

Zero-bin convention (documented, mirrored by the DuckDB oracle in
``__spark_entry__``): proportions are clamped at EPS=1e-6 inside the PSI log;
JS uses the 0·log(0)=0 convention; chi-square skips bins empty in both
samples and uses dof = nonzero_bins - 1.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions.verdicts import psi_classification

PSI_EPS = 1e-6


def drift_stats(
    cur_hist: DataFrame,
    ref_hist: DataFrame,
    partition_col: str | None = "part_id",
    config: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Compare per-partition current histograms against a reference.

    cur_hist: (part_id?, col, bin, cnt); ref_hist: (col, bin, cnt).

    Returns one row per (part_id?, col):
      n_cur, n_ref, psi, psi_drift, js_divergence, chi2_stat, chi2_dof,
      ks_stat — every statistic exact given the histograms.
    """
    keys = [partition_col, "col"] if partition_col else ["col"]
    ref = ref_hist.select("col", "bin", F.col("cnt").alias("ref_cnt"))
    # the current histogram feeds three sub-plans (group list, bin universe,
    # the join itself); it is O(partitions x bins) rows — cache it so the
    # upstream aggregation over raw rows runs once
    cur = cur_hist.select(*keys, "bin", F.col("cnt").alias("cur_cnt")).cache()

    # bin universe per group = ref bins ∪ cur bins (ref side is broadcast)
    groups = cur.select(*keys).distinct()
    ref_bins = groups.join(
        F.broadcast(ref.select("col", "bin")), on="col", how="inner"
    ).select(*keys, "bin")
    universe = ref_bins.unionByName(cur.select(*keys, "bin")).distinct()

    m = (
        universe.join(cur, on=[*keys, "bin"], how="left")
        .join(F.broadcast(ref), on=["col", "bin"], how="left")
        .fillna(0, subset=["cur_cnt", "ref_cnt"])
    )

    w = Window.partitionBy(*keys)
    wo = (
        Window.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_cur = F.sum("cur_cnt").over(w)
    n_ref = F.sum("ref_cnt").over(w)
    p = F.col("cur_cnt") / n_cur
    q = F.col("ref_cnt") / n_ref
    p_c = F.greatest(p, F.lit(PSI_EPS))
    q_c = F.greatest(q, F.lit(PSI_EPS))
    mid = (p + q) / 2

    # chi-square 2×k contingency: E = row_total * col_total / grand_total
    tot = F.col("cur_cnt") + F.col("ref_cnt")
    e_cur = n_cur * tot / (n_cur + n_ref)
    e_ref = n_ref * tot / (n_cur + n_ref)

    terms = m.select(
        *keys,
        n_cur.alias("n_cur"),
        n_ref.alias("n_ref"),
        ((p - q) * F.log(p_c / q_c)).alias("psi_term"),
        (
            F.when(p > 0, 0.5 * p * F.log(p / mid)).otherwise(0.0)
            + F.when(q > 0, 0.5 * q * F.log(q / mid)).otherwise(0.0)
        ).alias("js_term"),
        F.when(
            tot > 0,
            F.pow(F.col("cur_cnt") - e_cur, 2) / e_cur
            + F.pow(F.col("ref_cnt") - e_ref, 2) / e_ref,
        )
        .otherwise(0.0)
        .alias("chi2_term"),
        (tot > 0).cast("long").alias("nonzero_bin"),
        F.abs(
            F.sum(F.col("cur_cnt")).over(wo) / n_cur
            - F.sum(F.col("ref_cnt")).over(wo) / n_ref
        ).alias("ecdf_gap"),
    )

    out = terms.groupBy(*keys).agg(
        F.first("n_cur").alias("n_cur"),
        F.first("n_ref").alias("n_ref"),
        F.sum("psi_term").alias("psi"),
        F.sum("js_term").alias("js_divergence"),
        F.sum("chi2_term").alias("chi2_stat"),
        (F.sum("nonzero_bin") - 1).alias("chi2_dof"),
        F.max("ecdf_gap").alias("ks_stat"),
    )
    out = out.withColumn("psi_drift", psi_classification(F.col("psi")))
    # same contract as plans.pipeline.build_verdicts: the cached histogram
    # is tracked on the result so repeated callers (e.g. a long-lived
    # service's detect_drift) can release it after materialization
    out._cached_intermediates = [cur]
    return out


def quantile_edges_from_hist(
    ref_hist, col: str, bins: int = DEFAULT_CONFIG.drift_bins
) -> list[float]:
    """Quantile bin edges from a (tiny) reference per-value histogram.

    PSI/chi-square are meaningless over thousands of sparse per-value bins
    (expected counts ≪ 5; the epsilon clamp dominates). Standard PSI practice
    bins by reference quantiles; the reference histogram is the broadcast-
    small side, so computing edges driver-side is free. Returns the interior
    edges (ascending, deduplicated).
    """
    rows = (
        ref_hist.filter(F.col("col") == col)
        .select(F.col("bin").cast("double").alias("v"), "cnt")
        .orderBy("v")
        .collect()
    )
    if not rows:
        return []
    import numpy as np

    vals = np.array([r["v"] for r in rows])
    cnts = np.array([r["cnt"] for r in rows], dtype=np.float64)
    cum = np.cumsum(cnts) / cnts.sum()
    targets = np.arange(1, bins) / bins
    idx = np.searchsorted(cum, targets)
    edges = sorted(set(vals[np.clip(idx, 0, len(vals) - 1)].tolist()))
    return [float(e) for e in edges]


def rebin_histogram(hist: DataFrame, col: str, edges: list[float]) -> DataFrame:
    """Map a per-value histogram's numeric bins into coarse quantile buckets:
    bucket = #edges ≤ value (a handful of literal comparisons — pure
    codegen, no join). Non-matching cols pass through untouched."""
    keys = [c for c in hist.columns if c not in ("col", "bin", "cnt")]
    v = F.col("bin").cast("double")
    bucket = sum((v > F.lit(e)).cast("int") for e in edges)
    target = hist.filter(F.col("col") == col)
    out = (
        target.select(
            *keys, "col", F.lpad(bucket.cast("string"), 6, "0").alias("bin"), "cnt"
        )
        .groupBy(*keys, "col", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    rest = hist.filter(F.col("col") != col)
    return out.unionByName(rest.select(*keys, "col", "bin", "cnt"))


def numeric_drift(
    cur_fine: DataFrame,
    ref_fine: DataFrame,
    col: str,
    partition_col: str | None = "part_id",
    config: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Composite numeric drift: KS from the exact per-value histogram,
    PSI/JS/chi-square from the quantile-rebinned histogram (both derived
    from ONE scan's per-value aggregate — rebinning touches only the tiny
    histogram rows)."""
    keys = [partition_col, "col"] if partition_col else ["col"]
    cur_fine = cur_fine.cache()  # feeds the fine KS pass and the rebin pass
    edges = quantile_edges_from_hist(ref_fine, col, config.drift_bins)
    fine = drift_stats(cur_fine, ref_fine, partition_col, config).select(
        *keys, "n_cur", "n_ref", "ks_stat"
    )
    coarse = drift_stats(
        rebin_histogram(cur_fine, col, edges),
        rebin_histogram(ref_fine, col, edges),
        partition_col,
        config,
    ).drop("ks_stat", "n_cur", "n_ref")
    return fine.join(coarse, on=keys, how="inner")


def _quantile_edges_from_counts(vals, cnts, bins: int) -> list[float]:
    """numpy twin of ``quantile_edges_from_hist`` over (value, count) arrays."""
    import numpy as np

    order = np.argsort(vals)
    vals, cnts = np.asarray(vals, float)[order], np.asarray(cnts, float)[order]
    cum = np.cumsum(cnts) / cnts.sum()
    targets = np.arange(1, bins) / bins
    idx = np.searchsorted(cum, targets)
    return sorted(set(vals[np.clip(idx, 0, len(vals) - 1)].tolist()))


def _drift_from_counts(
    cur: dict, ref: dict, numeric: bool, bins: int
) -> dict:
    """All drift statistics for one (partition, column) group from two
    bin→count dicts — numpy twin of the drift_stats/numeric_drift
    composition (same universe, clamp, zero-bin and dof conventions):
    KS from the fine per-value ECDF (exact on bounded int domains);
    PSI/JS/chi-square on reference-quantile buckets for numeric columns,
    raw categories otherwise; p-values from functions.pvalues."""
    import numpy as np

    from ..functions.pvalues import chi2_sf, ks_2samp_pvalue

    all_bins = sorted(set(cur) | set(ref))
    c = np.array([float(cur.get(b, 0)) for b in all_bins])
    r = np.array([float(ref.get(b, 0)) for b in all_bins])
    n_cur, n_ref = c.sum(), r.sum()
    ks = (
        float(np.abs(np.cumsum(c) / n_cur - np.cumsum(r) / n_ref).max())
        if n_cur > 0 and n_ref > 0
        else float("nan")
    )

    if numeric and ref:
        edges = _quantile_edges_from_counts(
            [float(b) for b in ref], list(ref.values()), bins
        )
        vals = np.array([float(b) for b in all_bins])
        bucket = np.searchsorted(np.array(edges), vals, side="left")
        # searchsorted(side=left) == sum(v > e): v in (e_{i-1}, e_i] → i
        nb = len(edges) + 1
        c = np.bincount(bucket, weights=c, minlength=nb)
        r = np.bincount(bucket, weights=r, minlength=nb)

    p, q = c / n_cur, r / n_ref
    p_c = np.maximum(p, PSI_EPS)
    q_c = np.maximum(q, PSI_EPS)
    psi = float(((p - q) * np.log(p_c / q_c)).sum())
    mid = (p + q) / 2
    with np.errstate(divide="ignore", invalid="ignore"):
        js = float(
            np.where(p > 0, 0.5 * p * np.log(p / mid), 0.0).sum()
            + np.where(q > 0, 0.5 * q * np.log(q / mid), 0.0).sum()
        )
    tot = c + r
    nz = tot > 0
    e_cur = n_cur * tot[nz] / (n_cur + n_ref)
    e_ref = n_ref * tot[nz] / (n_cur + n_ref)
    chi2 = float(
        ((c[nz] - e_cur) ** 2 / e_cur + (r[nz] - e_ref) ** 2 / e_ref).sum()
    )
    dof = int(nz.sum()) - 1
    return {
        "n_cur": int(n_cur),
        "n_ref": int(n_ref),
        "psi": psi,
        "js_divergence": js,
        "ks_stat": ks,
        "chi2_stat": chi2,
        "chi2_dof": dof,
        "ks_pvalue": ks_2samp_pvalue(ks, n_cur, n_ref),
        "chi2_pvalue": chi2_sf(chi2, dof),
    }


_KERNEL_SCHEMA = (
    "part_id int, col string, n_cur long, n_ref long, psi double, "
    "js_divergence double, ks_stat double, chi2_stat double, chi2_dof long, "
    "ks_pvalue double, chi2_pvalue double"
)


def collect_ref_hist(ref_hist: DataFrame) -> dict[str, dict]:
    """The reference histograms (tiny by construction) as col → bin → cnt."""
    ref_map: dict[str, dict] = {}
    for row in ref_hist.select("col", "bin", "cnt").collect():
        bins = ref_map.setdefault(row["col"], {})
        bins[row["bin"]] = bins.get(row["bin"], 0) + row["cnt"]
    return ref_map


def drift_from_histograms(
    cur_rows, ref_map: dict[str, dict], numeric_cols, bins: int
) -> list[dict]:
    """Driver-side drift over collected (part_id, col, bin, cnt) rows: one
    ``_drift_from_counts`` result (plus part_id and col) per (partition,
    column) group present in ``cur_rows``."""
    groups: dict[tuple, dict] = {}
    for part_id, col, b, cnt in cur_rows:
        g = groups.setdefault((part_id, col), {})
        g[b] = g.get(b, 0) + cnt
    return [
        {
            "part_id": part_id,
            "col": col,
            **_drift_from_counts(
                cur, ref_map.get(col, {}), col in numeric_cols, bins
            ),
        }
        for (part_id, col), cur in groups.items()
    ]


def _with_drift_flags(
    drift: DataFrame, config: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Significance verdicts over drift-stat rows that carry p-values. A NaN
    PSI (column absent from the reference) is not drift by itself."""
    t = config.thresholds
    psi = F.col("psi")
    return (
        drift.withColumn("ks_significant", F.col("ks_pvalue") < t.ks_alpha)
        .withColumn("chi2_significant", F.col("chi2_pvalue") < t.chi2_alpha)
        .withColumn(
            "drift_detected",
            ((psi >= t.psi_moderate) & ~F.isnan(psi))
            | F.col("ks_significant")
            | F.col("chi2_significant"),
        )
    )


def drift_stats_broadcast(
    cur_hist: DataFrame,
    ref_hist: DataFrame,
    numeric_cols: frozenset | set = frozenset(),
    partition_col: str = "part_id",
    config: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Drift on the driver: the current per-partition histograms are
    O(partitions × bins) rows, so they are collected together with the
    reference histograms, every statistic AND p-value for a (partition,
    column) group comes from the numpy kernel ``_drift_from_counts``, and
    the result is a small local DataFrame. Same output as the
    drift_stats→rebin→numeric_drift→with_drift_pvalues composition (~10
    stages of windows/joins), with no Python worker and no stage of its
    own: the only distributed work is the histogram aggregate that feeds
    it (SURVEY.md §2.10). Vocabulary-sized histograms (``token_drift``)
    stay on the distributed ``drift_stats``."""
    keys = [partition_col] if partition_col else []
    rows = cur_hist.select(*keys, "col", "bin", "cnt").collect()
    if not partition_col:
        rows = [(None, *r) for r in rows]
    stats = drift_from_histograms(
        rows, collect_ref_hist(ref_hist), set(numeric_cols), config.drift_bins
    )
    out = cur_hist.sparkSession.createDataFrame(stats, _KERNEL_SCHEMA)
    out = _with_drift_flags(
        out.withColumn(
            "psi_drift", psi_classification(F.col("psi"), config.thresholds)
        ),
        config,
    )
    return out if partition_col else out.drop("part_id")


def with_drift_pvalues(
    drift: DataFrame, config: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Attach asymptotic p-values (KS, chi-square) via an Arrow-vectorized
    pandas UDF over the tiny drift-stat rows (numpy implementations in
    functions.pvalues — scipy-free), plus significance verdicts."""
    from pyspark.sql.functions import pandas_udf

    from ..functions.pvalues import chi2_sf_vec, ks_2samp_pvalue_vec

    @pandas_udf("double")
    def _ks_p(d: pd.Series, n1: pd.Series, n2: pd.Series) -> pd.Series:
        return pd.Series(
            ks_2samp_pvalue_vec(
                d.to_numpy(float), n1.to_numpy(float), n2.to_numpy(float)
            )
        )

    @pandas_udf("double")
    def _chi2_p(stat: pd.Series, dof: pd.Series) -> pd.Series:
        return pd.Series(
            chi2_sf_vec(stat.to_numpy(float), dof.to_numpy(float))
        )

    return _with_drift_flags(
        drift.withColumn(
            "ks_pvalue", _ks_p(F.col("ks_stat"), F.col("n_cur"), F.col("n_ref"))
        ).withColumn(
            "chi2_pvalue",
            _chi2_p(F.col("chi2_stat"), F.col("chi2_dof").cast("double")),
        ),
        config,
    )


def token_unigram_histogram(
    df: DataFrame,
    tokens_col: str = "tokens",
    partition_col: str | None = None,
    name: str | None = None,
) -> DataFrame:
    """Unigram histogram of a token-array column: (part_id?, col, bin, cnt).

    Scale shape: the explode is narrow (no shuffle) and the count
    partial-aggregates map-side, so the single exchange carries at most
    |vocab| rows per map task regardless of corpus size — at 10^12
    sequences the shuffled bytes are bounded by vocab x tasks, never by
    token occurrences. ``bin`` is the zero-padded token id (lexicographic
    == numeric order) so the result plugs into :func:`drift_stats`
    unchanged.
    """
    name = name or f"{tokens_col}_unigram"
    keys = [partition_col] if partition_col else []
    return (
        df.select(*keys, F.explode(F.col(tokens_col)).alias("tok"))
        .groupBy(*keys, "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            *keys,
            F.lit(name).alias("col"),
            # width 10 covers every int32 id (2147483646): Spark lpad
            # TRUNCATES strings longer than the pad width, so 8 would
            # silently merge distinct ids >= 10^8 into shared bins at
            # realistic vocab sizes (tokenize_words defaults to 2^31-1)
            F.lpad(F.col("tok").cast("string"), 10, "0").alias("bin"),
            "cnt",
        )
    )


def token_drift(
    cur: DataFrame,
    ref: DataFrame,
    tokens_col: str = "tokens",
    config: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Unigram-distribution drift between two token-sequence tables.

    Drift on the token ids themselves (vocabulary usage) rather than the
    sequence-length proxy ``n_tok``: PSI / JS / chi-square via
    :func:`drift_stats` over the two vocab-bounded unigram histograms,
    plus out-of-vocabulary evidence — ``new_tokens`` (ids occurring in
    ``cur`` but never seen in ``ref``) and ``oov_pct`` (share of current
    token OCCURRENCES on those unseen ids). ``ks_stat`` is dropped:
    hashed token ids carry no meaningful order, so an ECDF gap over them
    is noise.

    Reference parity note: the reference's drift modules are 0-byte stubs
    (``backend/app/core/drift/*.py``); this extends the promised
    column-level drift to the token payload itself (BASELINE.json
    north-star: drift checks over pre-tokenized training sequences).
    """
    cur_h = token_unigram_histogram(cur, tokens_col).cache()
    ref_h = token_unigram_histogram(ref, tokens_col)
    stats = drift_stats(cur_h, ref_h, partition_col=None, config=config)
    # OOV from the same cached cur histogram; ref side is vocab-bounded
    # and broadcast, so this adds no second scan of either corpus
    oov = (
        cur_h.join(
            F.broadcast(ref_h.select("bin", F.lit(1).alias("_seen"))),
            on="bin",
            how="left",
        )
        .groupBy("col")
        .agg(
            F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("new_tokens"),
            (
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("_seen").isNull(), F.col("cnt")).otherwise(
                        F.lit(0)
                    )
                )
                / F.sum("cnt")
            ).alias("oov_pct"),
        )
    )
    out = stats.drop("ks_stat").join(oov, on="col", how="left")
    out._cached_intermediates = [cur_h, *getattr(stats, "_cached_intermediates", [])]
    return out
