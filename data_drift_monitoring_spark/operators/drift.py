"""Distribution drift: PSI, KS, Jensen-Shannon, chi-square.

The reference's drift modules are 0-byte stubs
(``backend/app/core/drift/{psi,ks_test,chi_square,jensen_shannon}.py``); the
promised semantics are in ``README.md:42-62``: KS two-sample test, PSI with
0.1/0.25 thresholds, chi-square contingency, Jensen-Shannon divergence.

Drift is computed from HISTOGRAMS, never raw rows, by one numpy kernel on
the driver, ``_drift_from_counts``. The only distributed work is the
histogram aggregate: the current side is O(partitions × bins) rows and the
reference side is small, so both are collected and the kernel computes
every statistic and p-value per (partition, column) group. Every drift
caller goes through it: the pipeline (``drift_from_histograms``),
``drift_stats_broadcast`` (``ValidationService.detect_drift``, the drift
gate queries) and ``token_drift``.

``token_drift`` collects both unigram histograms, with no cap and no
distributed fallback. Each side has at most one row per distinct token id
(32,768 in ``q_token_drift``, 50,257 for a GPT-2 vocabulary), and the
distributed form it replaces already shipped the whole reference unigram
histogram through the driver as a broadcast, so collecting the current
side too at most doubles a limit the code already had.

A global sort of 10^12 raw values for exact KS is impossible; per-value bins
on a bounded int domain (n_tok ∈ [1, 2048]) make the binned ECDF exact
(SURVEY.md §7.4.4).

Zero-bin convention (documented, mirrored by the DuckDB oracle in
``__spark_entry__``): proportions are clamped at EPS=1e-6 inside the PSI log;
JS uses the 0·log(0)=0 convention; chi-square skips bins empty in both
samples and uses dof = nonzero_bins - 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import DRIFT_BINS
from ..functions.verdicts import drift_flags
from ..session import local_frame

PSI_EPS = 1e-6


def _quantile_edges_from_counts(vals, cnts, bins: int) -> list[float]:
    """Interior bin edges (ascending, deduplicated) at the reference
    quantiles of a (value, count) histogram. PSI/chi-square are meaningless
    over thousands of sparse per-value bins (expected counts ≪ 5; the
    epsilon clamp dominates), so standard PSI practice bins by reference
    quantiles."""
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
    bin→count dicts over the bin universe cur ∪ ref, in bin order:
    KS from the fine per-value ECDF (exact on bounded int domains);
    PSI/JS/chi-square on reference-quantile buckets for numeric columns,
    raw categories otherwise; p-values from functions.pvalues; the drift
    flags from ``verdicts.drift_flags``."""
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
    ks_pvalue, chi2_pvalue = ks_2samp_pvalue(ks, n_cur, n_ref), chi2_sf(chi2, dof)
    return {
        "n_cur": int(n_cur),
        "n_ref": int(n_ref),
        "psi": psi,
        "js_divergence": js,
        "ks_stat": ks,
        "chi2_stat": chi2,
        "chi2_dof": dof,
        "ks_pvalue": ks_pvalue,
        "chi2_pvalue": chi2_pvalue,
        **drift_flags(psi, ks_pvalue, chi2_pvalue),
    }


_KERNEL_SCHEMA = (
    "part_id int, col string, n_cur long, n_ref long, psi double, "
    "js_divergence double, ks_stat double, chi2_stat double, chi2_dof long, "
    "ks_pvalue double, chi2_pvalue double, psi_drift string, "
    "ks_significant boolean, chi2_significant boolean, drift_detected boolean"
)


def hist_map(rows) -> dict[str, dict]:
    """Collected (col, bin, cnt) histogram rows — the reference, or any side
    without partitions — as col → bin → cnt."""
    ref_map: dict[str, dict] = {}
    for row in rows:
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


def drift_stats_broadcast(
    cur_hist: DataFrame,
    ref_hist: DataFrame,
    numeric_cols: frozenset | set = frozenset(),
    partition_col: str = "part_id",
) -> DataFrame:
    """Drift on the driver: the current per-partition histograms are
    O(partitions × bins) rows, so they are collected together with the
    reference histograms, every statistic, p-value and drift flag for a
    (partition, column) group comes from the numpy kernel
    ``_drift_from_counts``, and the result is a small local DataFrame built
    through Arrow (``local_frame``): no Python worker and no stage of its
    own; the only distributed work is the histogram aggregate that feeds it
    (SURVEY.md §2.10). Columns in ``numeric_cols`` get PSI/JS/chi² on
    reference-quantile buckets; every other column is compared bin by bin.
    A column absent from the reference gets n_ref = 0 and NaN statistics. ``partition_col=None`` takes (col, bin, cnt) histograms and
    drops ``part_id`` from the output."""
    keys = [partition_col] if partition_col else []
    rows = cur_hist.select(*keys, "col", "bin", "cnt").collect()
    if not partition_col:
        rows = [(None, *r) for r in rows]
    ref_map = hist_map(ref_hist.select("col", "bin", "cnt").collect())
    stats = drift_from_histograms(rows, ref_map, set(numeric_cols), DRIFT_BINS)
    out = local_frame(cur_hist.sparkSession, stats, _KERNEL_SCHEMA)
    return out if partition_col else out.drop("part_id")


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
    == numeric order) so the result plugs into the drift kernel
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
) -> DataFrame:
    """Unigram-distribution drift between two token-sequence tables.

    Drift on the token ids themselves (vocabulary usage) rather than the
    sequence-length proxy ``n_tok``: PSI / JS / chi-square from the drift
    kernel over the two collected vocab-bounded unigram histograms (see the
    module docstring for why collecting is safe), plus out-of-vocabulary
    evidence from the same two dicts — ``new_tokens`` (ids occurring in
    ``cur`` but never seen in ``ref``) and ``oov_pct`` (share of current
    token OCCURRENCES on those unseen ids). ``ks_stat`` is dropped:
    hashed token ids carry no meaningful order, so an ECDF gap over them
    is noise. One row, or none when ``cur`` has no tokens.

    Reference parity note: the reference's drift modules are 0-byte stubs
    (``backend/app/core/drift/*.py``); this extends the promised
    column-level drift to the token payload itself (BASELINE.json
    north-star: drift checks over pre-tokenized training sequences).
    """
    name = f"{tokens_col}_unigram"
    cur_map, ref_map = (
        hist_map(token_unigram_histogram(df, tokens_col).collect()).get(name, {})
        for df in (cur, ref)
    )
    rows = []
    if cur_map:
        st = _drift_from_counts(cur_map, ref_map, False, DRIFT_BINS)
        oov = [c for b, c in cur_map.items() if b not in ref_map]
        rows.append({
            **st, "col": name, "new_tokens": len(oov),
            "oov_pct": 100.0 * sum(oov) / st["n_cur"],
        })
    return local_frame(
        cur.sparkSession,
        rows,
        "col string, n_cur long, n_ref long, psi double, js_divergence double, "
        "chi2_stat double, chi2_dof long, psi_drift string, new_tokens long, "
        "oov_pct double",
    )
