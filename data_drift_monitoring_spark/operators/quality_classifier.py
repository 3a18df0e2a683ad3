"""Supervised quality classifier: driver-fit logistic regression over
cheap text features, broadcast-free JVM scoring.

The heuristic quality score (``text_analysis.with_quality_score``) is a
fixed formula; real curation pipelines (CCNet, GPT-3's WebText
classifier, LLaMA's Wikipedia-reference classifier) instead FIT a
lightweight linear model on a labeled seed set and score the whole
corpus with it. This module is that step in Spark terms:

  * features are the same strict-oracle-verified per-row expressions the
    quality heuristic uses (chars, words, stopword hits, punctuation —
    all codegen'd built-ins, zero shuffle, exact DuckDB mirrors);
  * the fit is full-batch gradient descent in float64 numpy on a
    bounded, canonically-sorted driver sample (the isolation-forest
    pattern: lexsort makes the model a function of the row MULTISET,
    reproducible across any partition layout when the sample bound
    doesn't bind);
  * scoring embeds the fitted weights as LITERALS in a pure-expression
    projection — sigmoid(w·(x-mu)/sigma + b) in whole-stage codegen, no
    UDF, no broadcast variable, nothing per-row in Python.

``keep`` uses ``round(prob, 6) >= threshold`` so the decision is
reproducible across engines (IEEE exp implementations can differ in the
last ulp; six decimals is far beyond any such difference but well under
any meaningful probability distinction).

The reference has no trainable component (its quality checks are fixed
thresholds: backend/app/services/quality_check.py:25-191); this is a
training-pipeline extension beside ``isolation_forest.py`` (unsupervised
twin) and ``text_analysis.py`` (the feature definitions).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ._tokenize import normalized_text
from .text_analysis import STOPWORDS_EN, _ASCII_PUNCT

FEATURES = ("log_chars", "chars_per_word", "stopword_frac", "punct_ratio")

_SEED = 67


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """df + the four FEATURES columns (double). Same staged-intermediate
    structure as ``with_quality_score`` (each expensive expression occurs
    once in the optimized plan); formulas are the strict-verified mirrors
    of the q_quality_scores oracle."""
    t = F.col(text_col)
    stop_pat = "(?<= )(" + "|".join(STOPWORDS_EN) + ")(?= )"
    norm = normalized_text(t, trim=True)
    staged = (
        df.withColumn("__qc_chars", F.length(t))
        .withColumn("__qc_norm", norm)
        .withColumn(
            "__qc_stop",
            F.regexp_count(
                F.concat(F.lit(" "), F.col("__qc_norm"), F.lit(" ")),
                F.lit(stop_pat),
            ),
        )
        .withColumn(
            "__qc_punct", F.length(t) - F.length(F.translate(t, _ASCII_PUNCT, ""))
        )
        .withColumn("__qc_nw", F.size(F.split("__qc_norm", " ")))
    )
    chars = F.col("__qc_chars").cast("double")
    nw = F.greatest(F.col("__qc_nw"), F.lit(1)).cast("double")
    return staged.select(
        "*",
        F.log1p(chars).alias("log_chars"),
        (chars / nw).alias("chars_per_word"),
        (F.col("__qc_stop").cast("double") / nw).alias("stopword_frac"),
        (
            F.col("__qc_punct").cast("double")
            / F.greatest(F.col("__qc_chars"), F.lit(1)).cast("double")
        ).alias("punct_ratio"),
    ).drop("__qc_norm", "__qc_chars", "__qc_stop", "__qc_punct", "__qc_nw")


@dataclass
class QualityClassifierModel:
    """Fitted standardized-logistic model; plain floats, trivially
    serializable, and small enough to embed as plan literals."""

    weights: list[float]
    bias: float
    mu: list[float]
    sigma: list[float]
    features: tuple[str, ...] = FEATURES
    iters: int = 400
    lr: float = 0.5
    history: list[float] = field(default_factory=list)


def model_from_dict(d: dict) -> QualityClassifierModel:
    """Rehydrate a fitted model from the weights artifact the
    score_quality CLI emits ({features, weights, bias, mu, sigma}) —
    13 floats, so artifacts are text-diffable and survive any store."""
    return QualityClassifierModel(
        weights=[float(x) for x in d["weights"]],
        bias=float(d["bias"]),
        mu=[float(x) for x in d["mu"]],
        sigma=[float(x) for x in d["sigma"]],
        features=tuple(d.get("features", FEATURES)),
    )


def _fit_sample_frame(
    df: DataFrame,
    label_col: str,
    text_col: str,
    max_sample: int,
    seed: int,
) -> DataFrame:
    """The bounded, deterministic, layout-invariant fit sample as a
    DataFrame (FEATURES + __y), ordered by (row-hash mod, row-hash,
    values) and limited to ``max_sample``. When the corpus exceeds
    3×max_sample a hash-Bernoulli pre-thin on the SAME leading mod
    value runs first — it keeps a strict prefix of the selection order,
    so the final sample is identical to the unthinned run whenever
    ≥ max_sample rows fall under the cut (E[rows under cut] =
    3·max_sample; Chernoff makes a shortfall negligible), while capping
    the TakeOrdered input at ~3×max_sample rows corpus-wide."""
    feats = quality_features(df, text_col).select(
        *FEATURES, F.col(label_col).cast("double").alias("__y")
    )
    cols = [F.col(c) for c in (*FEATURES, "__y")]
    rowhash = F.xxhash64(*cols, F.lit(seed))
    denom = 1 << 20
    mod = F.pmod(rowhash, F.lit(denom))
    cand = feats.dropna()
    n = df.count()  # column-pruned count of the raw frame (no features)
    if n > 3 * max_sample:
        cut = int((3.0 * max_sample / n) * denom)
        cand = cand.filter(mod < F.lit(cut))
    return cand.orderBy(mod.asc(), rowhash.asc(), *cols).limit(max_sample)


def fit_quality_classifier(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    max_sample: int = 200_000,
    iters: int = 400,
    lr: float = 0.5,
    seed: int = _SEED,
) -> QualityClassifierModel:
    """Full-batch logistic regression on a bounded driver sample.

    Deterministic AND layout-invariant: rows are ordered by a seeded
    row-content hash (xxhash64 of the feature/label values — a pure
    function of the row, unlike ``rand(seed)``/``sample()`` whose
    per-partition RNG streams change with the partition layout), with
    the raw values as tie-breakers, then lexsorted driver-side so
    gradient summation order is a function of the sampled row multiset
    only. Features are standardized with the training sample's
    mean/std (zero-variance features get sigma=1, weight stays ~0).

    Driver-merge bound: a bare ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject — every task forwards up to k rows and the
    driver merges ``partitions × k`` candidates, a multi-billion-row
    driver merge at 100-TB partition counts. A deterministic
    hash-Bernoulli pre-thin (same row hash, so it selects a superset of
    the final hash-ordered sample whenever the oversample factor holds)
    caps the TakeOrdered input at ~3×max_sample rows corpus-wide.
    """
    pdf = _fit_sample_frame(
        df, label_col, text_col, max_sample, seed
    ).toPandas()
    if len(pdf) == 0:
        raise ValueError("no complete rows to fit on")
    m = pdf.to_numpy(dtype=np.float64)
    m = m[np.lexsort(m.T[::-1])]
    x, y = m[:, :-1], m[:, -1]
    mu = x.mean(axis=0)
    sigma = x.std(axis=0)
    # constant columns leave ~1e-15 mean-subtraction residue, not an
    # exact 0 — guard with an epsilon so z isn't noise blown up by 1e15
    sigma[sigma <= 1e-9] = 1.0
    z = (x - mu) / sigma
    w = np.zeros(z.shape[1])
    b = 0.0
    history = []
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(z @ w + b)))
        err = p - y
        w -= lr * (z.T @ err) / len(z)
        b -= lr * float(err.mean())
        history.append(float(np.mean(y * np.log(np.clip(p, 1e-12, 1))
                                     + (1 - y) * np.log(np.clip(1 - p, 1e-12, 1)))))
    return QualityClassifierModel(
        weights=[float(v) for v in w],
        bias=float(b),
        mu=[float(v) for v in mu],
        sigma=[float(v) for v in sigma],
        iters=iters,
        lr=lr,
        history=history,
    )


def score_quality(
    df: DataFrame,
    model: QualityClassifierModel,
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """df + ``quality_prob`` (sigmoid, rounded to 6 decimals) and
    ``keep`` (prob >= threshold). Weights are literals — the whole
    scoring pass is one codegen'd projection, zero shuffle."""
    feats = quality_features(df, text_col)
    logit = F.lit(model.bias)
    for name, w, mu, s in zip(model.features, model.weights, model.mu, model.sigma):
        logit = logit + F.lit(w) * ((F.col(name) - F.lit(mu)) / F.lit(s))
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return feats.withColumn("quality_prob", prob).withColumn(
        "keep", F.col("quality_prob") >= F.lit(threshold)
    )


def classifier_report(
    scored: DataFrame,
    label_col: str,
    group_col: str = "source",
) -> DataFrame:
    """Per-group evaluation of a scored frame: docs, mean probability,
    kept count, and agreement with the labels."""
    lbl = F.col(label_col).cast("int")
    pred = F.col("keep").cast("int")
    return (
        scored.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality_prob"), 6).alias("mean_prob"),
            F.sum(pred).alias("kept"),
            F.sum((pred == lbl).cast("bigint")).alias("agree"),
        )
        .orderBy(group_col)
    )
