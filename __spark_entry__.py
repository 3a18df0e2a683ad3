"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship per-partition validation pipeline over a
tokenized-sequence view derived from the documents table at sf0.001.
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2 (+ the training-data ops); ``oracle_sql()`` gives the DuckDB
equivalent for every SQL-expressible one. Column names/aliases match
pairwise; doubles are rounded to stabilize cross-engine value hashes.

Shared conventions between Spark queries and DuckDB oracles:
- word tokens = split on a single space of whitespace-collapsed lowercased
  text (both engines)
- PSI/JS use natural log with proportions clamped at 1e-6 (drift.PSI_EPS)
- chi-square: 2xk contingency expected counts, bins empty in both skipped
- quantiles: exact linear interpolation (Spark `percentile` == DuckDB
  `quantile_cont`)
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_drift_monitoring_spark.operators import contamination as _contam
from data_drift_monitoring_spark.operators import dedup as _dedup
from data_drift_monitoring_spark.operators import drift as _drift
from data_drift_monitoring_spark.operators import embedding_drift as _edrift
from data_drift_monitoring_spark.operators import histogram as _hist
from data_drift_monitoring_spark.operators import outliers as _out
from data_drift_monitoring_spark.operators import sampling as _sampling
from data_drift_monitoring_spark.operators import similarity as _sim
from data_drift_monitoring_spark.operators import sharding as _sharding
from data_drift_monitoring_spark.operators import span_dedup as _span
from data_drift_monitoring_spark.operators import stats as _stats
from data_drift_monitoring_spark.operators import text_analysis as _ta
from data_drift_monitoring_spark.operators import uniqueness as _uni
from data_drift_monitoring_spark.operators.referential import (
    referential_stats,
    referential_violations,
)
from data_drift_monitoring_spark.session import local_frame

# documents.source values src0..src9 are "allowed"; src10+ violate
ALLOWED_DOC_SOURCES = [f"src{i}" for i in range(10)]


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _source_dim(spark: SparkSession, sources: list[str]) -> DataFrame:
    """A ``source string`` dimension as a local scan: no action on it starts
    a Python worker."""
    return local_frame(spark, [(s,) for s in sources], "source string")


def _sequences_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenized-sequence table derived deterministically from documents:
    doc_id, tokens (per-word 31-bit hashes — Spark-side only), n_tok =
    word count, source, part_id = doc_id % 8. The oracle mirrors every
    column except `tokens` (hash functions differ across engines; all
    oracle-checked stats depend only on n_tok/source/doc_id)."""
    d = _read(spark, sf_dir, "documents")
    words = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.transform(
            words, lambda w: F.pmod(F.xxhash64(w), F.lit((1 << 31) - 1)).cast("int")
        ).alias("tokens"),
        F.size(words).cast("int").alias("n_tok"),
        F.col("source"),
        F.pmod(F.col("doc_id"), F.lit(8)).cast("int").alias("part_id"),
    )


_SEQ_ORACLE = """
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS n_tok,
           source,
           CAST(doc_id % 8 AS INT) AS part_id
    FROM documents
"""


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-partition contract verdicts over the sf0.001-derived
    sequence table (stats + length consistency + uniqueness + referential),
    the reference's /check_quality generalized per partition."""
    sf_dir = "/root/testdata/sf0.001"
    seq = _sequences_view(spark, sf_dir)
    from data_drift_monitoring_spark.plans.pipeline import build_verdicts

    dim = _source_dim(
        spark, ALLOWED_DOC_SOURCES + [f"src{i}" for i in range(10, 20)]
    )
    return build_verdicts(seq, ref_stats=None, allowed_sources=dim)


# ---------------------------------------------------------------------------
# queries — each callable: (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------

def q_seq_stats(spark, sf_dir):
    seq = _sequences_view(spark, sf_dir)
    # swap tokens for a constant array so column pruning skips the per-word
    # hashing (the selected stats don't read tokens)
    out = _stats.sequence_stats(
        seq.drop("tokens").withColumn("tokens", F.array(F.lit(0)))
    )
    # tokens column is engine-only; keep the oracle-checkable columns
    return out.select(
        "part_id",
        "n_rows",
        "null_doc_id",
        "null_source",
        "total_tokens",
        "min_n_tok",
        "max_n_tok",
        F.round("mean_n_tok", 4).alias("mean_n_tok"),
        F.round("sd_n_tok", 4).alias("sd_n_tok"),
    ).orderBy("part_id")


def q_len_consistency(spark, sf_dir):
    """documents carries a declared n_chars — the real-world analogue of the
    n_tok/size(tokens) contract (A20)."""
    d = _read(spark, sf_dir, "documents")
    return (
        d.groupBy(F.pmod(F.col("doc_id"), F.lit(8)).cast("int").alias("part_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (F.length("text") != F.col("n_chars")).cast("long")
            ).alias("len_mismatch"),
        )
        .orderBy("part_id")
    )


def q_missing_profile(spark, sf_dir):
    ev = _read(spark, sf_dir, "events").withColumn("part_id", F.lit(0))
    prof = _stats.column_profile(ev, columns=["user_id", "value", "props"])
    return prof.select(
        F.col("column").alias("col_name"), "n_rows", "null_count", "null_pct"
    ).orderBy("col_name")


def q_numeric_summary(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        )
        .orderBy("l_returnflag")
    )


def q_quantiles(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    p = F.percentile(
        F.col("l_extendedprice"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return li.agg(
        F.round(p[0], 4).alias("q1"),
        F.round(p[1], 4).alias("median"),
        F.round(p[2], 4).alias("q3"),
    )


def q_outlier_iqr(spark, sf_dir):
    """IQR outlier counts per group (A6/A7/P3) — two-pass exact-quantile."""
    li = _read(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_returnflag", "part_id_s"
    )
    g = li.groupBy("part_id_s").agg(
        F.percentile(F.col("l_extendedprice"), F.lit(0.25)).alias("q1"),
        F.percentile(F.col("l_extendedprice"), F.lit(0.75)).alias("q3"),
    )
    b = g.select(
        "part_id_s",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    j = li.join(F.broadcast(b), on="part_id_s")
    return (
        j.groupBy("part_id_s")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (
                    (F.col("l_extendedprice") < F.col("lo"))
                    | (F.col("l_extendedprice") > F.col("hi"))
                ).cast("long")
            ).alias("outliers"),
        )
        .select(
            F.col("part_id_s").alias("l_returnflag"), "n_rows", "outliers"
        )
        .orderBy("l_returnflag")
    )


def q_zscore_outliers(spark, sf_dir):
    o = _read(spark, sf_dir, "orders")
    g = o.groupBy("o_orderpriority").agg(
        F.avg("o_totalprice").alias("mu"),
        F.stddev_samp("o_totalprice").alias("sd"),
    )
    j = o.join(F.broadcast(g), on="o_orderpriority")
    z = F.abs((F.col("o_totalprice") - F.col("mu")) / F.col("sd"))
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((z > 3.0).cast("long")).alias("z_outliers"),
        )
        .orderBy("o_orderpriority")
    )


def q_histogram(spark, sf_dir):
    o = _read(spark, sf_dir, "orders")
    return (
        _hist.numeric_histogram(
            o, "o_totalprice", lo=0.0, hi=600000.0, bins=20, partition_col=None
        )
        .select("col", "bin", "cnt")
        .orderBy("bin")
    )


def q_topk_values(spark, sf_dir):
    p = _read(spark, sf_dir, "part")
    return _hist.top_k_values(p, "p_brand", k=5)


def q_distinct_counts(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_orderkey").alias("d_orderkey"),
        F.countDistinct("l_partkey").alias("d_partkey"),
        F.countDistinct("l_returnflag").alias("d_returnflag"),
        F.countDistinct("l_orderkey", "l_linenumber").alias("d_pk"),
    )


def q_duplicates(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem").withColumn(
        "part_id", F.lit(0).cast("int")
    )
    return _uni.duplicate_stats(li, keys=["l_partkey", "l_suppkey"]).select(
        "n_rows", "duplicate_rows", "duplicate_groups", "duplicate_pct", "unique_keys"
    )


def q_referential_ok(spark, sf_dir):
    c = _read(spark, sf_dir, "customer").withColumn(
        "part_id", F.pmod("c_custkey", F.lit(4)).cast("int")
    )
    n = _read(spark, sf_dir, "nation")
    return referential_stats(c, n, "c_nationkey", "n_nationkey").orderBy(
        "part_id"
    )


def q_referential_violations(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    dim = _source_dim(spark, ALLOWED_DOC_SOURCES)
    v = referential_violations(d, dim, "source")
    return (
        v.groupBy("source")
        .agg(F.count(F.lit(1)).alias("violations"))
        .orderBy("source")
    )


def q_missing_patterns(spark, sf_dir):
    ev = _read(spark, sf_dir, "events").withColumn("part_id", F.lit(0).cast("int"))
    return _stats.missing_patterns(
        ev, columns=["user_id", "event_type", "value", "props"]
    ).select(
        "n_rows",
        "rows_with_missing",
        "rows_with_missing_pct",
        "rows_multiple_missing",
        "max_missing_in_row",
    )


def _halves(li):
    cut = F.lit("1997-01-01").cast("timestamp")
    return li.withColumn("half", F.when(F.col("l_shipdate") < cut, "a").otherwise("b"))


def q_psi_quantity(spark, sf_dir):
    """PSI of the l_quantity distribution between ship-date halves — the
    drift operator over per-value bins (quantity is small-int-valued)."""
    li = _halves(_read(spark, sf_dir, "lineitem"))
    cur = _hist.value_histogram(
        li.filter("half = 'b'"), "l_quantity", partition_col=None
    )
    ref = _hist.value_histogram(
        li.filter("half = 'a'"), "l_quantity", partition_col=None
    )
    out = _drift.drift_stats_broadcast(cur, ref, partition_col=None)
    return out.select(
        "col",
        "n_cur",
        "n_ref",
        F.round("psi", 6).alias("psi"),
        F.round("js_divergence", 6).alias("js_divergence"),
        F.round("ks_stat", 6).alias("ks_stat"),
        F.round("chi2_stat", 4).alias("chi2_stat"),
        "chi2_dof",
        "psi_drift",
    )


def q_chi2_returnflag(spark, sf_dir):
    li = _halves(_read(spark, sf_dir, "lineitem"))
    cur = _hist.categorical_counts(
        li.filter("half = 'b'"), "l_returnflag", partition_col=None, salted=False
    )
    ref = _hist.categorical_counts(
        li.filter("half = 'a'"), "l_returnflag", partition_col=None, salted=False
    )
    out = _drift.drift_stats_broadcast(cur, ref, partition_col=None)
    return out.select(
        "col",
        "n_cur",
        "n_ref",
        F.round("psi", 6).alias("psi"),
        F.round("chi2_stat", 4).alias("chi2_stat"),
        "chi2_dof",
        "psi_drift",
    )


def q_drift_verdict_sources(spark, sf_dir):
    """Categorical drift of documents.source between doc_id halves with the
    PSI severity classification — verdict-shaped output."""
    d = _read(spark, sf_dir, "documents")
    # median as a broadcast one-row frame: the split needs no driver
    # round-trip of its own between the quantile and the histograms
    med = d.agg(
        F.percentile(F.col("doc_id").cast("double"), F.lit(0.5)).alias("_mid")
    )
    dm = d.crossJoin(F.broadcast(med))
    cur = _hist.categorical_counts(
        dm.filter(F.col("doc_id") > F.col("_mid")).drop("_mid"),
        "source", partition_col=None, salted=False,
    )
    ref = _hist.categorical_counts(
        dm.filter(F.col("doc_id") <= F.col("_mid")).drop("_mid"),
        "source", partition_col=None, salted=False,
    )
    out = _drift.drift_stats_broadcast(cur, ref, partition_col=None)
    return out.select(
        "col", F.round("psi", 6).alias("psi"), "psi_drift",
        F.round("js_divergence", 6).alias("js_divergence"),
    )


# vocab for the PORTABLE token ids (md5-based word hash, reproducible in
# DuckDB) — the xxhash64 ids in _sequences_view are Spark-only
_PORTABLE_VOCAB = 32768


def _portable_sequences_view(spark, sf_dir):
    """Sequence view whose token ids both engines can compute bit-exactly:
    tok = ('0x'||substr(md5(word),1,15))::bigint % 32768 (60-bit positive,
    so pmod == %)."""
    d = _read(spark, sf_dir, "documents")
    words = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    return d.select(
        "doc_id",
        F.transform(
            words,
            lambda w: F.pmod(
                F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("bigint"),
                F.lit(_PORTABLE_VOCAB),
            ).cast("int"),
        ).alias("tokens"),
    )


def q_token_drift(spark, sf_dir):
    """Unigram-distribution drift on the token ids themselves (vocabulary
    usage between doc_id-parity halves) + out-of-vocabulary evidence —
    drift over the token payload, not just the n_tok length proxy."""
    seq = _portable_sequences_view(spark, sf_dir)
    cur = seq.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    ref = seq.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    out = _drift.token_drift(cur, ref)
    return out.select(
        "col",
        "n_cur",
        "n_ref",
        F.round("psi", 6).alias("psi"),
        F.round("js_divergence", 6).alias("js_divergence"),
        F.round("chi2_stat", 4).alias("chi2_stat"),
        "chi2_dof",
        "psi_drift",
        "new_tokens",
        F.round("oov_pct", 4).alias("oov_pct"),
    )


# duplicated-span dedup gram width: small enough that the word-soup corpus
# has real duplicated spans at sf0.01, large enough to be selective
_SPAN_K = 8


def q_span_dedup(spark, sf_dir):
    """Token-level exact-substring dedup (Lee et al. 2022 semantics at
    k-gram granularity): per-doc accounting of removed duplicated-span
    occurrences over the portable token ids; kept_token_sum pins the
    EXACT surviving token multiset against the oracle."""
    seq = _portable_sequences_view(spark, sf_dir)
    return _span.span_dedup_stats(seq, k=_SPAN_K, portable=True).filter(
        F.col("removed_occurrences") > 0
    )


def q_span_dedup_summary(spark, sf_dir):
    """Corpus roll-up of the duplicated-span removal: affected docs,
    removed-token total/pct, distinct duplicated grams."""
    seq = _portable_sequences_view(spark, sf_dir)
    return _span.span_dedup_summary(seq, k=_SPAN_K, portable=True)


def _qcls_artifact(sf_dir: str) -> str:
    """Per-SF weights artifact: the bench runs this query at sf0.1 and a
    single shared file would let it clobber the sf0.01 seed the driver
    oracle reads (last-run-wins). Tagging by the sf dir name makes every
    scale's fit its own file; the oracle pairs with the sf0.01 tag — the
    scale the driver gate (and scripts/check_correctness.py) runs at."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".gate_artifacts",
        f"quality_weights_{tag}.parquet",
    )


def q_quality_classifier(spark, sf_dir):
    """Driver-fit logistic quality classifier scored JVM-side with the
    fitted weights as plan literals. Labels are deterministic
    (n_chars > 300). Oracle strategy: the fit is layout-invariant
    (canonical-sorted full sample), its 13 floats are exported to
    ``.gate_artifacts/quality_weights.parquet`` (a committed sf0.01 seed
    keeps the oracle evaluable before the query runs in a fresh
    checkout), and DuckDB recomputes the FEATURES from raw documents and
    the sigmoid scoring itself — only the weights are shared, the whole
    scoring path is verified independently. Probabilities round to 6
    decimals in both engines before the keep decision, so last-ulp exp()
    differences cannot flip it."""
    from data_drift_monitoring_spark.operators import quality_classifier as _qc

    d = _read(spark, sf_dir, "documents").withColumn(
        "label", (F.col("n_chars") > 300).cast("int")
    )
    model = _qc.fit_quality_classifier(d, "label", max_sample=500_000, seed=5)
    import pyarrow as pa
    import pyarrow.parquet as pq

    row = {"b": model.bias}
    for i, (w, mu, s) in enumerate(zip(model.weights, model.mu, model.sigma), 1):
        row[f"w{i}"], row[f"mu{i}"], row[f"s{i}"] = w, mu, s
    artifact = _qcls_artifact(sf_dir)
    os.makedirs(os.path.dirname(artifact), exist_ok=True)
    pq.write_table(pa.table({k: [v] for k, v in sorted(row.items())}), artifact)
    scored = _qc.score_quality(d, model)
    return _qc.classifier_report(scored, "label", "source")


def q_span_dedup_against(spark, sf_dir):
    """Incremental duplicated-span check of a new batch (odd doc_ids)
    against a corpus index (even doc_ids) — per-ingest span dedup
    without re-self-deduping the corpus."""
    seq = _portable_sequences_view(spark, sf_dir)
    index = seq.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    new = seq.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    return _span.span_dedup_stats_against(
        index, new, k=_SPAN_K, portable=True
    ).filter(F.col("removed_occurrences") > 0)


def q_shard_layout(spark, sf_dir):
    """Deterministic training-shard assignment (the pre-training global
    shuffle): per-shard balance plus exact-membership (key sums) and
    order-endpoint (first/last sort_key) pins, all recomputed in SQL
    from the same portable md5 hash."""
    d = _read(spark, sf_dir, "documents")
    return _sharding.shard_stats(d, n_shards=8, key_col="doc_id", portable=True)


# stratified-sample gate rates — shared by the Spark query AND the oracle
# CASE expression (one source of truth, LANG_MARKERS-style)
_SAMPLE_RATES = {
    "src0": 0.5, "src1": 0.5, "src2": 0.5, "src3": 0.25, "src4": 0.25,
}
_SAMPLE_DEFAULT = 0.05


def q_stratified_sample(spark, sf_dir):
    """Deterministic hash-based stratified sample of documents by source —
    mixture-weight control. sum_sampled_ids pins the EXACT selected row
    set against the oracle, not just per-stratum counts."""
    d = _read(spark, sf_dir, "documents")
    kept = _sampling.stratified_sample(
        d,
        _SAMPLE_RATES,
        strata_col="source",
        key_col="doc_id",
        default_rate=_SAMPLE_DEFAULT,
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("doc_id").cast("long").alias("sum_sampled_ids"),
        )
        .orderBy("source")
    )


def _contamination_split(spark, sf_dir):
    """Deterministic train/eval split of documents doc_id<300 (the
    near-dup-bearing region): every 10th doc is 'eval'. 3-word grams
    matched on the portable md5 hash so the DuckDB oracle reproduces the
    join bit-exactly."""
    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    ev = d.filter(F.col("doc_id") % 10 == 0)
    tr = d.filter(F.col("doc_id") % 10 != 0)
    return tr, ev


def q_contamination_pairs(spark, sf_dir):
    """Train/eval n-gram contamination with source attribution: pairs
    whose matched distinct 3-grams cover >=10% of the eval doc's grams.
    The corpus side never shuffles (broadcast eval gram set)."""
    tr, ev = _contamination_split(spark, sf_dir)
    out = _contam.contamination_pairs(
        tr, ev, n=3, min_overlap=0.1, gram_hash=_dedup.portable_word_hash
    )
    return out.select(
        "train_id",
        "eval_id",
        "matched_grams",
        F.col("n_train_grams").cast("long").alias("n_train_grams"),
        F.col("n_eval_grams").cast("long").alias("n_eval_grams"),
        F.round("overlap", 6).alias("overlap"),
    ).orderBy("train_id", "eval_id")


def q_contamination_report(spark, sf_dir):
    """Per-eval-doc decontamination verdict: distinct eval grams found in
    ANY training doc; contaminated at >=50% coverage. Includes clean eval
    docs (overlap 0)."""
    tr, ev = _contamination_split(spark, sf_dir)
    out = _contam.contamination_report(
        tr, ev, n=3, min_overlap=0.5, gram_hash=_dedup.portable_word_hash
    )
    return out.select(
        "eval_id",
        F.col("n_eval_grams").cast("long").alias("n_eval_grams"),
        "matched_grams",
        F.round("overlap", 6).alias("overlap"),
        "contaminated",
    ).orderBy("eval_id")


def _embedding_drift_halves(spark, sf_dir):
    """cur/ref embedding snapshots from the vec_id parity split, with a
    planted +0.25 shift on dimension 0 of cur (a real encoder-drift
    signature the per-dim z-test must flag). Elements cast to double
    BEFORE any arithmetic so the oracle mirrors bit-exactly."""
    e = _read(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    shifted = F.transform(
        "embedding",
        lambda x, i: x.cast("double")
        + F.when(i == 0, F.lit(0.25)).otherwise(F.lit(0.0)),
    )
    cur = e.filter(F.col("vec_id") % 2 == 1).select(
        "vec_id", shifted.alias("embedding")
    )
    ref = e.filter(F.col("vec_id") % 2 == 0).select(
        "vec_id", as_double.alias("embedding")
    )
    return cur, ref


def q_embedding_dim_drift(spark, sf_dir):
    """Per-dimension embedding drift (two-sample Welch z) between the
    parity halves with a planted dim-0 shift."""
    cur, ref = _embedding_drift_halves(spark, sf_dir)
    out = _edrift.embedding_drift(cur, ref, z_threshold=3.0)
    return out.select(
        "dim",
        "n_cur",
        "n_ref",
        F.round("mean_cur", 6).alias("mean_cur"),
        F.round("mean_ref", 6).alias("mean_ref"),
        F.round("std_cur", 6).alias("std_cur"),
        F.round("std_ref", 6).alias("std_ref"),
        F.round("z_shift", 4).alias("z_shift"),
        "drifted",
    ).orderBy("dim")


def q_embedding_drift_summary(spark, sf_dir):
    """Whole-space drift verdict: centroid cosine + drifted-dim count
    over the same planted-shift halves."""
    cur, ref = _embedding_drift_halves(spark, sf_dir)
    s = _edrift.embedding_drift_summary(
        _edrift.embedding_drift(cur, ref, z_threshold=3.0)
    )
    return s.select(
        "n_dims",
        F.round("centroid_cosine", 6).alias("centroid_cosine"),
        F.round("mean_abs_z", 4).alias("mean_abs_z"),
        F.round("max_abs_z", 4).alias("max_abs_z"),
        "n_drifted",
        "verdict",
    )


def q_events_hourly(spark, sf_dir):
    """Tumbling-window aggregation (streaming-shaped, batch-executed)."""
    ev = _read(spark, sf_dir, "events")
    w = F.window("ts", "1 hour")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"), "event_type", "n_events", "sum_value"
        )
        .orderBy("hour_start", "event_type")
    )


def q_corpus_summary(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    return _ta.corpus_summary(d).orderBy("source")


def q_token_counts(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    t = _ta.with_token_count(d)
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_subword_est").alias("total_subwords"),
            F.sum("n_lexer_tok").alias("total_lexer_toks"),
        )
        .orderBy("lang")
    )


def q_quality_scores(spark, sf_dir):
    d = _ta.with_quality_score(_read(spark, sf_dir, "documents"))
    return (
        d.groupBy("source")
        .agg(
            F.round(F.avg("quality_score"), 4).alias("avg_quality"),
            F.round(F.avg("punct_ratio"), 4).alias("avg_punct"),
            F.round(F.avg("stopword_frac"), 4).alias("avg_stop"),
        )
        .orderBy("source")
    )


def q_lang_id(spark, sf_dir):
    d = _ta.with_lang_id(_read(spark, sf_dir, "documents"))
    return (
        d.groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_pred")
    )


_CSV_ARTIFACT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".gate_artifacts", "csv_roundtrip"
)
_JSON_ARTIFACT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".gate_artifacts", "json_roundtrip"
)


def _normalize_artifact_dir(path: str, ext: str) -> None:
    """Rewrite a single-part Spark output dir to one deterministically
    named file (``data.<ext>``) with no _SUCCESS / .crc sidecars, so a
    seed copy can live in git without churning on re-runs, and the DuckDB
    oracle's glob matches the same bytes the Spark read-back sees."""
    for f in os.listdir(path):
        full = os.path.join(path, f)
        if f.startswith(".") or f == "_SUCCESS":
            os.remove(full)
        elif f.startswith("part-") and f.endswith(ext):
            os.replace(full, os.path.join(path, f"data{ext}"))


def q_csv_roundtrip(spark, sf_dir):
    """CSV ingestion parity (S1, the last test-only source): write the
    documents table as RFC-4180 CSV (escape = quote → doubled quotes),
    read it back through sources.ingest.read_dataset with an explicit
    schema, and aggregate; the oracle parses the SAME files with DuckDB
    read_csv — any quoting/typing divergence between writer and either
    reader breaks the value hash."""
    from data_drift_monitoring_spark.sources.ingest import read_dataset
    from pyspark.sql import types as T

    d = _read(spark, sf_dir, "documents")
    (
        d.coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        .csv(_CSV_ARTIFACT)
    )
    _normalize_artifact_dir(_CSV_ARTIFACT, ".csv")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    back = read_dataset(spark, _CSV_ARTIFACT, fmt="csv", schema=schema)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.length("text")).alias("sum_text_len"),
        F.countDistinct("lang").alias("d_lang"),
        F.countDistinct("source").alias("d_source"),
        F.sum(F.col("doc_id")).alias("sum_ids"),
    )


def q_json_roundtrip(spark, sf_dir):
    """JSON-lines ingestion parity (S2): same round-trip shape as
    q_csv_roundtrip via write.json → read_dataset(schema) vs DuckDB
    read_json."""
    from data_drift_monitoring_spark.sources.ingest import read_dataset
    from pyspark.sql import types as T

    d = _read(spark, sf_dir, "documents")
    d.coalesce(1).write.mode("overwrite").json(_JSON_ARTIFACT)
    _normalize_artifact_dir(_JSON_ARTIFACT, ".json")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    back = read_dataset(spark, _JSON_ARTIFACT, fmt="json", schema=schema)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.length("text")).alias("sum_text_len"),
        F.countDistinct("lang").alias("d_lang"),
        F.sum(F.col("doc_id")).alias("sum_ids"),
    )


def q_lang_id_accuracy(spark, sf_dir):
    """Lang-ID confusion matrix against the fixture's labeled ``lang``
    column (VERDICT r2 #4). Oracle = the same marker SQL generated from
    LANG_MARKERS, keyed by true label.

    Measured finding (COVERAGE.md): the testdata's ``lang`` labels are
    synthetic and UNCORRELATED with the text — every language's documents
    are the same English-ish word soup — so label accuracy here is 0.32
    (≈ the en+und mass) by construction, not a heuristic defect. Real
    accuracy is measured in tests/test_dedup_similarity_text.py on a
    planted multilingual fixture where text actually carries each
    language's markers (1.00 on marker-bearing text)."""
    d = _ta.with_lang_id(_read(spark, sf_dir, "documents"))
    return (
        d.groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "lang_pred")
    )


def q_repetition_scores(spark, sf_dir):
    """Per-doc Gopher-style repetition signals (dup word / bigram /
    trigram fractions, top-word fraction). Pure per-row expressions —
    one scan, zero shuffle; every value is an exact integer ratio so the
    hash compare is float-order-free."""
    from data_drift_monitoring_spark.operators.repetition import (
        repetition_flags,
    )

    d = _read(spark, sf_dir, "documents")
    out = repetition_flags(d)
    return out.select(
        "doc_id",
        "source",
        "n_words",
        "dup_word_frac",
        "dup_bigram_frac",
        "dup_trigram_frac",
        "top_word_frac",
        "repetition_keep",
    ).orderBy("doc_id")


def q_repetition_summary(spark, sf_dir):
    """Per-source repetition corpus health. Integer outputs only (doc /
    flag / keep counts) — the means the operator also computes are
    order-sensitive float sums, checked in tests instead of hashed
    cross-engine."""
    from data_drift_monitoring_spark.operators.repetition import (
        repetition_summary,
    )

    d = _read(spark, sf_dir, "documents")
    s = repetition_summary(d)
    return s.select(
        "source",
        "n_docs",
        "n_flag_dup_word_frac",
        "n_flag_dup_bigram_frac",
        "n_flag_dup_trigram_frac",
        "n_flag_top_word_frac",
        "n_keep",
    ).orderBy("source")


def _packing_input(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return d.select(
        "doc_id",
        "source",
        F.size(F.split(norm, " ")).cast("int").alias("n_tok"),
    )


def q_pack_windows(spark, sf_dir):
    """GPT-style packing layout per document at context_len=256,
    deliberately through the DISTRIBUTED two-level prefix-sum path
    (prefix_buckets=8) so the scale path itself — not just the plain
    window — is what the oracle checks. All-integer output."""
    from data_drift_monitoring_spark.operators.packing import (
        pack_windows,
    )

    packed = pack_windows(
        _packing_input(spark, sf_dir), 256, prefix_buckets=8
    )
    return packed.select(
        "doc_id",
        "source",
        "n_tok",
        "start_tok",
        "first_window",
        "last_window",
        "n_windows",
    ).orderBy("doc_id")


def q_pack_window_stats(spark, sf_dir):
    """Per (stream, window) occupancy: docs touching, docs starting,
    tokens filled. The oracle recomputes the explode from the window
    cumsum in SQL; the every-window-but-last-is-full invariant is
    thereby value-checked."""
    from data_drift_monitoring_spark.operators.packing import (
        pack_windows,
        window_stats,
    )

    packed = pack_windows(_packing_input(spark, sf_dir), 256)
    return window_stats(packed, 256).orderBy("source", "window_id")


def q_pii_scan(spark, sf_dir):
    """PII scan + redaction parity. The corpus is word soup with no real
    PII, so the query PLANTS deterministic emails / IPv4s / phones by
    doc_id residue — the identical CASE/concat construction runs in the
    oracle — then counts per class per source and value-checks the
    redacted text via its total length. Any dialect divergence between
    Spark's Java regex and DuckDB's RE2 on the shared patterns breaks
    the hash."""
    from data_drift_monitoring_spark.operators.pii import (
        pii_summary,
        redact_pii,
        with_pii_counts,
    )

    d = _read(spark, sf_dir, "documents")
    planted = d.withColumn(
        "text2",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".1"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0, F.lit(" call 555-867-5309")
            ).otherwise(F.lit("")),
        ),
    )
    summary = pii_summary(planted, "text2")
    red_len = (
        with_pii_counts(redact_pii(planted, "text2"), "text2_redacted")
        .groupBy("source")
        .agg(
            F.sum(F.length("text2_redacted")).alias("sum_redacted_len"),
            F.sum("pii_total").alias("residual_hits"),
        )
    )
    return summary.join(red_len, on="source").orderBy("source")


def q_mixture_rebalance(spark, sf_dir):
    """Domain-mixture rebalancing: target share for src<i> ∝ i+1, the
    feasible-maximal exact-mixture subset selected with the
    deterministic sampling hash. The oracle recomputes the rate
    derivation (counts → T = min(n_s/share_s) → per-stratum thresholds)
    and the hash selection entirely in SQL — the EXACT kept row set is
    pinned by per-source id sums."""
    d = _read(spark, sf_dir, "documents")
    target = {f"src{i}": (i + 1) / 210 for i in range(20)}
    kept = _sampling.rebalance_to_mixture(d, target)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").cast("long").alias("sum_kept_ids"),
        )
        .orderBy("source")
    )


def q_url_blocklist(spark, sf_dir):
    """URL extraction + domain-blocklist filtering over deterministically
    planted links (same CASE/concat construction in the oracle). The
    blocklist probe is broadcast arrays_overlap — the corpus never
    shuffles; the exact kept row set is pinned by per-source id sums."""
    from data_drift_monitoring_spark.operators.urls import (
        blocklist_report,
        filter_blocklisted,
    )

    d = _read(spark, sf_dir, "documents")
    planted = d.withColumn(
        "text2",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" see https://example.com/p/"),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 9 == 0,
                F.lit(" ref https://spam.bad-site.org/x?y=1"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 15 == 0,
                F.lit(" alt http://Sub.Example.COM:8080/path"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 21 == 0,
                F.lit(" via https://cdn.spam.bad-site.org/asset.js"),
            ).otherwise(F.lit("")),
        ),
    )
    bl = ["spam.bad-site.org"]
    rep = blocklist_report(planted, bl, "text2")
    kept = (
        filter_blocklisted(planted, bl, "text2")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").cast("long").alias("sum_kept_ids"),
        )
    )
    return rep.join(kept, on="source").orderBy("source")


def _curate_planted(spark, sf_dir):
    """documents with deterministic plantings that make every curation
    stage fire: a repetition tail (%23), a shared 24-word span on both
    parities (%40 ∈ {6, 27} — even docs seed the gram index, odd docs
    must quarantine as span duplicates), a blocklisted URL (%9), and an
    email (%5==2 — which covers every span victim, so the quarantine
    raw-text rule is value-pinned: '[EMAIL]' must NOT appear there)."""
    d = _read(spark, sf_dir, "documents")
    return d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 23 == 0,
                F.lit(" " + " ".join(["junk"] * 60)),
            ).otherwise(F.lit("")),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(40)).isin(6, 27),
                F.lit(" " + _CURATE_SPAN),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 9 == 0,
                F.lit(" ref https://spam.bad-site.org/x?y=1"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 2,
                F.lit(" mail bob.smith@example.com now"),
            ).otherwise(F.lit("")),
        ),
    )


# the shared boilerplate span: 24 distinct words, no stopword/URL/PII
# overlap with the other plantings
_CURATE_SPAN = " ".join(f"boiler{i:02d}" for i in range(24))


def _curate_portable_tokens(df):
    """Portable (md5-based) word tokens of the given frame's text column
    — same construction as _portable_sequences_view, applied to the
    CURATED (redacted) text exactly as start_curation tokenizes each
    micro-batch before the span probe."""
    words = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    return df.select(
        "doc_id",
        F.transform(
            words,
            lambda w: F.pmod(
                F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("bigint"),
                F.lit(_PORTABLE_VOCAB),
            ).cast("int"),
        ).alias("tokens"),
    )


def q_curate_quarantine(spark, sf_dir):
    """Batch-executed twin of the streaming curation pipeline
    (streaming/curate.start_curation): two deterministic micro-batches
    (doc_id parity), each through repetition → blocklist → PII
    redaction, batch 0 seeding the cross-batch gram index and batch 1
    probed against it for span duplicates. Output pins, per
    (batch, reason ∈ {repetition, blocklist, span_duplicate, curated}):
    doc counts, exact membership (id sums), and sum of text lengths —
    the length sum proves quarantine rows carry RAW text for every
    reason while curated rows carry the redacted copy."""
    from data_drift_monitoring_spark.operators.span_dedup import (
        ngram_occurrences,
        span_dedup_stats_against_grams,
    )
    from data_drift_monitoring_spark.streaming.curate import curate_batch

    planted = _curate_planted(spark, sf_dir)
    bl = ["spam.bad-site.org"]
    out = []
    index_grams = None
    for b in (0, 1):
        batch = planted.filter(F.pmod(F.col("doc_id"), F.lit(2)) == b)
        curated, quar = curate_batch(batch, blocklist=bl)
        if b == 0:
            index_grams = (
                ngram_occurrences(
                    _curate_portable_tokens(curated),
                    k=_SPAN_K,
                    portable=True,
                )
                .select("gram")
                .distinct()
            )
        else:
            stats = span_dedup_stats_against_grams(
                index_grams,
                _curate_portable_tokens(curated),
                k=_SPAN_K,
                portable=True,
            )
            # integer-scaled threshold (covered/n_tok >= 0.18) — exact
            # in both engines, no float-boundary ambiguity
            dup_ids = stats.filter(
                (F.col("n_tok") > 0)
                & (100 * F.col("covered_tokens") >= 18 * F.col("n_tok"))
            ).select("doc_id")
            base_cols = [
                c for c in quar.columns if c != "quarantine_reason"
            ]
            dropped = (
                curated.join(dup_ids, "doc_id")
                .withColumn("text", F.col("text_raw"))
                .select(*base_cols)
                .withColumn("quarantine_reason", F.lit("span_duplicate"))
            )
            quar = quar.unionByName(dropped)
            curated = curated.join(dup_ids, "doc_id", "left_anti")
        agg = [
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
            F.sum(F.length("text")).cast("long").alias("sum_text_len"),
        ]
        out.append(
            quar.groupBy(
                F.lit(b).alias("batch_id"),
                F.col("quarantine_reason").alias("reason"),
            ).agg(*agg)
        )
        out.append(
            curated.groupBy(
                F.lit(b).alias("batch_id"),
                F.lit("curated").alias("reason"),
            ).agg(*agg)
        )
    res = out[0]
    for f in out[1:]:
        res = res.unionByName(f)
    return res.orderBy("batch_id", "reason")


def q_exact_dedup(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    kept = _dedup.dedup_exact_content(d, "doc_id")
    return (
        kept.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("source")
    )


def q_fingerprints(spark, sf_dir):
    d = _ta.with_fingerprint(_read(spark, sf_dir, "documents"))
    return d.agg(
        F.countDistinct("fingerprint").alias("d_fingerprint"),
        F.countDistinct("rough_key").alias("d_rough"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_ngram_jaccard_self(spark, sf_dir):
    """Exact 3-gram Jaccard of each document with itself == 1.0 — the
    verification operator's oracle-checkable identity; returns the count
    of docs whose self-similarity is exactly 1."""
    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = d.select(
        F.col("doc_id").alias("a"), F.col("doc_id").alias("b")
    )
    out = _dedup.ngram_jaccard(d, pairs, "doc_id")
    return out.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("jaccard") == 1.0).cast("long")).alias("n_exact"),
    )


def q_ann_topk(spark, sf_dir):
    e = _read(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = _sim.cosine_topk_bruteforce(e, q, k=3)
    return out.select("query_id", "rank", "vec_id").orderBy("query_id", "rank")


def q_embedding_pairs_exact(spark, sf_dir):
    """Brute-force near-dup pair count above a cosine threshold (the exact
    baseline the LSH variant approximates)."""
    e = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    a = e.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", (dot / (nrm(F.col("va")) * nrm(F.col("vb")))).alias("c"))
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("c") >= 0.5).cast("long")).alias("n_similar_50"),
        F.sum((F.col("c") >= 0.8).cast("long")).alias("n_similar_80"),
    )


def q_outlier_clip(spark, sf_dir):
    """Winsorize (P5, outliers.py:376-396): clip to IQR bounds, compare
    clipped vs raw mean. IQR bounds ride along as a broadcast one-row
    frame (the q_drift_verdict_sources pattern) so the whole query is ONE
    job — no mid-query .collect() fetching Q1/Q3 to the driver."""
    from data_drift_monitoring_spark.operators.outliers import clip_outliers

    li = _read(spark, sf_dir, "lineitem")
    bounds = li.agg(
        (F.percentile(F.col("l_extendedprice"), F.lit(0.25))).alias("_q1"),
        (F.percentile(F.col("l_extendedprice"), F.lit(0.75))).alias("_q3"),
    ).select(
        (F.col("_q1") - 1.5 * (F.col("_q3") - F.col("_q1"))).alias("_lo"),
        (F.col("_q3") + 1.5 * (F.col("_q3") - F.col("_q1"))).alias("_hi"),
    )
    # clip_outliers replaces the column in place; keep the raw copy first
    c = clip_outliers(
        li.withColumn("_raw", F.col("l_extendedprice")).crossJoin(
            F.broadcast(bounds)
        ),
        "l_extendedprice", F.col("_lo"), F.col("_hi"),
    )
    return c.agg(
        F.round(F.avg("l_extendedprice"), 4).alias("avg_clipped"),
        F.round(F.avg("_raw"), 4).alias("avg_raw"),
        F.sum(
            (
                (F.col("_raw") < F.col("_lo")) | (F.col("_raw") > F.col("_hi"))
            ).cast("long")
        ).alias("n_clipped"),
    )


_IFOREST_ARTIFACT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    ".gate_artifacts",
    "iforest_scored.parquet",
)


def q_isolation_forest(spark, sf_dir):
    """numpy isolation forest (outliers.py:237-277 equivalent): per-flag
    anomaly fractions over (l_quantity, l_extendedprice, l_discount).

    Oracle strategy (VERDICT r2 #1): the forest has no SQL analogue, but
    its *scores* are deterministic — the fit canonical-sorts its sample
    (isolation_forest.py) and max_sample covers all of sf0.01's 60k rows,
    so the model depends only on the row multiset, not partition layout.
    The distributed scoring pass's output (part_id, anomaly_score,
    is_anomaly) is exported to ``.gate_artifacts/iforest_scored.parquet``
    and the DuckDB oracle reads THAT file and recomputes the per-partition
    aggregate independently — a value-level check of the full aggregation
    over the model's verdicts. A pre-generated sf0.01 artifact is
    committed so the oracle also works if it is evaluated before the
    Spark query has run in a fresh checkout."""
    from data_drift_monitoring_spark.operators.isolation_forest import (
        fit_isolation_forest,
        score_anomalies,
    )

    li = _read(spark, sf_dir, "lineitem").withColumn(
        "part_id", F.pmod(F.col("l_orderkey"), F.lit(4)).cast("int")
    )
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    model = fit_isolation_forest(li, cols, n_trees=50, max_sample=100_000)
    scored = score_anomalies(li, model).select(
        "part_id", "anomaly_score", "is_anomaly"
    )
    # gate-artifact export: deterministic single parquet file (fixed name,
    # canonical row order) — driver-side collect is gate-scale glue, the
    # scoring itself ran distributed in the pandas UDF above
    pdf = scored.toPandas().sort_values(
        ["part_id", "anomaly_score"], kind="mergesort"
    ).reset_index(drop=True)
    os.makedirs(os.path.dirname(_IFOREST_ARTIFACT), exist_ok=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(pdf), _IFOREST_ARTIFACT)
    # aggregate the exact exported rows so result and oracle share one
    # source of truth
    exp = spark.createDataFrame(pdf)
    return (
        exp.groupBy("part_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("is_anomaly").cast("long")).alias("anomalies"),
            F.round(
                F.sum(F.col("is_anomaly").cast("long"))
                / F.count(F.lit(1))
                * 100,
                2,
            ).alias("anomaly_pct"),
        )
        .orderBy("part_id")
    )

def q_minhash_near_dup(spark, sf_dir):
    """MinHash-LSH candidates verified by exact 3-gram Jaccard. 64 hashes /
    32 bands put the per-pair miss probability at J ≥ 0.5 below 1e-4, so
    the verified pair list equals the exact all-pairs answer — which is
    what the DuckDB oracle computes (recall is thereby oracle-checked)."""
    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    out = _dedup.minhash_verified_duplicates(
        d, "doc_id", threshold=0.5, num_hashes=64, bands=32
    )
    return out.select(
        "a", "b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("a", "b")


def q_dedup_against(spark, sf_dir):
    """Incremental dedup of a new batch against an existing corpus index
    (dedup.minhash_duplicates_against): docs 200-299 checked against docs
    0-199 — the per-ingest "is this already in the corpus" pass. The
    oracle computes the exact cross-side all-pairs trigram Jaccard, so
    cross-side recall at J ≥ 0.5 is oracle-checked; within-index pairs
    must NOT appear."""
    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    index = d.filter(F.col("doc_id") < 200)
    new = d.filter(F.col("doc_id") >= 200)
    out = _dedup.minhash_duplicates_against(
        index, new, "doc_id", threshold=0.5, num_hashes=64, bands=32
    )
    return out.select(
        "a", "b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("a", "b")


def q_simhash_groups(spark, sf_dir):
    """SimHash signatures with the portable (md5-based 60-bit) word hash,
    reproduced bit-for-bit by a DuckDB bit-vote SQL oracle: the xor-rollup
    checksum over all 300 signatures catches any divergence in any bit of
    any signature; n_dup_groups is the collision-group count (0 on this
    corpus — its near-dups are Jaccard ≈0.97, not identical word
    multisets, so Hamming-0 correctly finds nothing)."""
    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    s = _dedup.simhash(d, "text", word_hash=_dedup.portable_word_hash)
    return s.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("simhash").alias("n_sigs"),
        (F.count(F.lit(1)) - F.countDistinct("simhash")).alias("n_dup_members"),
        F.expr("bit_xor(simhash)").alias("xor_sig"),
    )


def q_simhash_hamming(spark, sf_dir):
    """SimHash near-dup pairs at Hamming distance ≤ 3 via the k+1-band
    pigeonhole split (dedup.simhash_hamming_duplicates) with the portable
    word hash; the oracle recomputes the signatures bit-exactly in SQL and
    does the all-pairs bit_count(xor) — so band recall (guaranteed total
    by the pigeonhole argument) is value-checked against exact. Finds the
    4 real d≤3 pairs on this corpus that Hamming-0 (q_simhash_groups)
    misses."""
    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    out = _dedup.simhash_hamming_duplicates(
        d, "doc_id", k=3, word_hash=_dedup.portable_word_hash
    )
    return out.orderBy("a", "b")


def q_embedding_near_dup_lsh(spark, sf_dir):
    """Multi-table hyperplane LSH (6 planes × 8 tables → ~97% per-pair
    recall at cosine 0.5) with exact in-bucket verification; the oracle is
    the exact all-pairs SQL at the same threshold, so LSH recall on this
    data is oracle-checked."""
    e = _read(spark, sf_dir, "embeddings")
    out = _dedup.embedding_near_duplicates(
        e, threshold=0.5, planes=6, tables=8, dim=64
    )
    return out.select(
        "a", "b", F.round("cosine", 4).alias("cosine")
    ).orderBy("a", "b")


def q_embedding_against(spark, sf_dir):
    """Incremental embedding dedup of a new batch against a corpus index
    (dedup.embedding_near_duplicates_against): vectors 250+ checked
    against vectors 0-249 with the same hyperplanes as the self-join
    form. The oracle is the exact cross-side all-pairs cosine SQL, so
    cross-side recall at the threshold is oracle-checked; within-side
    pairs must NOT appear."""
    e = _read(spark, sf_dir, "embeddings")
    out = _dedup.embedding_near_duplicates_against(
        e.filter(F.col("vec_id") < 250),
        e.filter(F.col("vec_id") >= 250),
        threshold=0.5, planes=6, tables=8, dim=64,
    )
    return out.select(
        "a", "b", F.round("cosine", 4).alias("cosine")
    ).orderBy("a", "b")


def q_outlier_samples(spark, sf_dir):
    """A10 (outliers.py:147-149): the 5 most extreme IQR-outlier values per
    group, via the engine's profile → bounds → violations chain."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events").withColumn(
        "part_id", F.col("event_type")
    )
    prof = _stats.column_profile(ev, columns=["value"], exact_quantiles=True)
    bounds = _out.outlier_bounds(prof)
    v = _out.outlier_violations(ev, "value", bounds)
    w = Window.partitionBy("part_id").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        v.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            F.col("part_id").alias("event_type"),
            "rank",
            F.round("value", 4).alias("sample_value"),
        )
        .orderBy("event_type", "rank")
    )


def q_dup_group_samples(spark, sf_dir):
    """A17 (duplicates.py:92-123): top-5 duplicate key groups by size,
    deterministic tie-break on the key."""
    from data_drift_monitoring_spark.operators.uniqueness import (
        sample_duplicate_groups,
    )

    li = _read(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey"
    )
    g = sample_duplicate_groups(li, keys=["l_partkey", "l_suppkey"])
    return g.select("l_partkey", "l_suppkey", "group_size").orderBy(
        F.desc("group_size"), "l_partkey", "l_suppkey"
    )


def q_ann_ivf(spark, sf_dir):
    """IVF-bucketed top-k (the scale path behind q_ann_topk's exact
    baseline): driver k-means on a sample, cell-pruned broadcast probe.
    Probing all cells (nprobe = n_cells) must reproduce the exact ranking,
    which the DuckDB brute-force oracle checks end-to-end (cell
    assignment, per-cell scoring, merge). Partial-probe recall (0.93 @
    nprobe=3 on this data) is asserted in tests/test_dedup_similarity_text
    and recorded in COVERAGE.md."""
    from data_drift_monitoring_spark.operators import similarity as _s

    e = _read(spark, sf_dir, "embeddings")
    cent = _s.kmeans_centroids(e, n_cells=8, sample_fraction=0.5)
    idx = _s.ivf_index(e, cent)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = _s.ivf_topk(idx, q, cent, k=3, nprobe=8)
    return out.select("query_id", "rank", "vec_id").orderBy("query_id", "rank")


def q_report_json(spark, sf_dir):
    """Reference-shaped JSON rollup (S6) round-trip: build the per-partition
    JSON document, parse it back, and emit the flattened check rows — the
    oracle recomputes the same rows in SQL, so the JSON sink's content is
    value-checked, not just counted."""
    from data_drift_monitoring_spark.plans.pipeline import (
        build_verdicts,
        report_json,
    )

    seq = _sequences_view(spark, sf_dir)
    dim = _source_dim(spark, [f"src{i}" for i in range(20)])
    v = build_verdicts(seq, ref_stats=None, allowed_sources=dim)
    j = report_json(v, "gate_run")
    schema = (
        "map<string, struct<value:double, pct:double, severity:string, "
        "recommendation:string, passed:boolean>>"
    )
    parsed = j.select(
        "run_id",
        "part_id",
        F.explode(F.from_json("checks_json", schema)).alias("check_key", "cv"),
    )
    return parsed.select(
        "run_id", "part_id", "check_key",
        F.col("cv.value").alias("value"),
        F.col("cv.pct").alias("pct"),
        F.col("cv.severity").alias("severity"),
        F.col("cv.recommendation").alias("recommendation"),
        F.col("cv.passed").alias("passed"),
    ).orderBy("part_id", "check_key")


def q_metric_drift(spark, sf_dir):
    """CUSUM/Page-Hinkley control-chart drift (README.md:64-70 semantics)
    over per-hour mean event values as the metric time series."""
    from data_drift_monitoring_spark.operators.model_drift import metric_drift

    ev = _read(spark, sf_dir, "events")
    series = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("ts"),
            F.col("event_type").alias("metric"),
        )
        .agg(F.avg("value").alias("value"))
        .filter(F.col("value").isNotNull())
    )
    return metric_drift(series).select(
        "metric", "n", "cusum_alarm", "ph_alarm", "drift_detected",
        "recommendation",
    ).orderBy("metric")


def q_remediation(spark, sf_dir):
    """Rules-engine remediation plan (reference README.md:113
    remediation_rules.json semantics) over a deterministically corrupted
    sequence view — nulls every 97th doc_id, aliases keys mod 450, and
    narrows the allowed-source dimension to 10 — so missing, uniqueness,
    and referential checks all fail and the (check, severity) → (priority,
    action, snippet) mapping is exercised end to end. The oracle mirrors
    the corruption, the verdict chains, and the rules join in SQL."""
    from data_drift_monitoring_spark.functions.remediation import (
        remediation_plan,
    )
    from data_drift_monitoring_spark.plans.pipeline import build_verdicts

    dim = _source_dim(spark, ALLOWED_DOC_SOURCES)
    v = build_verdicts(
        _corrupted_view(spark, sf_dir), ref_stats=None, allowed_sources=dim
    )
    return remediation_plan(v)


def _corrupted_view(spark, sf_dir):
    """Deterministically corrupted twin of the sequence view (mirrors
    _SEQ_CORRUPTED_ORACLE): null doc_id every 97th, keys aliased mod 450."""
    seq = _sequences_view(spark, sf_dir)
    did = F.col("doc_id").cast("long")
    return seq.withColumn(
        "doc_id",
        F.when(F.pmod(did, F.lit(97)) == 0, F.lit(None).cast("string"))
        .otherwise(F.pmod(did, F.lit(450)).cast("string")),
    )


def q_score_trends(spark, sf_dir):
    """Historical quality-score trend (reference README.md:79 'trending' /
    historical_trends.py promise): two runs — clean vs corrupted+narrowed
    dimension — scored by the weighted 30/25/25/20 formula
    (quality_scorer.py:46-122), then the per-partition lag/delta/direction
    trend. The oracle mirrors the scoring arithmetic and the window, so
    the score formula itself is value-checked cross-engine."""
    from data_drift_monitoring_spark.plans.pipeline import (
        build_verdicts,
        score_partitions,
    )
    from data_drift_monitoring_spark.plans.trends import trend_over_runs

    dim20 = _source_dim(spark, [f"src{i}" for i in range(20)])
    dim10 = _source_dim(spark, ALLOWED_DOC_SOURCES)
    sa = score_partitions(
        build_verdicts(_sequences_view(spark, sf_dir), allowed_sources=dim20)
    ).select("part_id", F.lit(1).alias("run_seq"), "overall_score")
    sb = score_partitions(
        build_verdicts(_corrupted_view(spark, sf_dir), allowed_sources=dim10)
    ).select("part_id", F.lit(2).alias("run_seq"), "overall_score")
    return trend_over_runs(sa.unionByName(sb)).orderBy("part_id", "run_seq")


def q_dedup_clusters(spark, sf_dir):
    """Near-dup cluster formation: LSH-mined + exactly-verified pairs →
    connected components (min-key cluster labels) — the step between pair
    mining and keep-one-per-cluster dedup. The oracle recomputes the
    exact pair set AND its transitive closure with a recursive CTE, so
    the distributed label propagation is value-checked end to end."""
    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pairs = _dedup.minhash_verified_duplicates(
        d, "doc_id", threshold=0.5, num_hashes=64, bands=32
    )
    cl = _dedup.duplicate_clusters(pairs)
    return (
        cl.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("size"),
            F.max("k").alias("max_member"),
        )
        .orderBy("cluster")
    )


def q_multimodal_meta(spark, sf_dir):
    """Multimodal plumbing under the oracle gate: a media table derived
    from documents (payload = UTF-8 bytes of text, media_type by
    doc_id%3, duration = n_chars) through the REAL mapInPandas feature
    extraction and video frame sampling. Everything deterministic is
    value-checked in SQL — byte counts, feature dimensionality, and the
    frame-explosion row count ceil(duration/100) — leaving only the
    decode itself stubbed (no media libs in this container)."""
    from data_drift_monitoring_spark.operators import multimodal as MM

    d = _read(spark, sf_dir, "documents")
    media = d.select(
        F.concat(F.lit("m_"), F.col("doc_id").cast("string")).alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("media_type"),
        F.col("text").cast("binary").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.col("n_chars").cast("int").alias("duration_ms"),
    )
    types = media.select("media_id", "media_type")
    feats = MM.extract_features(media, dim=8).join(types, on="media_id")
    agg = feats.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.col("n_bytes").cast("long")).alias("total_bytes"),
        F.sum(F.size("feature").cast("long")).alias("total_feat_dims"),
    )
    frames = (
        MM.sample_frames(media, every_ms=100)
        .join(types, on="media_id")
        .groupBy("media_type")
        .agg(F.count(F.lit(1)).alias("n_frames"))
    )
    return (
        agg.join(frames, on="media_type", how="left")
        .select(
            "media_type", "n_media", "total_bytes", "total_feat_dims",
            F.coalesce(F.col("n_frames"), F.lit(0)).alias("n_frames"),
        )
        .orderBy("media_type")
    )


def q_seq_pipeline_verdicts(spark, sf_dir):
    """Full validation pipeline over the derived sequence view. With no
    reference snapshot the six emitted checks (missing ×3, length
    consistency, uniqueness, referential) are deterministic, so the whole
    verdict table — values, pcts, severities, recommendations, pass flags
    — is mirrored by the DuckDB oracle (_verdicts_oracle)."""
    seq = _sequences_view(spark, sf_dir)
    from data_drift_monitoring_spark.plans.pipeline import build_verdicts

    dim = _source_dim(spark, [f"src{i}" for i in range(20)])
    v = build_verdicts(seq, ref_stats=None, allowed_sources=dim)
    return v.orderBy("part_id", "check", "column")


def q_verdict_rollup(spark, sf_dir):
    """Grouping-sets rollup of the deterministic verdict table — per
    (part_id, check) subtotals, per-part_id subtotals and the grand
    total in ONE shuffle via rollup(); the DuckDB oracle recomputes the
    whole verdict table then GROUP BY ROLLUP. Float-order-safe by
    construction: counts + max + integer centi-point sums only."""
    from data_drift_monitoring_spark.plans.pipeline import (
        build_verdicts,
        verdict_rollup,
    )

    seq = _sequences_view(spark, sf_dir)
    dim = _source_dim(spark, [f"src{i}" for i in range(20)])
    v = build_verdicts(seq, ref_stats=None, allowed_sources=dim)
    return verdict_rollup(v).orderBy("part_id", "check")


def _prepare_planted(spark, sf_dir):
    """Fixture for the end-to-end preparation pipeline: documents
    doc_id<300 (the proven minhash/cluster oracle universe) with a
    repetition victim every 23rd doc (60×'junk' tail trips the Gopher
    dup-word threshold on short docs) and a PII victim every 5th+2
    (email the redaction stage must rewrite before dedup/tokenize see
    the text). Exact- and near-dup victims already exist naturally in
    the synthetic corpus (q_exact_dedup / q_minhash_near_dup find
    them)."""
    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    rep_tail = " ".join(["junk"] * 60)
    return d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 23 == 0, F.lit(" " + rep_tail)
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 2,
                F.lit(" mail bob.smith@example.com now"),
            ).otherwise(F.lit("")),
        ),
    )


def q_prepare_training_data(spark, sf_dir):
    """End-to-end preparation pipeline (jobs/prepare_training_data.py →
    plans.prepare.prepare_training_stages) under the oracle gate: the
    planted fixture through curate (repetition keep + PII redact) →
    exact dedup → MinHash near-dedup keep-one → portable tokenize →
    span dedup → pack → shard, with one accounting row per stage.
    Pins per stage: row count, exact membership (id sum), text length
    (proves redaction), token count + token-id sum (proves the exact
    surviving token multiset), span coverage, pack offsets/window
    spans, and the shard assignment — the DuckDB oracle recomputes
    every stage from scratch, so the whole staged composition is
    value-checked cross-engine."""
    from data_drift_monitoring_spark.plans.prepare import (
        PrepareConfig,
        prepare_training_stages,
    )

    cfg = PrepareConfig(
        context_len=64,
        n_shards=8,
        span_k=_SPAN_K,
        minhash_threshold=0.5,
        num_hashes=64,
        bands=32,
        vocab=_PORTABLE_VOCAB,
        seed=0,
        portable=True,
    )
    st = prepare_training_stages(_prepare_planted(spark, sf_dir), cfg)

    null_l = F.lit(None).cast("long")
    tok_sum = F.sum(
        F.aggregate(
            F.col("tokens"),
            F.lit(0).cast("long"),
            lambda a, t: a + t.cast("long"),
        )
    ).cast("long")

    def acct(name, frame, text=True, tokens=False, aux1=None, aux2=None):
        return frame.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
            (F.sum(F.length("text")).cast("long") if text else null_l).alias(
                "text_len"
            ),
            (F.sum("n_tok").cast("long") if tokens else null_l).alias(
                "n_tok_sum"
            ),
            (tok_sum if tokens else null_l).alias("tok_sum"),
            (aux1 if aux1 is not None else null_l).alias("aux1"),
            (aux2 if aux2 is not None else null_l).alias("aux2"),
        ).select(F.lit(name).alias("stage"), "*")

    frames = [
        acct("1_input", st["input"]),
        acct("2_curate", st["curate"]),
        acct("3_exact_dedup", st["exact_dedup"]),
        acct("4_near_dedup", st["near_dedup"]),
        acct("5_tokenize", st["tokenize"], tokens=True),
        acct(
            "6_span_dedup",
            st["span_dedup"],
            tokens=True,
            aux1=F.sum("covered_tokens").cast("long"),
        ),
        acct(
            "7_pack",
            st["pack"],
            tokens=True,
            aux1=F.sum("start_tok").cast("long"),
            aux2=F.sum("n_windows").cast("long"),
        ),
        acct(
            "8_shard",
            st["shard"],
            aux1=F.sum(
                F.col("shard").cast("long") * F.col("doc_id").cast("long")
            ).cast("long"),
            aux2=F.sum(F.pmod(F.col("sort_key"), F.lit(1000000))).cast(
                "long"
            ),
        ),
    ]
    res = frames[0]
    for f in frames[1:]:
        res = res.unionByName(f)
    return res.orderBy("stage")


_HISTORY_WAREHOUSE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    ".gate_artifacts",
    "history_wh",
)


def q_check_history(spark, sf_dir):
    """Per-check metric history across persisted runs
    (plans.trends.check_history — reference README.md:79 'trending'
    promise) through the REAL persistence path: two full run_checks
    executions with injected timestamps (clean view, then the
    corrupted view that plants duplicates) into a scratch warehouse,
    then the uniqueness-on-doc_id value trend read back via the
    manifest run ordering. The oracle recomputes both runs' duplicate
    counts and the lag/delta/direction window."""
    import shutil
    from datetime import datetime, timezone

    from data_drift_monitoring_spark.plans.pipeline import run_checks
    from data_drift_monitoring_spark.plans.trends import check_history
    from data_drift_monitoring_spark.sources.tables import ParquetTableIO

    shutil.rmtree(_HISTORY_WAREHOUSE, ignore_errors=True)
    io = ParquetTableIO(spark, _HISTORY_WAREHOUSE)
    dim20 = _source_dim(spark, [f"src{i}" for i in range(20)])
    dim10 = _source_dim(spark, ALLOWED_DOC_SOURCES)
    run_checks(
        spark,
        _sequences_view(spark, sf_dir),
        io,
        run_id="r1",
        allowed_sources=dim20,
        now=datetime(2026, 1, 1, tzinfo=timezone.utc),
    )
    run_checks(
        spark,
        _corrupted_view(spark, sf_dir),
        io,
        run_id="r2",
        allowed_sources=dim10,
        now=datetime(2026, 1, 2, tzinfo=timezone.utc),
    )
    h = check_history(io, "uniqueness", "doc_id")
    return h.select(
        "part_id",
        "column",
        F.col("run_ts").cast("string").alias("run_ts"),
        "value",
        "prev_value",
        "delta",
        "direction",
    ).orderBy("part_id", "run_ts")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # REGISTRY ORDER MATTERS: the driver's correctness gate executes only
    # the FIRST 50 entries per round. With >50 registered queries the
    # registry must rotate each round so every query gets a driver row
    # within a round or two: lead with (a) queries whose last driver row
    # is oldest (r5: the 18 that sat outside r4's window, r3-green),
    # then (b) this round's new queries, then (c) queries whose code
    # paths changed this round (r5: the mapInArrow word-hash rewrite),
    # then (d) the rest (driver-green in a prior round, re-checkable any
    # time via scripts/check_correctness.py --strict).
    return {
        # (a) outside r4's 50-row window (last driver row: round 3)
        "q_lang_id": q_lang_id,
        "q_lang_id_accuracy": q_lang_id_accuracy,
        "q_repetition_scores": q_repetition_scores,
        "q_repetition_summary": q_repetition_summary,
        "q_pack_windows": q_pack_windows,
        "q_pack_window_stats": q_pack_window_stats,
        "q_pii_scan": q_pii_scan,
        "q_mixture_rebalance": q_mixture_rebalance,
        "q_url_blocklist": q_url_blocklist,
        "q_csv_roundtrip": q_csv_roundtrip,
        "q_json_roundtrip": q_json_roundtrip,
        "q_exact_dedup": q_exact_dedup,
        "q_fingerprints": q_fingerprints,
        "q_ngram_jaccard_self": q_ngram_jaccard_self,
        "q_ann_topk": q_ann_topk,
        "q_embedding_pairs_exact": q_embedding_pairs_exact,
        "q_outlier_clip": q_outlier_clip,
        "q_outlier_samples": q_outlier_samples,
        # (b) new in round 5
        "q_prepare_training_data": q_prepare_training_data,
        "q_check_history": q_check_history,
        # (c) paths rewritten by the round-5 mapInArrow zero-copy core
        "q_minhash_near_dup": q_minhash_near_dup,
        "q_dedup_against": q_dedup_against,
        "q_dedup_clusters": q_dedup_clusters,
        "q_contamination_pairs": q_contamination_pairs,
        "q_contamination_report": q_contamination_report,
        "q_token_counts": q_token_counts,
        # (d) driver-green in round 4 (CORRECTNESS_r04.json)
        "q_seq_stats": q_seq_stats,
        "q_len_consistency": q_len_consistency,
        "q_missing_profile": q_missing_profile,
        "q_numeric_summary": q_numeric_summary,
        "q_quantiles": q_quantiles,
        "q_outlier_iqr": q_outlier_iqr,
        "q_zscore_outliers": q_zscore_outliers,
        "q_histogram": q_histogram,
        "q_topk_values": q_topk_values,
        "q_distinct_counts": q_distinct_counts,
        "q_duplicates": q_duplicates,
        "q_referential_ok": q_referential_ok,
        "q_referential_violations": q_referential_violations,
        "q_missing_patterns": q_missing_patterns,
        "q_psi_quantity": q_psi_quantity,
        "q_chi2_returnflag": q_chi2_returnflag,
        "q_drift_verdict_sources": q_drift_verdict_sources,
        "q_token_drift": q_token_drift,
        "q_span_dedup": q_span_dedup,
        "q_span_dedup_summary": q_span_dedup_summary,
        "q_span_dedup_against": q_span_dedup_against,
        "q_shard_layout": q_shard_layout,
        "q_quality_classifier": q_quality_classifier,
        "q_stratified_sample": q_stratified_sample,
        # --- driver window boundary is here (first 50 above) ---
        "q_embedding_dim_drift": q_embedding_dim_drift,
        "q_embedding_drift_summary": q_embedding_drift_summary,
        "q_events_hourly": q_events_hourly,
        "q_corpus_summary": q_corpus_summary,
        "q_quality_scores": q_quality_scores,
        "q_dup_group_samples": q_dup_group_samples,
        "q_ann_ivf": q_ann_ivf,
        "q_report_json": q_report_json,
        "q_metric_drift": q_metric_drift,
        "q_simhash_groups": q_simhash_groups,
        "q_simhash_hamming": q_simhash_hamming,
        "q_embedding_near_dup_lsh": q_embedding_near_dup_lsh,
        "q_embedding_against": q_embedding_against,
        "q_seq_pipeline_verdicts": q_seq_pipeline_verdicts,
        "q_remediation": q_remediation,
        "q_score_trends": q_score_trends,
        "q_multimodal_meta": q_multimodal_meta,
        "q_isolation_forest": q_isolation_forest,
        "q_curate_quarantine": q_curate_quarantine,
        "q_verdict_rollup": q_verdict_rollup,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

_WORDS = "string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')"

_STOPWORDS = "('the','and','of','to','a','in','is','it','that','for')"


def oracle_sql() -> dict[str, str]:
    return {
        "q_seq_stats": f"""
            WITH seq AS ({_SEQ_ORACLE})
            SELECT part_id,
                   COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_doc_id,
                   CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_source,
                   CAST(SUM(CAST(n_tok AS BIGINT)) AS BIGINT) AS total_tokens,
                   MIN(n_tok) AS min_n_tok,
                   MAX(n_tok) AS max_n_tok,
                   ROUND(AVG(CAST(n_tok AS DOUBLE)), 4) AS mean_n_tok,
                   ROUND(STDDEV_SAMP(CAST(n_tok AS DOUBLE)), 4) AS sd_n_tok
            FROM seq GROUP BY part_id ORDER BY part_id
        """,
        "q_len_consistency": """
            SELECT CAST(doc_id % 8 AS INT) AS part_id,
                   COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN length(text) <> n_chars THEN 1 ELSE 0 END) AS BIGINT) AS len_mismatch
            FROM documents GROUP BY 1 ORDER BY 1
        """,
        "q_missing_profile": """
            WITH t AS (
              SELECT 'props' AS col_name, COUNT(*) AS n_rows,
                     CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count
              FROM events
              UNION ALL
              SELECT 'user_id', COUNT(*),
                     CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
              UNION ALL
              SELECT 'value', COUNT(*),
                     CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
            )
            SELECT col_name, n_rows, null_count,
                   ROUND(null_count * 100.0 / n_rows, 2) AS null_pct
            FROM t ORDER BY col_name
        """,
        "q_numeric_summary": """
            SELECT l_returnflag,
                   COUNT(*) AS n_rows,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(AVG(l_quantity), 4) AS avg_qty,
                   MIN(l_quantity) AS min_qty,
                   MAX(l_quantity) AS max_qty,
                   ROUND(AVG(l_extendedprice), 4) AS avg_price,
                   ROUND(STDDEV_SAMP(l_extendedprice), 4) AS sd_price
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "q_quantiles": """
            SELECT ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS q1,
                   ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median,
                   ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS q3
            FROM lineitem
        """,
        "q_outlier_iqr": """
            WITH b AS (
              SELECT l_returnflag,
                     quantile_cont(l_extendedprice, 0.25) AS q1,
                     quantile_cont(l_extendedprice, 0.75) AS q3
              FROM lineitem GROUP BY l_returnflag
            )
            SELECT l.l_returnflag,
                   COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN l.l_extendedprice < b.q1 - 1.5*(b.q3-b.q1)
                             OR l.l_extendedprice > b.q3 + 1.5*(b.q3-b.q1)
                            THEN 1 ELSE 0 END) AS BIGINT) AS outliers
            FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
            GROUP BY l.l_returnflag ORDER BY l.l_returnflag
        """,
        "q_zscore_outliers": """
            WITH g AS (
              SELECT o_orderpriority, AVG(o_totalprice) AS mu,
                     STDDEV_SAMP(o_totalprice) AS sd
              FROM orders GROUP BY o_orderpriority
            )
            SELECT o.o_orderpriority,
                   COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN ABS((o.o_totalprice - g.mu)/g.sd) > 3.0
                            THEN 1 ELSE 0 END) AS BIGINT) AS z_outliers
            FROM orders o JOIN g ON o.o_orderpriority = g.o_orderpriority
            GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
        """,
        "q_histogram": """
            SELECT 'o_totalprice' AS col,
                   lpad(CAST(LEAST(19, GREATEST(0,
                        CAST(FLOOR(o_totalprice / 30000.0) AS BIGINT))) AS VARCHAR), 6, '0') AS bin,
                   COUNT(*) AS cnt
            FROM orders GROUP BY 2 ORDER BY 2
        """,
        "q_topk_values": """
            SELECT p_brand AS value, COUNT(*) AS cnt
            FROM part GROUP BY p_brand
            ORDER BY cnt DESC, value ASC LIMIT 5
        """,
        "q_distinct_counts": """
            SELECT COUNT(DISTINCT l_orderkey) AS d_orderkey,
                   COUNT(DISTINCT l_partkey) AS d_partkey,
                   COUNT(DISTINCT l_returnflag) AS d_returnflag,
                   COUNT(DISTINCT (l_orderkey, l_linenumber)) AS d_pk
            FROM lineitem
        """,
        "q_duplicates": """
            WITH g AS (
              SELECT l_partkey, l_suppkey, COUNT(*) AS n
              FROM lineitem GROUP BY l_partkey, l_suppkey
            )
            SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS duplicate_rows,
                   CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS duplicate_groups,
                   ROUND(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) * 100.0 / SUM(n), 2)
                       AS duplicate_pct,
                   COUNT(*) AS unique_keys
            FROM g
        """,
        "q_referential_ok": """
            SELECT CAST(c_custkey % 4 AS INT) AS part_id,
                   COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
                   ROUND(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) * 100.0
                         / COUNT(*), 2) AS violation_pct
            FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
              ON c.c_nationkey = n.n_nationkey
            GROUP BY 1 ORDER BY 1
        """,
        "q_referential_violations": """
            SELECT source, COUNT(*) AS violations
            FROM documents
            WHERE source NOT IN ('src0','src1','src2','src3','src4','src5',
                                 'src6','src7','src8','src9')
               OR source IS NULL
            GROUP BY source ORDER BY source
        """,
        "q_missing_patterns": """
            WITH r AS (
              SELECT (CASE WHEN user_id IS NULL THEN 1 ELSE 0 END
                    + CASE WHEN event_type IS NULL THEN 1 ELSE 0 END
                    + CASE WHEN value IS NULL THEN 1 ELSE 0 END
                    + CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS rm
              FROM events
            )
            SELECT COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN rm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS rows_with_missing,
                   ROUND(SUM(CASE WHEN rm > 0 THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 2)
                       AS rows_with_missing_pct,
                   CAST(SUM(CASE WHEN rm > 1 THEN 1 ELSE 0 END) AS BIGINT) AS rows_multiple_missing,
                   MAX(rm) AS max_missing_in_row
            FROM r
        """,
        "q_outlier_clip": """
            WITH b AS (
              SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
                     quantile_cont(l_extendedprice, 0.75) AS q3
              FROM lineitem
            ), bounds AS (
              SELECT q1 - 1.5*(q3-q1) AS lo, q3 + 1.5*(q3-q1) AS hi FROM b
            )
            SELECT ROUND(AVG(GREATEST(lo, LEAST(hi, l_extendedprice))), 4)
                       AS avg_clipped,
                   ROUND(AVG(l_extendedprice), 4) AS avg_raw,
                   CAST(SUM(CASE WHEN l_extendedprice < lo OR l_extendedprice > hi
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
            FROM lineitem, bounds
        """,
        "q_outlier_samples": """
            WITH b AS (
              SELECT event_type AS part_id,
                     quantile_cont(value, 0.25) AS q1,
                     quantile_cont(value, 0.75) AS q3
              FROM events WHERE value IS NOT NULL GROUP BY 1
            ),
            v AS (
              SELECT e.event_type, e.value, e.event_id
              FROM events e JOIN b ON e.event_type = b.part_id
              WHERE e.value < b.q1 - 1.5*(b.q3-b.q1)
                 OR e.value > b.q3 + 1.5*(b.q3-b.q1)
            ),
            r AS (
              SELECT event_type,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY value DESC, event_id ASC) AS rank,
                     ROUND(value, 4) AS sample_value
              FROM v
            )
            SELECT event_type, CAST(rank AS INT) AS rank, sample_value
            FROM r WHERE rank <= 5 ORDER BY event_type, rank
        """,
        "q_dup_group_samples": """
            WITH g AS (
              SELECT l_partkey, l_suppkey, COUNT(*) AS group_size
              FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1
            )
            SELECT l_partkey, l_suppkey, group_size
            FROM g ORDER BY group_size DESC, l_partkey, l_suppkey LIMIT 5
        """,
        "q_psi_quantity": _psi_oracle(),
        "q_chi2_returnflag": _chi2_oracle(),
        "q_drift_verdict_sources": _source_drift_oracle(),
        "q_token_drift": _token_drift_oracle(),
        "q_span_dedup": _span_dedup_oracle(summary=False),
        "q_span_dedup_summary": _span_dedup_oracle(summary=True),
        "q_span_dedup_against": _span_dedup_against_oracle(),
        "q_quality_classifier": f"""
            WITH wt AS (SELECT * FROM
              read_parquet('{_qcls_artifact("/root/testdata/sf0.01")}')),
            d AS (
              SELECT source,
                     CAST(n_chars > 300 AS INT) AS label,
                     ln(1 + length(text)) AS f1,
                     CAST(length(text) AS DOUBLE)
                       / GREATEST(len({_WORDS}), 1) AS f2,
                     CAST(len(list_filter({_WORDS}, x -> x IN {_STOPWORDS}))
                          AS DOUBLE) / GREATEST(len({_WORDS}), 1) AS f3,
                     CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g'))
                          AS DOUBLE) / GREATEST(length(text), 1) AS f4
              FROM documents
            ),
            s AS (
              SELECT d.source, d.label,
                     ROUND(1.0 / (1.0 + exp(-(wt.b
                       + wt.w1 * ((d.f1 - wt.mu1) / wt.s1)
                       + wt.w2 * ((d.f2 - wt.mu2) / wt.s2)
                       + wt.w3 * ((d.f3 - wt.mu3) / wt.s3)
                       + wt.w4 * ((d.f4 - wt.mu4) / wt.s4)))), 6) AS prob
              FROM d, wt
            )
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   ROUND(AVG(prob), 6) AS mean_prob,
                   CAST(SUM(CASE WHEN prob >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                     AS kept,
                   CAST(SUM(CASE WHEN (CASE WHEN prob >= 0.5 THEN 1 ELSE 0 END)
                                      = label THEN 1 ELSE 0 END) AS BIGINT)
                     AS agree
            FROM s GROUP BY source ORDER BY source
        """,
        "q_shard_layout": """
            WITH a AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 15))::BIGINT
                          % 8 AS INT) AS shard,
                     ('0x' || substr(md5(doc_id::VARCHAR || ':1'), 1, 15))::BIGINT
                       AS sort_key
              FROM documents
            )
            SELECT shard,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(doc_id) AS BIGINT) AS key_sum,
                   CAST(MIN(doc_id) AS BIGINT) AS key_min,
                   CAST(MAX(doc_id) AS BIGINT) AS key_max,
                   MIN(sort_key) AS first_sort_key,
                   MAX(sort_key) AS last_sort_key
            FROM a GROUP BY shard ORDER BY shard
        """,
        "q_stratified_sample": _stratified_sample_oracle(),
        "q_contamination_pairs": _contamination_pairs_oracle(),
        "q_contamination_report": _contamination_report_oracle(),
        "q_embedding_dim_drift": _embedding_dim_drift_oracle(),
        "q_embedding_drift_summary": _embedding_drift_summary_oracle(),
        "q_metric_drift": _metric_drift_oracle(),
        "q_events_hourly": """
            SELECT date_trunc('hour', ts) AS hour_start,
                   event_type,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 4) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "q_corpus_summary": f"""
            WITH d AS (
              SELECT source, text,
                     length(text) AS chars,
                     len({_WORDS}) AS n_words,
                     len(list_filter({_WORDS}, x -> x IN {_STOPWORDS})) AS stop_hits,
                     length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS punct
              FROM documents
            ), q AS (
              SELECT source, n_words,
                     CAST(stop_hits AS DOUBLE) / GREATEST(n_words, 1) AS stop_frac,
                     chars,
                     0.25 * (CASE WHEN chars BETWEEN 20 AND 20000 THEN 1.0 ELSE 0.0 END)
                   + 0.25 * (CASE WHEN CAST(chars AS DOUBLE)/GREATEST(n_words,1)
                                  BETWEEN 3 AND 12 THEN 1.0 ELSE 0.0 END)
                   + 0.25 * LEAST(1.0, (CAST(stop_hits AS DOUBLE)/GREATEST(n_words,1)) * 5)
                   + 0.25 * (1 - LEAST(1.0, (CAST(punct AS DOUBLE)/GREATEST(chars,1)) / 0.3))
                     AS score
              FROM d
            )
            SELECT source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(CAST(n_words AS BIGINT)) AS BIGINT) AS total_words,
                   ROUND(AVG(CAST(n_words AS DOUBLE)), 4) AS avg_words,
                   ROUND(AVG(ROUND(score, 4)), 4) AS avg_quality,
                   ROUND(AVG(ROUND(stop_frac, 4)), 4) AS avg_stopword_frac,
                   MIN(chars) AS min_chars,
                   MAX(chars) AS max_chars
            FROM q GROUP BY source ORDER BY source
        """,
        "q_token_counts": f"""
            SELECT lang,
                   COUNT(*) AS n_docs,
                   CAST(SUM(CAST(len({_WORDS}) AS BIGINT)) AS BIGINT) AS total_words,
                   CAST(SUM(CAST(CAST(CEIL(length(text) / 4.0) AS INT) AS BIGINT)) AS BIGINT)
                       AS total_subwords,
                   CAST(SUM(len(regexp_extract_all(text,
                       '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]'))) AS BIGINT)
                       AS total_lexer_toks
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "q_quality_scores": f"""
            WITH d AS (
              SELECT source,
                     length(text) AS chars,
                     len({_WORDS}) AS n_words,
                     len(list_filter({_WORDS}, x -> x IN {_STOPWORDS})) AS stop_hits,
                     length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS punct
              FROM documents
            )
            SELECT source,
                   ROUND(AVG(ROUND(
                     0.25 * (CASE WHEN chars BETWEEN 20 AND 20000 THEN 1.0 ELSE 0.0 END)
                   + 0.25 * (CASE WHEN CAST(chars AS DOUBLE)/GREATEST(n_words,1)
                                  BETWEEN 3 AND 12 THEN 1.0 ELSE 0.0 END)
                   + 0.25 * LEAST(1.0, (CAST(stop_hits AS DOUBLE)/GREATEST(n_words,1)) * 5)
                   + 0.25 * (1 - LEAST(1.0, (CAST(punct AS DOUBLE)/GREATEST(chars,1)) / 0.3))
                   , 4)), 4) AS avg_quality,
                   ROUND(AVG(ROUND(CAST(punct AS DOUBLE)/GREATEST(chars,1), 4)), 4)
                       AS avg_punct,
                   ROUND(AVG(ROUND(CAST(stop_hits AS DOUBLE)/GREATEST(n_words,1), 4)), 4)
                       AS avg_stop
            FROM d GROUP BY source ORDER BY source
        """,
        "q_lang_id": _lang_id_oracle(),
        "q_lang_id_accuracy": _lang_id_accuracy_oracle(),
        "q_repetition_scores": f"""
            WITH w AS (
              SELECT doc_id, source, {_WORDS} AS ws FROM documents
            ),
            u AS (SELECT doc_id, unnest(ws) AS word FROM w),
            tc AS (
              SELECT doc_id, MAX(cnt) AS top_cnt FROM (
                SELECT doc_id, word, COUNT(*) AS cnt FROM u GROUP BY 1, 2
              ) GROUP BY 1
            ),
            sig AS (
              SELECT w.doc_id, w.source,
                CAST(len(ws) AS INT) AS n_words,
                CASE WHEN len(ws) > 0 THEN
                  1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)
                ELSE 0.0 END AS dup_word_frac,
                CASE WHEN len(ws) >= 2 THEN
                  1.0 - CAST(len(list_distinct(list_transform(
                    generate_series(1, len(ws) - 1),
                    i -> ws[i] || ' ' || ws[i + 1]))) AS DOUBLE)
                  / (len(ws) - 1)
                ELSE 0.0 END AS dup_bigram_frac,
                CASE WHEN len(ws) >= 3 THEN
                  1.0 - CAST(len(list_distinct(list_transform(
                    generate_series(1, len(ws) - 2),
                    i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
                  ))) AS DOUBLE) / (len(ws) - 2)
                ELSE 0.0 END AS dup_trigram_frac,
                CASE WHEN len(ws) > 0 THEN
                  CAST(tc.top_cnt AS DOUBLE) / len(ws)
                ELSE 0.0 END AS top_word_frac
              FROM w JOIN tc ON w.doc_id = tc.doc_id
            )
            SELECT doc_id, source, n_words, dup_word_frac,
                   dup_bigram_frac, dup_trigram_frac, top_word_frac,
                   (dup_word_frac <= 0.50 AND dup_bigram_frac <= 0.60
                    AND dup_trigram_frac <= 0.50
                    AND top_word_frac <= 0.30) AS repetition_keep
            FROM sig ORDER BY doc_id
        """,
        "q_repetition_summary": f"""
            WITH w AS (
              SELECT doc_id, source, {_WORDS} AS ws FROM documents
            ),
            u AS (SELECT doc_id, unnest(ws) AS word FROM w),
            tc AS (
              SELECT doc_id, MAX(cnt) AS top_cnt FROM (
                SELECT doc_id, word, COUNT(*) AS cnt FROM u GROUP BY 1, 2
              ) GROUP BY 1
            ),
            sig AS (
              SELECT w.doc_id, w.source,
                CASE WHEN len(ws) > 0 THEN
                  1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)
                ELSE 0.0 END AS dup_word_frac,
                CASE WHEN len(ws) >= 2 THEN
                  1.0 - CAST(len(list_distinct(list_transform(
                    generate_series(1, len(ws) - 1),
                    i -> ws[i] || ' ' || ws[i + 1]))) AS DOUBLE)
                  / (len(ws) - 1)
                ELSE 0.0 END AS dup_bigram_frac,
                CASE WHEN len(ws) >= 3 THEN
                  1.0 - CAST(len(list_distinct(list_transform(
                    generate_series(1, len(ws) - 2),
                    i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
                  ))) AS DOUBLE) / (len(ws) - 2)
                ELSE 0.0 END AS dup_trigram_frac,
                CASE WHEN len(ws) > 0 THEN
                  CAST(tc.top_cnt AS DOUBLE) / len(ws)
                ELSE 0.0 END AS top_word_frac
              FROM w JOIN tc ON w.doc_id = tc.doc_id
            )
            SELECT source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN dup_word_frac > 0.50 THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_dup_word_frac,
                   CAST(SUM(CASE WHEN dup_bigram_frac > 0.60 THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_dup_bigram_frac,
                   CAST(SUM(CASE WHEN dup_trigram_frac > 0.50 THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_dup_trigram_frac,
                   CAST(SUM(CASE WHEN top_word_frac > 0.30 THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_top_word_frac,
                   CAST(SUM(CASE WHEN dup_word_frac <= 0.50 AND dup_bigram_frac <= 0.60
                                  AND dup_trigram_frac <= 0.50 AND top_word_frac <= 0.30
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
            FROM sig GROUP BY source ORDER BY source
        """,
        "q_pack_windows": f"""
            WITH seq AS (
              SELECT doc_id, source,
                     CAST(len({_WORDS}) AS INT) AS n_tok
              FROM documents
            ),
            c AS (
              SELECT doc_id, source, n_tok,
                     CAST(SUM(CAST(n_tok AS BIGINT)) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS BIGINT) AS end_tok
              FROM seq
            )
            SELECT doc_id, source, n_tok,
                   end_tok - n_tok AS start_tok,
                   (end_tok - n_tok) // 256 AS first_window,
                   CASE WHEN n_tok > 0 THEN (end_tok - 1) // 256
                        ELSE (end_tok - n_tok) // 256 END AS last_window,
                   CASE WHEN n_tok > 0 THEN (end_tok - 1) // 256
                        ELSE (end_tok - n_tok) // 256 END
                   - (end_tok - n_tok) // 256 + 1 AS n_windows
            FROM c ORDER BY doc_id
        """,
        "q_pack_window_stats": f"""
            WITH seq AS (
              SELECT doc_id, source,
                     CAST(len({_WORDS}) AS INT) AS n_tok
              FROM documents
            ),
            c AS (
              SELECT doc_id, source, n_tok,
                     CAST(SUM(CAST(n_tok AS BIGINT)) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS BIGINT) AS end_tok
              FROM seq
            ),
            d AS (
              SELECT source, end_tok - n_tok AS start_tok, end_tok,
                     (end_tok - n_tok) // 256 AS first_window,
                     (end_tok - 1) // 256 AS last_window
              FROM c WHERE n_tok > 0
            ),
            e AS (
              SELECT source, start_tok, end_tok,
                     unnest(generate_series(first_window, last_window))
                       AS window_id
              FROM d
            )
            SELECT source, window_id,
                   COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN start_tok >= window_id * 256
                            THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_starting_docs,
                   CAST(SUM(LEAST(end_tok, (window_id + 1) * 256)
                            - GREATEST(start_tok, window_id * 256))
                        AS BIGINT) AS tokens_filled
            FROM e GROUP BY source, window_id
            ORDER BY source, window_id
        """,
        "q_pii_scan": _pii_scan_oracle(),
        "q_url_blocklist": _url_blocklist_oracle(),
        "q_curate_quarantine": _curate_quarantine_oracle(),
        "q_prepare_training_data": _prepare_training_oracle(),
        "q_check_history": _check_history_oracle(),
        "q_mixture_rebalance": """
            WITH n AS (
              SELECT source, COUNT(*) AS n_rows
              FROM documents GROUP BY source
            ),
            t AS (
              SELECT source, n_rows,
                     (CAST(substr(source, 4) AS INT) + 1) / 210.0
                       AS share
              FROM n
            ),
            m AS (SELECT MIN(n_rows / share) AS t_max FROM t),
            r AS (
              SELECT source,
                     CAST(floor(share * (SELECT t_max FROM m) / n_rows
                                * 1000000) AS BIGINT) AS keep_below
              FROM t
            ),
            s AS (
              SELECT d.source, d.doc_id,
                     ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1,
                                     15))::BIGINT % 1000000 AS h,
                     r.keep_below
              FROM documents d JOIN r ON d.source = r.source
            )
            SELECT source, COUNT(*) AS n_kept,
                   CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids
            FROM s WHERE h < keep_below
            GROUP BY source ORDER BY source
        """,
        "q_csv_roundtrip": f"""
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(SUM(length(text)) AS BIGINT) AS sum_text_len,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS d_lang,
                   CAST(COUNT(DISTINCT source) AS BIGINT) AS d_source,
                   CAST(SUM(doc_id) AS BIGINT) AS sum_ids
            FROM read_csv('{_CSV_ARTIFACT}/*.csv', header=true,
                          columns={{'doc_id': 'BIGINT', 'text': 'VARCHAR',
                                    'lang': 'VARCHAR', 'source': 'VARCHAR',
                                    'n_chars': 'BIGINT'}})
        """,
        "q_json_roundtrip": f"""
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(SUM(length(text)) AS BIGINT) AS sum_text_len,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS d_lang,
                   CAST(SUM(doc_id) AS BIGINT) AS sum_ids
            FROM read_json('{_JSON_ARTIFACT}/*.json',
                           columns={{'doc_id': 'BIGINT', 'text': 'VARCHAR',
                                     'lang': 'VARCHAR', 'source': 'VARCHAR',
                                     'n_chars': 'BIGINT'}})
        """,
        "q_exact_dedup": """
            WITH k AS (
              SELECT source, doc_id,
                     ROW_NUMBER() OVER (
                       PARTITION BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))
                       ORDER BY doc_id) AS rn
              FROM documents
            )
            SELECT source, COUNT(*) AS n_kept FROM k WHERE rn = 1
            GROUP BY source ORDER BY source
        """,
        "q_fingerprints": """
            SELECT COUNT(DISTINCT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       AS d_fingerprint,
                   COUNT(DISTINCT md5(
                     substr(regexp_replace(lower(text), '\\s+', ' ', 'g'), 1, 64)
                     || '|' ||
                     CASE WHEN length(regexp_replace(lower(text), '\\s+', ' ', 'g')) >= 64
                          THEN substr(regexp_replace(lower(text), '\\s+', ' ', 'g'),
                               length(regexp_replace(lower(text), '\\s+', ' ', 'g')) - 63, 64)
                          ELSE regexp_replace(lower(text), '\\s+', ' ', 'g') END
                     || '|' ||
                     CAST(length(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS VARCHAR)
                   )) AS d_rough,
                   COUNT(*) AS n_rows
            FROM documents
        """,
        "q_ngram_jaccard_self": """
            SELECT COUNT(*) AS n_pairs, COUNT(*) AS n_exact
            FROM documents WHERE doc_id < 200
        """,
        "q_ann_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     list_cosine_similarity(e.embedding, q.qv) AS cosine
              FROM embeddings e CROSS JOIN q
            ),
            ranked AS (
              SELECT query_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, CAST(rank AS INT) AS rank, vec_id
            FROM ranked WHERE rank <= 3 ORDER BY query_id, rank
        """,
        "q_embedding_pairs_exact": """
            WITH e AS (SELECT * FROM embeddings WHERE vec_id < 500),
            p AS (
              SELECT a.vec_id AS a, b.vec_id AS b,
                     list_cosine_similarity(a.embedding, b.embedding) AS c
              FROM e a JOIN e b ON a.vec_id < b.vec_id
            )
            SELECT COUNT(*) AS n_pairs,
                   CAST(SUM(CASE WHEN c >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_similar_50,
                   CAST(SUM(CASE WHEN c >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_similar_80
            FROM p
        """,
        "q_minhash_near_dup": _minhash_oracle(),
        "q_dedup_against": _minhash_oracle(
            pair_cond="x.doc_id < 200 AND y.doc_id >= 200"
        ),
        "q_simhash_groups": _simhash_oracle(),
        "q_simhash_hamming": _simhash_hamming_oracle(k=3),
        "q_embedding_near_dup_lsh": _embedding_lsh_oracle(),
        "q_embedding_against": _embedding_lsh_oracle(
            pair_cond="a.vec_id < 250 AND b.vec_id >= 250"
        ),
        # full-probe IVF must reproduce the exact brute-force ranking
        "q_ann_ivf": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     list_cosine_similarity(e.embedding, q.qv) AS cosine
              FROM embeddings e CROSS JOIN q
            ),
            ranked AS (
              SELECT query_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, CAST(rank AS INT) AS rank, vec_id
            FROM ranked WHERE rank <= 3 ORDER BY query_id, rank
        """,
        "q_seq_pipeline_verdicts": _verdicts_oracle("verdicts"),
        "q_report_json": _verdicts_oracle("report"),
        "q_verdict_rollup": _verdicts_oracle("rollup"),
        "q_remediation": _verdicts_oracle(
            "remediation", seq_sql=_SEQ_CORRUPTED_ORACLE, allowed=10
        ),
        "q_score_trends": _score_trends_oracle(),
        "q_dedup_clusters": _dedup_clusters_oracle(),
        # the forest itself has no SQL analogue; the oracle independently
        # re-aggregates the deterministic distributed-scoring export (see
        # q_isolation_forest docstring)
        "q_isolation_forest": f"""
            SELECT part_id,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END)
                        AS BIGINT) AS anomalies,
                   ROUND(CAST(SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END)
                              AS DOUBLE) / COUNT(*) * 100, 2) AS anomaly_pct
            FROM read_parquet('{_IFOREST_ARTIFACT}')
            GROUP BY part_id ORDER BY part_id
        """,
        "q_multimodal_meta": """
            SELECT CASE doc_id % 3 WHEN 0 THEN 'image'
                                   WHEN 1 THEN 'audio'
                                   ELSE 'video' END AS media_type,
                   COUNT(*) AS n_media,
                   CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
                   CAST(8 * COUNT(*) AS BIGINT) AS total_feat_dims,
                   CAST(SUM(CASE WHEN doc_id % 3 = 2 AND n_chars > 0
                            THEN CAST(CEIL(n_chars / 100.0) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS n_frames
            FROM documents GROUP BY 1 ORDER BY 1
        """,
    }


def _psi_oracle() -> str:
    return """
        WITH li AS (
          SELECT l_quantity,
                 CASE WHEN l_shipdate < TIMESTAMP '1997-01-01' THEN 'a' ELSE 'b' END AS half
          FROM lineitem
        ),
        h AS (
          SELECT lpad(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR), 6, '0') AS bin,
                 SUM(CASE WHEN half='b' THEN 1 ELSE 0 END) AS cur_cnt,
                 SUM(CASE WHEN half='a' THEN 1 ELSE 0 END) AS ref_cnt
          FROM li GROUP BY 1
        ),
        t AS (
          SELECT bin, cur_cnt, ref_cnt,
                 SUM(cur_cnt) OVER () AS n_cur,
                 SUM(ref_cnt) OVER () AS n_ref,
                 CAST(cur_cnt AS DOUBLE)/SUM(cur_cnt) OVER () AS p,
                 CAST(ref_cnt AS DOUBLE)/SUM(ref_cnt) OVER () AS q,
                 SUM(cur_cnt) OVER (ORDER BY bin) AS ccur,
                 SUM(ref_cnt) OVER (ORDER BY bin) AS cref
          FROM h
        ),
        ks AS (
          SELECT MAX(ABS(CAST(ccur AS DOUBLE)/n_cur - CAST(cref AS DOUBLE)/n_ref))
                     AS ks_stat
          FROM t
        ),
        agg AS (
          SELECT MAX(n_cur) AS n_cur,
                 MAX(n_ref) AS n_ref,
                 SUM((p - q) * ln(GREATEST(p, 1e-6)/GREATEST(q, 1e-6))) AS psi,
                 SUM(CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p+q)/2)) ELSE 0 END
                   + CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p+q)/2)) ELSE 0 END)
                     AS js,
                 SUM(CASE WHEN cur_cnt + ref_cnt > 0 THEN
                     POW(cur_cnt - n_cur*(cur_cnt+ref_cnt)/(n_cur+n_ref), 2)
                       / (n_cur*(cur_cnt+ref_cnt)/(n_cur+n_ref))
                   + POW(ref_cnt - n_ref*(cur_cnt+ref_cnt)/(n_cur+n_ref), 2)
                       / (n_ref*(cur_cnt+ref_cnt)/(n_cur+n_ref))
                   ELSE 0 END) AS chi2,
                 SUM(CASE WHEN cur_cnt + ref_cnt > 0 THEN 1 ELSE 0 END) - 1 AS dof
          FROM t
        )
        SELECT 'l_quantity' AS col,
               CAST(agg.n_cur AS BIGINT) AS n_cur,
               CAST(agg.n_ref AS BIGINT) AS n_ref,
               ROUND(agg.psi, 6) AS psi,
               ROUND(agg.js, 6) AS js_divergence,
               ROUND(ks.ks_stat, 6) AS ks_stat,
               ROUND(agg.chi2, 4) AS chi2_stat,
               CAST(agg.dof AS BIGINT) AS chi2_dof,
               CASE WHEN agg.psi < 0.1 THEN 'none'
                    WHEN agg.psi < 0.25 THEN 'moderate'
                    ELSE 'large' END AS psi_drift
        FROM agg, ks
    """


def _stratified_sample_oracle() -> str:
    case = " ".join(
        f"WHEN '{s}' THEN {int(r * 1_000_000)}"
        for s, r in sorted(_SAMPLE_RATES.items())
    )
    return f"""
        WITH s AS (
          SELECT source, doc_id,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 1000000 AS h,
                 CASE source {case}
                      ELSE {int(_SAMPLE_DEFAULT * 1_000_000)} END AS keep_below
          FROM documents
        )
        SELECT source,
               COUNT(*) AS n_sampled,
               CAST(SUM(doc_id) AS BIGINT) AS sum_sampled_ids
        FROM s WHERE h < keep_below
        GROUP BY source ORDER BY source
    """


def _span_dedup_oracle(summary: bool) -> str:
    """Full SQL recomputation of operators/span_dedup.py over the portable
    token ids: gram = md5 of the comma-joined token-id k-window (bit-exact
    with the Spark portable path), canonical = first (doc_id, pos) per
    duplicated gram via ROW_NUMBER (same total order as Spark's
    min(struct(doc_id, pos)) on BIGINT/INT), coverage = distinct union of
    the non-canonical k-windows."""
    k = _SPAN_K
    cte = f"""
        WITH seq AS (
          SELECT doc_id,
                 list_transform({_WORDS},
                   w -> CAST(('0x' || substr(md5(w), 1, 15))::BIGINT
                             % {_PORTABLE_VOCAB} AS INT)) AS tokens
          FROM documents
        ),
        occ AS (
          SELECT s.doc_id, t.i - 1 AS pos,
                 md5(array_to_string(s.tokens[t.i : t.i + {k} - 1], ',')) AS gram
          FROM seq s,
               LATERAL unnest(generate_series(1, len(s.tokens) - {k} + 1)) AS t(i)
          WHERE len(s.tokens) >= {k}
        ),
        marked AS (
          SELECT doc_id, pos,
                 COUNT(*) OVER (PARTITION BY gram) AS gram_count,
                 ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
          FROM occ
        ),
        removed AS (
          SELECT doc_id, pos FROM marked WHERE gram_count >= 2 AND rn > 1
        ),
        cov AS (
          SELECT DISTINCT r.doc_id, u.idx
          FROM removed r,
               LATERAL unnest(generate_series(r.pos, r.pos + {k} - 1)) AS u(idx)
        ),
        per_doc_cov AS (
          SELECT c.doc_id,
                 COUNT(*) AS covered_tokens,
                 SUM(s.tokens[c.idx + 1]) AS covered_sum
          FROM cov c JOIN seq s USING (doc_id)
          GROUP BY c.doc_id
        ),
        per_doc_removed AS (
          SELECT doc_id, COUNT(*) AS removed_occurrences
          FROM removed GROUP BY doc_id
        ),
        tot AS (
          SELECT doc_id, len(tokens) AS n_tok,
                 COALESCE(list_sum(tokens), 0) AS tok_sum
          FROM seq
        )
    """
    if not summary:
        return cte + f"""
        SELECT t.doc_id,
               CAST(t.n_tok AS BIGINT) AS n_tok,
               CAST(r.removed_occurrences AS BIGINT) AS removed_occurrences,
               CAST(c.covered_tokens AS BIGINT) AS covered_tokens,
               CAST(t.n_tok - c.covered_tokens AS BIGINT) AS kept_n_tok,
               CAST(t.tok_sum - c.covered_sum AS BIGINT) AS kept_token_sum
        FROM per_doc_removed r
        JOIN per_doc_cov c USING (doc_id)
        JOIN tot t USING (doc_id)
        """
    return cte + f"""
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM seq) AS docs_total,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM per_doc_cov) AS docs_affected,
               (SELECT CAST(SUM(n_tok) AS BIGINT) FROM tot) AS tokens_total,
               COALESCE((SELECT CAST(SUM(covered_tokens) AS BIGINT)
                         FROM per_doc_cov), 0) AS tokens_removed,
               ROUND(100.0 * COALESCE((SELECT SUM(covered_tokens)
                                       FROM per_doc_cov), 0)
                     / (SELECT SUM(n_tok) FROM tot), 4) AS removed_pct,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM
                 (SELECT gram FROM occ GROUP BY gram HAVING COUNT(*) >= 2)
               ) AS dup_grams,
               COALESCE((SELECT CAST(SUM(removed_occurrences) AS BIGINT)
                         FROM per_doc_removed), 0) AS removed_occurrences
        """


def _span_dedup_against_oracle() -> str:
    """SQL mirror of span_dedup_stats_against over parity halves: every
    odd-doc gram occurrence whose gram exists anywhere in the even-doc
    index is removed; coverage = distinct union of the k-windows."""
    k = _SPAN_K
    return f"""
        WITH seq AS (
          SELECT doc_id,
                 list_transform({_WORDS},
                   w -> CAST(('0x' || substr(md5(w), 1, 15))::BIGINT
                             % {_PORTABLE_VOCAB} AS INT)) AS tokens
          FROM documents
        ),
        occ AS (
          SELECT s.doc_id, t.i - 1 AS pos,
                 md5(array_to_string(s.tokens[t.i : t.i + {k} - 1], ',')) AS gram
          FROM seq s,
               LATERAL unnest(generate_series(1, len(s.tokens) - {k} + 1)) AS t(i)
          WHERE len(s.tokens) >= {k}
        ),
        index_grams AS (
          SELECT DISTINCT gram FROM occ WHERE doc_id % 2 = 0
        ),
        removed AS (
          SELECT o.doc_id, o.pos
          FROM occ o JOIN index_grams USING (gram)
          WHERE o.doc_id % 2 = 1
        ),
        cov AS (
          SELECT DISTINCT r.doc_id, u.idx
          FROM removed r,
               LATERAL unnest(generate_series(r.pos, r.pos + {k} - 1)) AS u(idx)
        ),
        per_doc_cov AS (
          SELECT c.doc_id,
                 COUNT(*) AS covered_tokens,
                 SUM(s.tokens[c.idx + 1]) AS covered_sum
          FROM cov c JOIN seq s USING (doc_id)
          GROUP BY c.doc_id
        ),
        per_doc_removed AS (
          SELECT doc_id, COUNT(*) AS removed_occurrences
          FROM removed GROUP BY doc_id
        ),
        tot AS (
          SELECT doc_id, len(tokens) AS n_tok,
                 COALESCE(list_sum(tokens), 0) AS tok_sum
          FROM seq WHERE doc_id % 2 = 1
        )
        SELECT t.doc_id,
               CAST(t.n_tok AS BIGINT) AS n_tok,
               CAST(r.removed_occurrences AS BIGINT) AS removed_occurrences,
               CAST(c.covered_tokens AS BIGINT) AS covered_tokens,
               CAST(t.n_tok - c.covered_tokens AS BIGINT) AS kept_n_tok,
               CAST(t.tok_sum - c.covered_sum AS BIGINT) AS kept_token_sum
        FROM per_doc_removed r
        JOIN per_doc_cov c USING (doc_id)
        JOIN tot t USING (doc_id)
    """


def _token_drift_oracle() -> str:
    # token ids mirror _portable_sequences_view bit-exactly:
    # ('0x'||substr(md5(w),1,15))::BIGINT == Spark conv(substring(md5,1,15),16,10)
    return f"""
        WITH toks AS (
          SELECT doc_id % 2 AS half,
                 (('0x' || substr(md5(unnest({_WORDS})), 1, 15))::BIGINT
                   % {_PORTABLE_VOCAB}) AS tok
          FROM documents
        ),
        h AS (
          SELECT tok,
                 SUM(CASE WHEN half=1 THEN 1 ELSE 0 END) AS cur_cnt,
                 SUM(CASE WHEN half=0 THEN 1 ELSE 0 END) AS ref_cnt
          FROM toks GROUP BY 1
        ),
        t AS (
          SELECT cur_cnt, ref_cnt,
                 SUM(cur_cnt) OVER () AS n_cur,
                 SUM(ref_cnt) OVER () AS n_ref,
                 CAST(cur_cnt AS DOUBLE)/SUM(cur_cnt) OVER () AS p,
                 CAST(ref_cnt AS DOUBLE)/SUM(ref_cnt) OVER () AS q
          FROM h
        ),
        agg AS (
          SELECT MAX(n_cur) AS n_cur,
                 MAX(n_ref) AS n_ref,
                 SUM((p - q) * ln(GREATEST(p, 1e-6)/GREATEST(q, 1e-6))) AS psi,
                 SUM(CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p+q)/2)) ELSE 0 END
                   + CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p+q)/2)) ELSE 0 END)
                     AS js,
                 SUM(CASE WHEN cur_cnt + ref_cnt > 0 THEN
                     POW(cur_cnt - n_cur*(cur_cnt+ref_cnt)/(n_cur+n_ref), 2)
                       / (n_cur*(cur_cnt+ref_cnt)/(n_cur+n_ref))
                   + POW(ref_cnt - n_ref*(cur_cnt+ref_cnt)/(n_cur+n_ref), 2)
                       / (n_ref*(cur_cnt+ref_cnt)/(n_cur+n_ref))
                   ELSE 0 END) AS chi2,
                 SUM(CASE WHEN cur_cnt + ref_cnt > 0 THEN 1 ELSE 0 END) - 1 AS dof
          FROM t
        ),
        oov AS (
          SELECT CAST(SUM(CASE WHEN ref_cnt = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS new_tokens,
                 ROUND(100.0 * SUM(CASE WHEN ref_cnt = 0 THEN cur_cnt ELSE 0 END)
                       / SUM(cur_cnt), 4) AS oov_pct
          FROM h WHERE cur_cnt > 0
        )
        SELECT 'tokens_unigram' AS col,
               CAST(agg.n_cur AS BIGINT) AS n_cur,
               CAST(agg.n_ref AS BIGINT) AS n_ref,
               ROUND(agg.psi, 6) AS psi,
               ROUND(agg.js, 6) AS js_divergence,
               ROUND(agg.chi2, 4) AS chi2_stat,
               CAST(agg.dof AS BIGINT) AS chi2_dof,
               CASE WHEN agg.psi < 0.1 THEN 'none'
                    WHEN agg.psi < 0.25 THEN 'moderate'
                    ELSE 'large' END AS psi_drift,
               oov.new_tokens,
               oov.oov_pct
        FROM agg, oov
    """


def _chi2_oracle() -> str:
    return """
        WITH li AS (
          SELECT l_returnflag AS bin,
                 CASE WHEN l_shipdate < TIMESTAMP '1997-01-01' THEN 'a' ELSE 'b' END AS half
          FROM lineitem
        ),
        h AS (
          SELECT bin,
                 SUM(CASE WHEN half='b' THEN 1 ELSE 0 END) AS cur_cnt,
                 SUM(CASE WHEN half='a' THEN 1 ELSE 0 END) AS ref_cnt
          FROM li GROUP BY 1
        ),
        t AS (
          SELECT bin, cur_cnt, ref_cnt,
                 SUM(cur_cnt) OVER () AS n_cur,
                 SUM(ref_cnt) OVER () AS n_ref,
                 CAST(cur_cnt AS DOUBLE)/SUM(cur_cnt) OVER () AS p,
                 CAST(ref_cnt AS DOUBLE)/SUM(ref_cnt) OVER () AS q
          FROM h
        )
        SELECT 'l_returnflag' AS col,
               CAST(MAX(n_cur) AS BIGINT) AS n_cur,
               CAST(MAX(n_ref) AS BIGINT) AS n_ref,
               ROUND(SUM((p - q) * ln(GREATEST(p, 1e-6)/GREATEST(q, 1e-6))), 6) AS psi,
               ROUND(SUM(CASE WHEN cur_cnt + ref_cnt > 0 THEN
                   POW(cur_cnt - n_cur*(cur_cnt+ref_cnt)/(n_cur+n_ref), 2)
                     / (n_cur*(cur_cnt+ref_cnt)/(n_cur+n_ref))
                 + POW(ref_cnt - n_ref*(cur_cnt+ref_cnt)/(n_cur+n_ref), 2)
                     / (n_ref*(cur_cnt+ref_cnt)/(n_cur+n_ref))
                 ELSE 0 END), 4) AS chi2_stat,
               CAST(SUM(CASE WHEN cur_cnt + ref_cnt > 0 THEN 1 ELSE 0 END) - 1 AS BIGINT) AS chi2_dof,
               CASE WHEN SUM((p - q) * ln(GREATEST(p,1e-6)/GREATEST(q,1e-6))) < 0.1
                    THEN 'none'
                    WHEN SUM((p - q) * ln(GREATEST(p,1e-6)/GREATEST(q,1e-6))) < 0.25
                    THEN 'moderate' ELSE 'large' END AS psi_drift
        FROM t
    """


def _source_drift_oracle() -> str:
    return """
        WITH mid AS (
          SELECT quantile_cont(CAST(doc_id AS DOUBLE), 0.5) AS m FROM documents
        ),
        h AS (
          SELECT source AS bin,
                 SUM(CASE WHEN doc_id > (SELECT m FROM mid) THEN 1 ELSE 0 END) AS cur_cnt,
                 SUM(CASE WHEN doc_id <= (SELECT m FROM mid) THEN 1 ELSE 0 END) AS ref_cnt
          FROM documents GROUP BY 1
        ),
        t AS (
          SELECT bin, cur_cnt, ref_cnt,
                 CAST(cur_cnt AS DOUBLE)/SUM(cur_cnt) OVER () AS p,
                 CAST(ref_cnt AS DOUBLE)/SUM(ref_cnt) OVER () AS q
          FROM h
        )
        SELECT 'source' AS col,
               ROUND(SUM((p - q) * ln(GREATEST(p, 1e-6)/GREATEST(q, 1e-6))), 6) AS psi,
               CASE WHEN SUM((p - q) * ln(GREATEST(p,1e-6)/GREATEST(q,1e-6))) < 0.1
                    THEN 'none'
                    WHEN SUM((p - q) * ln(GREATEST(p,1e-6)/GREATEST(q,1e-6))) < 0.25
                    THEN 'moderate' ELSE 'large' END AS psi_drift,
               ROUND(SUM(
                 CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p+q)/2)) ELSE 0 END
               + CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p+q)/2)) ELSE 0 END), 6)
                   AS js_divergence
        FROM t
    """


def _metric_drift_oracle() -> str:
    """CUSUM needs a max(0,·) recurrence → recursive CTE; Page–Hinkley is
    pure window algebra (running mean → cumulative sum → running min)."""
    return """
        WITH RECURSIVE series AS (
          SELECT date_trunc('hour', ts) AS ts, event_type AS metric,
                 AVG(value) AS value
          FROM events GROUP BY 1, 2 HAVING AVG(value) IS NOT NULL
        ),
        base AS (
          SELECT metric, value,
                 ROW_NUMBER() OVER (PARTITION BY metric ORDER BY ts) AS rn
          FROM series
        ),
        cal AS (
          SELECT metric, AVG(value) AS mu,
                 COALESCE(NULLIF(STDDEV_SAMP(value), 0), 1.0) AS sigma
          FROM base WHERE rn <= 20 GROUP BY metric
        ),
        ph AS (
          SELECT metric, rn, value,
                 SUM(value) OVER (PARTITION BY metric ORDER BY rn) / rn
                     AS runmean
          FROM base
        ),
        ph2 AS (
          SELECT metric, rn,
                 SUM(runmean - value - 0.005)
                   OVER (PARTITION BY metric ORDER BY rn) AS m
          FROM ph
        ),
        ph3 AS (
          SELECT metric, rn,
                 m - LEAST(MIN(m) OVER (PARTITION BY metric ORDER BY rn), 0)
                     AS ph_stat
          FROM ph2
        ),
        cusum AS (
          SELECT b.metric, b.rn,
                 GREATEST(0.0, (b.value - c.mu)/c.sigma - 0.5) AS sp,
                 GREATEST(0.0, -(b.value - c.mu)/c.sigma - 0.5) AS sn
          FROM base b JOIN cal c USING (metric) WHERE b.rn = 1
          UNION ALL
          SELECT b.metric, b.rn,
                 GREATEST(0.0, r.sp + (b.value - c.mu)/c.sigma - 0.5),
                 GREATEST(0.0, r.sn - (b.value - c.mu)/c.sigma - 0.5)
          FROM cusum r
          JOIN base b ON b.metric = r.metric AND b.rn = r.rn + 1
          JOIN cal c ON c.metric = b.metric
        ),
        agg AS (
          SELECT m.metric,
                 MAX(m.rn) AS n,
                 MAX(CASE WHEN c.sp > 5 OR c.sn > 5 THEN 1 ELSE 0 END) = 1
                     AS cusum_alarm,
                 MAX(CASE WHEN p.ph_stat > 50 THEN 1 ELSE 0 END) = 1
                     AS ph_alarm
          FROM base m
          JOIN cusum c ON c.metric = m.metric AND c.rn = m.rn
          JOIN ph3 p ON p.metric = m.metric AND p.rn = m.rn
          GROUP BY m.metric
        )
        SELECT metric, n, cusum_alarm, ph_alarm,
               (cusum_alarm OR ph_alarm) AS drift_detected,
               CASE WHEN cusum_alarm OR ph_alarm THEN 'retrain_model'
                    ELSE 'no_action' END AS recommendation
        FROM agg ORDER BY metric
    """


_ALLOWED_20 = ",".join(f"'src{i}'" for i in range(20))

# corrupted twin of _SEQ_ORACLE used by q_remediation: plants null doc_ids
# (every 97th) and duplicate keys (doc_id mod 450) so missing / uniqueness /
# referential all fire — mirrored exactly in the Spark query
_SEQ_CORRUPTED_ORACLE = """
    SELECT CASE WHEN doc_id % 97 = 0 THEN NULL
                ELSE CAST(doc_id % 450 AS VARCHAR) END AS doc_id,
           len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS n_tok,
           source,
           CAST(doc_id % 8 AS INT) AS part_id
    FROM documents
"""


def _verdicts_oracle(
    shape: str, seq_sql: str | None = None, allowed: int = 20
) -> str:
    """DuckDB mirror of ``plans.pipeline.build_verdicts`` over the derived
    sequence view with ref_stats=None, allowed = src0..src19: the six
    deterministic checks (missing ×3, length_consistency, uniqueness,
    referential) with the engine's exact pct/severity/recommendation
    chains (functions/verdicts.py, config.py thresholds).

    shape='verdicts'    → the raw verdict rows (q_seq_pipeline_verdicts);
    shape='report'      → the JSON-roundtrip rows (q_report_json);
    shape='remediation' → failed verdicts joined to the remediation rules
                          table (q_remediation)."""
    mk_pct = "ROUND((CAST({x} AS DOUBLE) / n_rows) * 100, 2)"
    seq_sql = seq_sql or _SEQ_ORACLE
    allowed_list = ",".join(f"'src{i}'" for i in range(allowed))

    def missing(col, rec_nonzero):
        pct = mk_pct.format(x=f"null_{col}")
        return f"""
          SELECT part_id, 'missing_values' AS "check", '{col}' AS "column",
                 CAST(null_{col} AS DOUBLE) AS value,
                 {pct} AS pct,
                 CASE WHEN {pct} >= 50 THEN 'high'
                      WHEN {pct} >= 10 THEN 'medium' ELSE 'low' END AS severity,
                 CASE WHEN {pct} >= 50 THEN 'drop_column'
                      WHEN {pct} > 0 THEN '{rec_nonzero}'
                      ELSE 'no_action' END AS recommendation,
                 {pct} = 0 AS passed
          FROM p"""

    lm_pct = mk_pct.format(x="len_mismatch")
    ref_pct = mk_pct.format(x="violations")
    branches = [
        missing("doc_id", "impute_mode"),
        missing("tokens", "investigate"),
        missing("source", "impute_mode"),
        f"""
          SELECT part_id, 'length_consistency', 'tokens',
                 CAST(len_mismatch AS DOUBLE), {lm_pct},
                 CASE WHEN len_mismatch = 0 THEN 'none'
                      WHEN {lm_pct} < 1 THEN 'medium' ELSE 'high' END,
                 CASE WHEN len_mismatch = 0 THEN 'no_action'
                      ELSE 'repair_n_tok' END,
                 len_mismatch = 0
          FROM p""",
        """
          SELECT part_id, 'uniqueness', 'doc_id',
                 CAST(duplicate_rows AS DOUBLE), duplicate_pct,
                 CASE WHEN duplicate_pct = 0 THEN 'none'
                      WHEN duplicate_pct < 1 THEN 'low'
                      WHEN duplicate_pct < 5 THEN 'medium' ELSE 'high' END,
                 CASE WHEN duplicate_pct = 0 THEN 'no_action'
                      WHEN duplicate_pct < 1 THEN 'keep_first'
                      WHEN duplicate_pct < 5 THEN 'review_and_remove'
                      WHEN duplicate_pct < 20 THEN 'investigate_cause'
                      ELSE 'major_issue_investigate' END,
                 duplicate_rows = 0
          FROM ua""",
        f"""
          SELECT part_id, 'referential', 'source',
                 CAST(violations AS DOUBLE), {ref_pct},
                 CASE WHEN violations = 0 THEN 'none'
                      WHEN {ref_pct} < 1 THEN 'low'
                      WHEN {ref_pct} < 5 THEN 'medium' ELSE 'high' END,
                 CASE WHEN violations = 0 THEN 'no_action'
                      ELSE 'quarantine_unknown_sources' END,
                 violations = 0
          FROM p""",
    ]
    union = "\n          UNION ALL\n".join(branches)
    if shape == "verdicts":
        select = """
            SELECT part_id, "check", "column", value, pct, severity,
                   recommendation, passed
            FROM v ORDER BY part_id, "check", "column" """
    elif shape == "rollup":
        select = """
            SELECT COALESCE(part_id, -1) AS part_id,
                   COALESCE("check", 'ALL') AS "check",
                   COUNT(*) AS n_checks,
                   CAST(SUM(CASE WHEN passed = false THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_failed,
                   MAX(pct) AS worst_pct,
                   CAST(SUM(CAST(ROUND(pct * 100, 0) AS BIGINT))
                        AS BIGINT) AS sum_pct_centi
            FROM v
            GROUP BY ROLLUP(part_id, "check")
            ORDER BY 1, 2 """
    elif shape == "report":
        select = """
            SELECT 'gate_run' AS run_id, part_id,
                   "check" || ':' || "column" AS check_key,
                   value, pct, severity, recommendation, passed
            FROM v ORDER BY part_id, check_key """
    else:  # remediation: mirror functions.remediation.remediation_plan
        from data_drift_monitoring_spark.functions.remediation import (
            DEFAULT_RULES,
        )

        def esc(s: str) -> str:
            return s.replace("'", "''")

        values = ",\n              ".join(
            f"('{c}', '{s}', '{p}', '{a}', '{esc(sn)}')"
            for c, s, p, a, sn in DEFAULT_RULES
        )
        select = f"""
            , rules("check", severity, priority, action, snippet) AS (
              VALUES {values}
            )
            SELECT v.part_id, v."check", v."column", v.severity,
                   COALESCE(r.priority, 'medium') AS priority,
                   COALESCE(r.action, 'investigate') AS action,
                   replace(COALESCE(r.snippet, '# investigate ''{{column}}'''),
                           '{{column}}', v."column") AS snippet
            FROM v LEFT JOIN rules r
              ON r."check" = v."check" AND r.severity = v.severity
            WHERE NOT v.passed
            ORDER BY v.part_id, v."check" """
    return f"""
        WITH seq AS ({seq_sql}),
        p AS (
          SELECT part_id,
                 COUNT(*) AS n_rows,
                 CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_doc_id,
                 CAST(SUM(CASE WHEN n_tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_tokens,
                 CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_source,
                 CAST(SUM(CASE WHEN n_tok IS NOT NULL AND n_tok <> n_tok
                          THEN 1 ELSE 0 END) AS BIGINT) AS len_mismatch,
                 CAST(SUM(CASE WHEN source IS NULL OR source NOT IN ({allowed_list})
                          THEN 1 ELSE 0 END) AS BIGINT) AS violations
          FROM seq GROUP BY part_id
        ),
        u AS (
          SELECT part_id, doc_id, COUNT(*) AS c
          FROM seq WHERE doc_id IS NOT NULL GROUP BY 1, 2
        ),
        ua AS (
          SELECT part_id,
                 CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS duplicate_rows,
                 ROUND((CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                        / SUM(c)) * 100, 2) AS duplicate_pct
          FROM u GROUP BY 1
        ),
        v AS (
          {union}
        )
        {select}
    """


def _contamination_cte() -> str:
    """Shared CTE: per-doc DISTINCT 3-gram sets over doc_id<300 hashed
    with the portable 60-bit md5 hash (mirror of
    contamination._gram_table + dedup.portable_word_hash), split into
    train (doc_id%10 != 0) / eval (doc_id%10 == 0) gram tables."""
    return r"""
        WITH d AS (
          SELECT doc_id,
                 string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS w
          FROM documents WHERE doc_id < 300
        ),
        sh AS (
          SELECT doc_id,
                 list_distinct([('0x' || substr(md5(array_to_string(list_slice(w, i, i+2), ' ')), 1, 15))::BIGINT
                                for i in range(1, greatest(len(w)-2, 1)+1)]) AS s
          FROM d
        ),
        tr AS (SELECT doc_id AS train_id, len(s) AS n_train_grams, unnest(s) AS g
               FROM sh WHERE doc_id % 10 != 0),
        ev AS (SELECT doc_id AS eval_id, len(s) AS n_eval_grams, unnest(s) AS g
               FROM sh WHERE doc_id % 10 = 0)
    """


def _contamination_pairs_oracle() -> str:
    return f"""
        {_contamination_cte()},
        m AS (
          SELECT train_id, eval_id, n_train_grams, n_eval_grams,
                 COUNT(*) AS i
          FROM tr JOIN ev USING (g)
          GROUP BY ALL
        )
        SELECT train_id, eval_id,
               CAST(i AS BIGINT) AS matched_grams,
               CAST(n_train_grams AS BIGINT) AS n_train_grams,
               CAST(n_eval_grams AS BIGINT) AS n_eval_grams,
               ROUND(CAST(i AS DOUBLE) / n_eval_grams, 6) AS overlap
        FROM m
        WHERE CAST(i AS DOUBLE) / n_eval_grams >= 0.1
        ORDER BY train_id, eval_id
    """


def _contamination_report_oracle() -> str:
    return f"""
        {_contamination_cte()},
        sizes AS (
          SELECT doc_id AS eval_id, len(s) AS n_eval_grams
          FROM sh WHERE doc_id % 10 = 0
        ),
        m AS (
          SELECT eval_id, COUNT(DISTINCT g) AS mg
          FROM tr JOIN ev USING (g)
          GROUP BY eval_id
        )
        SELECT s.eval_id,
               CAST(s.n_eval_grams AS BIGINT) AS n_eval_grams,
               CAST(COALESCE(m.mg, 0) AS BIGINT) AS matched_grams,
               ROUND(CAST(COALESCE(m.mg, 0) AS DOUBLE) / s.n_eval_grams, 6) AS overlap,
               CAST(CAST(COALESCE(m.mg, 0) AS DOUBLE) / s.n_eval_grams >= 0.5 AS INTEGER) AS contaminated
        FROM sizes s LEFT JOIN m ON s.eval_id = m.eval_id
        ORDER BY s.eval_id
    """


def _embedding_drift_cte() -> str:
    """Shared CTE: parity-split embedding snapshots with the planted
    +0.25 dim-0 shift (mirror of _embedding_drift_halves — elements cast
    to double BEFORE arithmetic, every element gets +0.0 or +0.25 exactly
    as the Spark transform does), per-dim Welch z via embedding_drift's
    expression order."""
    return """
        WITH base AS (
          SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
          FROM embeddings
        ),
        cur AS (
          SELECT [v[i] + CASE WHEN i = 1 THEN 0.25 ELSE 0.0 END
                  for i in range(1, len(v)+1)] AS v
          FROM base WHERE vec_id % 2 = 1
        ),
        ref AS (SELECT v FROM base WHERE vec_id % 2 = 0),
        ce AS (SELECT generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS val FROM cur),
        re AS (SELECT generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS val FROM ref),
        cs AS (SELECT dim, COUNT(*) AS n_cur, AVG(val) AS mean_cur,
                      VAR_SAMP(val) AS var_cur, STDDEV_SAMP(val) AS std_cur
               FROM ce GROUP BY dim),
        rs AS (SELECT dim, COUNT(*) AS n_ref, AVG(val) AS mean_ref,
                      VAR_SAMP(val) AS var_ref, STDDEV_SAMP(val) AS std_ref
               FROM re GROUP BY dim),
        j AS (SELECT dim, n_cur, n_ref, mean_cur, mean_ref, std_cur, std_ref,
                     sqrt(var_cur / n_cur + var_ref / n_ref) AS se
              FROM cs JOIN rs USING (dim)),
        z AS (SELECT *,
                     CASE WHEN se > 0 THEN (mean_cur - mean_ref) / se END AS z_shift,
                     CASE WHEN se > 0
                          THEN CAST(abs((mean_cur - mean_ref) / se) >= 3.0 AS INTEGER)
                          ELSE CAST(mean_cur != mean_ref AS INTEGER) END AS drifted
              FROM j)
    """


def _embedding_dim_drift_oracle() -> str:
    return f"""
        {_embedding_drift_cte()}
        SELECT dim, n_cur, n_ref,
               ROUND(mean_cur, 6) AS mean_cur,
               ROUND(mean_ref, 6) AS mean_ref,
               ROUND(std_cur, 6) AS std_cur,
               ROUND(std_ref, 6) AS std_ref,
               ROUND(z_shift, 4) AS z_shift,
               drifted
        FROM z ORDER BY dim
    """


def _embedding_drift_summary_oracle() -> str:
    return f"""
        {_embedding_drift_cte()}
        SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
               ROUND(SUM(mean_cur * mean_ref)
                     / (sqrt(SUM(mean_cur * mean_cur)) * sqrt(SUM(mean_ref * mean_ref))),
                     6) AS centroid_cosine,
               ROUND(AVG(ABS(z_shift)), 4) AS mean_abs_z,
               ROUND(MAX(ABS(z_shift)), 4) AS max_abs_z,
               CAST(SUM(drifted) AS BIGINT) AS n_drifted,
               CASE WHEN SUM(drifted) > 0 THEN 'drift' ELSE 'none' END AS verdict
        FROM z
    """


def _minhash_oracle(
    pair_cond: str = "x.doc_id < y.doc_id",
) -> str:
    """Exact all-pairs 3-gram Jaccard over doc_id<300 — the ground truth
    the LSH-verified pair list must equal (shingle construction mirrors
    dedup._with_shingles: lowercase, whitespace-collapse, k-word windows with
    a single whole-doc shingle for docs shorter than k). ``pair_cond``
    selects the pair universe: the self-join default, or the
    index-side × new-side split for q_dedup_against."""
    return rf"""
        WITH d AS (
          SELECT doc_id,
                 string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS w
          FROM documents WHERE doc_id < 300
        ),
        sh AS (
          SELECT doc_id,
                 list_distinct([array_to_string(list_slice(w, i, i+2), ' ')
                                for i in range(1, greatest(len(w)-2, 1)+1)]) AS s
          FROM d
        ),
        e AS (SELECT doc_id, unnest(s) AS g FROM sh),
        sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        inter AS (
          SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
          FROM e x JOIN e y ON x.g = y.g AND {pair_cond}
          GROUP BY 1, 2
        )
        SELECT inter.a, inter.b,
               ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = inter.a
                   JOIN sizes sb ON sb.doc_id = inter.b
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
        ORDER BY a, b
    """


def _simhash_sig_cte() -> str:
    """Shared CTE: bit-vote SimHash reimplemented in SQL with the portable
    60-bit md5-derived word hash (dedup.portable_word_hash mirror)."""
    vote = "list_sum(list_transform(hs, h -> ((h >> b) & 1)*2 - 1))"
    return rf"""
        WITH d AS (
          SELECT doc_id, list_transform(
            string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' '),
            w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS hs
          FROM documents WHERE doc_id < 300
        ),
        s AS (
          SELECT doc_id,
                 list_sum([CASE WHEN {vote} > 0
                           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
                           for b in range(0, 60)]) AS sig
          FROM d
        )
    """


def _simhash_hamming_oracle(k: int) -> str:
    """Exact all-pairs Hamming over the bit-exact SQL signatures — the
    ground truth the k+1-band pigeonhole split must reproduce in full."""
    return f"""
        {_simhash_sig_cte()}
        SELECT x.doc_id AS a, y.doc_id AS b,
               CAST(bit_count(xor(x.sig, y.sig)) AS BIGINT) AS hamming
        FROM s x JOIN s y ON x.doc_id < y.doc_id
        WHERE bit_count(xor(x.sig, y.sig)) <= {k}
        ORDER BY a, b
    """


def _simhash_oracle() -> str:
    return f"""
        {_simhash_sig_cte()}
        SELECT COUNT(*) AS n_docs,
               COUNT(DISTINCT sig) AS n_sigs,
               CAST(COUNT(*) - COUNT(DISTINCT sig) AS BIGINT) AS n_dup_members,
               CAST(bit_xor(sig) AS BIGINT) AS xor_sig
        FROM s
    """


def _embedding_lsh_oracle(pair_cond: str = "a.vec_id < b.vec_id") -> str:
    """Exact all-pairs cosine ≥ 0.5; ``pair_cond`` selects the pair
    universe (self-join default, or the index × new split for
    q_embedding_against)."""
    return f"""
        WITH p AS (
          SELECT a.vec_id AS a, b.vec_id AS b,
                 list_cosine_similarity(a.embedding, b.embedding) AS c
          FROM embeddings a JOIN embeddings b ON {pair_cond}
        )
        SELECT a, b, ROUND(CAST(c AS DOUBLE), 4) AS cosine FROM p
        WHERE c >= 0.5 ORDER BY a, b
    """


def _dedup_clusters_oracle() -> str:
    """Exact pair set (trigram Jaccard ≥ 0.5 over doc_id<300) + its
    transitive closure via a recursive CTE → min-key cluster labels —
    the ground truth the distributed label propagation must reproduce."""
    return r"""
        WITH RECURSIVE d AS (
          SELECT doc_id,
                 string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS w
          FROM documents WHERE doc_id < 300
        ),
        sh AS (
          SELECT doc_id,
                 list_distinct([array_to_string(list_slice(w, i, i+2), ' ')
                                for i in range(1, greatest(len(w)-2, 1)+1)]) AS s
          FROM d
        ),
        e AS (SELECT doc_id, unnest(s) AS g FROM sh),
        sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        inter AS (
          SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
          FROM e x JOIN e y ON x.g = y.g AND x.doc_id < y.doc_id
          GROUP BY 1, 2
        ),
        p AS (
          SELECT inter.a, inter.b
          FROM inter JOIN sizes sa ON sa.doc_id = inter.a
                     JOIN sizes sb ON sb.doc_id = inter.b
          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
        ),
        edges AS (
          SELECT a AS s, b AS t FROM p UNION SELECT b, a FROM p
        ),
        reach(k, r) AS (
          SELECT s, s FROM edges
          UNION
          SELECT ed.s, reach.r FROM edges ed JOIN reach ON reach.k = ed.t
        ),
        labels AS (SELECT k, MIN(r) AS cluster FROM reach GROUP BY k)
        SELECT cluster, COUNT(*) AS size, MAX(k) AS max_member
        FROM labels GROUP BY cluster ORDER BY cluster
    """


def _score_trends_oracle() -> str:
    """Mirror of score_partitions (quality_scorer.py:46-122 weights
    30/25/25/20 over max-missing / uniqueness / contract-violation pcts)
    for two runs, then the lag/delta/direction trend window."""

    def one(tag: str, seq_sql: str, allowed: int) -> str:
        allowed_list = ",".join(f"'src{i}'" for i in range(allowed))
        pct = "ROUND((CAST({x} AS DOUBLE) / COUNT(*)) * 100, 2)"
        return f"""
        seq_{tag} AS ({seq_sql}),
        p_{tag} AS (
          SELECT part_id,
                 {pct.format(x="SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)")} AS pct_doc,
                 {pct.format(x="SUM(CASE WHEN n_tok IS NULL THEN 1 ELSE 0 END)")} AS pct_tok,
                 {pct.format(x="SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END)")} AS pct_src,
                 {pct.format(x="SUM(CASE WHEN n_tok IS NOT NULL AND n_tok <> n_tok THEN 1 ELSE 0 END)")} AS pct_lm,
                 {pct.format(x=f"SUM(CASE WHEN source IS NULL OR source NOT IN ({allowed_list}) THEN 1 ELSE 0 END)")} AS pct_ref
          FROM seq_{tag} GROUP BY part_id
        ),
        u_{tag} AS (
          SELECT part_id, doc_id, COUNT(*) AS c
          FROM seq_{tag} WHERE doc_id IS NOT NULL GROUP BY 1, 2
        ),
        ua_{tag} AS (
          SELECT part_id,
                 ROUND((CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                        / SUM(c)) * 100, 2) AS dup_pct
          FROM u_{tag} GROUP BY 1
        ),
        s_{tag} AS (
          SELECT p.part_id,
                 ROUND(
                   GREATEST(0.0, 100.0 - GREATEST(pct_doc, pct_tok, pct_src)) * 30.0 / 100
                 + GREATEST(0.0, 100.0 - COALESCE(ua.dup_pct, 0.0)) * 25.0 / 100
                 + GREATEST(0.0, 100.0 - LEAST(pct_ref + pct_lm, 100.0)) * 25.0 / 100
                 + 100.0 * 20.0 / 100, 2) AS overall_score
          FROM p_{tag} p LEFT JOIN ua_{tag} ua USING (part_id)
        )"""

    return f"""
        WITH {one('a', _SEQ_ORACLE, 20)},
        {one('b', _SEQ_CORRUPTED_ORACLE, 10)},
        scores AS (
          SELECT part_id, 1 AS run_seq, overall_score FROM s_a
          UNION ALL
          SELECT part_id, 2 AS run_seq, overall_score FROM s_b
        ),
        t AS (
          SELECT part_id, run_seq, overall_score,
                 LAG(overall_score) OVER (
                   PARTITION BY part_id ORDER BY run_seq
                 ) AS prev_overall_score
          FROM scores
        )
        SELECT part_id, run_seq, overall_score, prev_overall_score,
               ROUND(overall_score - prev_overall_score, 2) AS delta,
               CASE WHEN prev_overall_score IS NULL THEN 'baseline'
                    WHEN ROUND(overall_score - prev_overall_score, 2) > 0
                         THEN 'improving'
                    WHEN ROUND(overall_score - prev_overall_score, 2) < 0
                         THEN 'degrading'
                    ELSE 'stable' END AS direction
        FROM t ORDER BY part_id, run_seq
    """


def _lang_id_oracle() -> str:
    """Generated from text_analysis.LANG_MARKERS (single source of truth).
    The Spark fold replaces the running best only on strictly-greater
    hits while iterating languages in sorted order, which equals 'the
    FIRST language (sorted) attaining the overall maximum' — mirrored
    here as GREATEST + an ordered equality chain."""
    return f"""
        {_lang_pred_cte()}
        SELECT lang_pred, COUNT(*) AS n_docs FROM p
        GROUP BY lang_pred ORDER BY lang_pred
    """


def _lang_pred_cte() -> str:
    """Shared prediction CTE ``p(lang, lang_pred)`` for the lang-ID
    oracles, generated from LANG_MARKERS."""
    from data_drift_monitoring_spark.operators.text_analysis import (
        LANG_MARKERS,
    )

    langs = sorted(LANG_MARKERS)
    hit_exprs = ",\n                 ".join(
        "len(list_filter({w}, x -> x IN ({m}))) AS h_{lang}".format(
            w=_WORDS,
            m=",".join("'" + t.replace("'", "''") + "'" for t in LANG_MARKERS[lang]),
            lang=lang,
        )
        for lang in langs
    )
    mx = "GREATEST(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    chain = "\n                      ".join(
        f"WHEN h_{lang} = {mx} THEN '{lang}'" for lang in langs
    )
    return f"""
        WITH d AS (
          SELECT lang, text,
                 {hit_exprs},
                 regexp_matches(text, '[一-鿿]') AS cjk
          FROM documents
        ),
        p AS (
          SELECT lang, CASE WHEN cjk THEN 'zh'
                      WHEN {mx} = 0 THEN 'und'
                      {chain}
                 END AS lang_pred
          FROM d
        )
    """


def _curate_quarantine_oracle() -> str:
    """SQL mirror of the full two-batch curation pipeline: planted text,
    repetition flags (Gopher thresholds), URL blocklist with domain
    suffix semantics, sequential PII redaction, portable-gram span probe
    of the odd batch against the even batch's curated gram index, and
    the per-(batch, reason) count/id-sum/text-length-sum pins."""
    from data_drift_monitoring_spark.operators.pii import PII_PATTERNS
    from data_drift_monitoring_spark.operators.urls import (
        HOST_PATTERN,
        URL_PATTERN,
    )

    k = _SPAN_K
    words = (
        lambda c: f"string_split(regexp_replace(lower(trim({c})),"
        f" '\\s+', ' ', 'g'), ' ')"
    )
    red = "t"
    for n, p in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{p}', '[{n.upper()}]', 'g')"
    rep_tail = " ".join(["junk"] * 60)
    return f"""
        WITH p AS (
          SELECT doc_id, doc_id % 2 AS batch_id, text ||
            CASE WHEN doc_id % 23 = 0 THEN ' {rep_tail}' ELSE '' END ||
            CASE WHEN doc_id % 40 IN (6, 27)
                 THEN ' {_CURATE_SPAN}' ELSE '' END ||
            CASE WHEN doc_id % 9 = 0
                 THEN ' ref https://spam.bad-site.org/x?y=1'
                 ELSE '' END ||
            CASE WHEN doc_id % 5 = 2
                 THEN ' mail bob.smith@example.com now'
                 ELSE '' END AS t
          FROM documents
        ),
        w AS (SELECT doc_id, batch_id, t, {words('t')} AS ws FROM p),
        u AS (SELECT doc_id, unnest(ws) AS word FROM w),
        tc AS (
          SELECT doc_id, MAX(cnt) AS top_cnt FROM (
            SELECT doc_id, word, COUNT(*) AS cnt FROM u GROUP BY 1, 2
          ) GROUP BY 1
        ),
        sig AS (
          SELECT w.doc_id,
            (CASE WHEN len(ws) > 0 THEN
               1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)
             ELSE 0.0 END <= 0.50)
            AND (CASE WHEN len(ws) >= 2 THEN
               1.0 - CAST(len(list_distinct(list_transform(
                 generate_series(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i + 1]))) AS DOUBLE)
               / (len(ws) - 1)
             ELSE 0.0 END <= 0.60)
            AND (CASE WHEN len(ws) >= 3 THEN
               1.0 - CAST(len(list_distinct(list_transform(
                 generate_series(1, len(ws) - 2),
                 i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
               ))) AS DOUBLE) / (len(ws) - 2)
             ELSE 0.0 END <= 0.50)
            AND (CASE WHEN len(ws) > 0 THEN
               CAST(tc.top_cnt AS DOUBLE) / len(ws)
             ELSE 0.0 END <= 0.30) AS rep_keep
          FROM w JOIN tc ON w.doc_id = tc.doc_id
        ),
        blk AS (
          SELECT doc_id,
                 len(list_filter(
                   list_distinct(list_transform(
                     regexp_extract_all(t, '{URL_PATTERN}'),
                     x -> lower(regexp_extract(x, '{HOST_PATTERN}', 1))
                   )),
                   x -> x = 'spam.bad-site.org'
                        OR ends_with(x, '.spam.bad-site.org')
                 )) > 0 AS blocked
          FROM p
        ),
        staged AS (
          SELECT p.doc_id, p.batch_id, p.t, {red} AS rt,
                 s.rep_keep, b.blocked
          FROM p JOIN sig s USING (doc_id) JOIN blk b USING (doc_id)
        ),
        cur AS (
          SELECT doc_id, batch_id, t, rt,
                 list_transform({words('rt')},
                   w -> CAST(('0x' || substr(md5(w), 1, 15))::BIGINT
                             % {_PORTABLE_VOCAB} AS INT)) AS tokens
          FROM staged WHERE rep_keep AND NOT blocked
        ),
        occ AS (
          SELECT c.doc_id, c.batch_id, i.i - 1 AS pos,
                 md5(array_to_string(
                   c.tokens[i.i : i.i + {k} - 1], ',')) AS gram
          FROM cur c,
               LATERAL unnest(
                 generate_series(1, len(c.tokens) - {k} + 1)) AS i(i)
          WHERE len(c.tokens) >= {k}
        ),
        idx AS (SELECT DISTINCT gram FROM occ WHERE batch_id = 0),
        removed AS (
          SELECT o.doc_id, o.pos FROM occ o JOIN idx USING (gram)
          WHERE o.batch_id = 1
        ),
        cov AS (
          SELECT DISTINCT r.doc_id, x.idx
          FROM removed r,
               LATERAL unnest(
                 generate_series(r.pos, r.pos + {k} - 1)) AS x(idx)
        ),
        span_dup AS (
          SELECT c.doc_id FROM cur c
          JOIN (SELECT doc_id, COUNT(*) AS covered FROM cov GROUP BY 1)
            v USING (doc_id)
          WHERE len(c.tokens) > 0 AND 100 * v.covered >= 18 * len(c.tokens)
        ),
        rows_out AS (
          SELECT doc_id, batch_id, 'repetition' AS reason, t AS txt
          FROM staged WHERE NOT rep_keep
          UNION ALL
          SELECT doc_id, batch_id, 'blocklist', t
          FROM staged WHERE rep_keep AND blocked
          UNION ALL
          SELECT doc_id, batch_id, 'span_duplicate', t
          FROM staged WHERE doc_id IN (SELECT doc_id FROM span_dup)
          UNION ALL
          SELECT s.doc_id, s.batch_id, 'curated', s.rt
          FROM staged s
          WHERE s.rep_keep AND NOT s.blocked
            AND s.doc_id NOT IN (SELECT doc_id FROM span_dup)
        )
        SELECT batch_id, reason,
               COUNT(*) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
               CAST(SUM(length(txt)) AS BIGINT) AS sum_text_len
        FROM rows_out
        GROUP BY batch_id, reason
        ORDER BY batch_id, reason
    """


def _url_blocklist_oracle() -> str:
    from data_drift_monitoring_spark.operators.urls import (
        HOST_PATTERN,
        URL_PATTERN,
    )

    return f"""
        WITH p AS (
          SELECT doc_id, source, text ||
            CASE WHEN doc_id % 5 = 0
                 THEN ' see https://example.com/p/'
                      || CAST(doc_id AS VARCHAR) ELSE '' END ||
            CASE WHEN doc_id % 9 = 0
                 THEN ' ref https://spam.bad-site.org/x?y=1'
                 ELSE '' END ||
            CASE WHEN doc_id % 15 = 0
                 THEN ' alt http://Sub.Example.COM:8080/path'
                 ELSE '' END ||
            CASE WHEN doc_id % 21 = 0
                 THEN ' via https://cdn.spam.bad-site.org/asset.js'
                 ELSE '' END AS text2
          FROM documents
        ),
        u AS (
          SELECT doc_id, source,
                 regexp_extract_all(text2, '{URL_PATTERN}') AS urls
          FROM p
        ),
        d2 AS (
          SELECT doc_id, source, len(urls) AS n_urls,
                 -- domain semantics: exact host OR dot-suffix match
                 len(list_filter(
                   list_distinct(list_transform(
                     urls,
                     x -> lower(regexp_extract(x, '{HOST_PATTERN}', 1))
                   )),
                   x -> x = 'spam.bad-site.org'
                        OR ends_with(x, '.spam.bad-site.org')
                 )) > 0 AS blocked
          FROM u
        )
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN n_urls > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_docs_with_urls,
               CAST(SUM(n_urls) AS BIGINT) AS total_urls,
               CAST(SUM(CASE WHEN blocked THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_blocked,
               CAST(SUM(CASE WHEN NOT blocked THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN NOT blocked THEN doc_id ELSE 0 END)
                    AS BIGINT) AS sum_kept_ids
        FROM d2 GROUP BY source ORDER BY source
    """


def _prepare_training_oracle() -> str:
    """Full SQL recomputation of plans.prepare.prepare_training_stages
    over the planted doc_id<300 fixture, one CTE block per stage:
    Gopher repetition keep (curate-oracle fragment), sequential PII
    redaction, keep-first exact dedup on the normalized digest, exact
    trigram-Jaccard pairs + recursive-CTE closure keep-one (minhash /
    cluster oracle fragments — LSH recall 1.0 at J>=0.5 with 64/32 is
    what makes the verified pair list equal the exact answer), portable
    md5 tokenization, corpus-wide span dedup (span oracle fragment),
    per-source prefix-sum packing at context 64, and portable hash
    sharding — then the same eight accounting rows the Spark side
    emits."""
    from data_drift_monitoring_spark.operators.pii import PII_PATTERNS

    k = _SPAN_K
    v = _PORTABLE_VOCAB
    rep_tail = " ".join(["junk"] * 60)
    # _words convention (trim) for repetition + tokenize; the dedup
    # shingle/digest convention has no trim — both proven in their
    # operators' own oracles
    wt = (
        lambda c: f"string_split(regexp_replace(lower(trim({c})),"
        f" '\\s+', ' ', 'g'), ' ')"
    )
    red = "t"
    for n, p in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{p}', '[{n.upper()}]', 'g')"
    return f"""
        WITH RECURSIVE base AS (
          SELECT doc_id, source, text ||
            CASE WHEN doc_id % 23 = 0 THEN ' {rep_tail}' ELSE '' END ||
            CASE WHEN doc_id % 5 = 2
                 THEN ' mail bob.smith@example.com now' ELSE '' END AS t
          FROM documents WHERE doc_id < 300
        ),
        w AS (SELECT doc_id, source, t, {wt('t')} AS ws FROM base),
        uw AS (SELECT doc_id, unnest(ws) AS word FROM w),
        tcn AS (
          SELECT doc_id, MAX(cnt) AS top_cnt FROM (
            SELECT doc_id, word, COUNT(*) AS cnt FROM uw GROUP BY 1, 2
          ) GROUP BY 1
        ),
        sig AS (
          SELECT w.doc_id,
            (CASE WHEN len(ws) > 0 THEN
               1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)
             ELSE 0.0 END <= 0.50)
            AND (CASE WHEN len(ws) >= 2 THEN
               1.0 - CAST(len(list_distinct(list_transform(
                 generate_series(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i + 1]))) AS DOUBLE)
               / (len(ws) - 1)
             ELSE 0.0 END <= 0.60)
            AND (CASE WHEN len(ws) >= 3 THEN
               1.0 - CAST(len(list_distinct(list_transform(
                 generate_series(1, len(ws) - 2),
                 i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
               ))) AS DOUBLE) / (len(ws) - 2)
             ELSE 0.0 END <= 0.50)
            AND (CASE WHEN len(ws) > 0 THEN
               CAST(tcn.top_cnt AS DOUBLE) / len(ws)
             ELSE 0.0 END <= 0.30) AS rep_keep
          FROM w JOIN tcn ON w.doc_id = tcn.doc_id
        ),
        cur AS (
          SELECT w.doc_id, w.source, {red} AS rt
          FROM w JOIN sig USING (doc_id) WHERE rep_keep
        ),
        ed AS (
          SELECT doc_id, source, rt,
                 ROW_NUMBER() OVER (
                   PARTITION BY md5(regexp_replace(lower(rt), '\\s+', ' ', 'g'))
                   ORDER BY doc_id) AS rn
          FROM cur
        ),
        e3 AS (SELECT doc_id, source, rt FROM ed WHERE rn = 1),
        dw AS (
          SELECT doc_id,
                 string_split(regexp_replace(lower(rt), '\\s+', ' ', 'g'), ' ') AS w2
          FROM e3
        ),
        shg AS (
          SELECT doc_id,
                 list_distinct([array_to_string(list_slice(w2, i, i+2), ' ')
                                for i in range(1, greatest(len(w2)-2, 1)+1)]) AS s
          FROM dw
        ),
        eg AS (SELECT doc_id, unnest(s) AS g FROM shg),
        sizes AS (SELECT doc_id, len(s) AS n FROM shg),
        inter AS (
          SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
          FROM eg x JOIN eg y ON x.g = y.g AND x.doc_id < y.doc_id
          GROUP BY 1, 2
        ),
        p AS (
          SELECT inter.a, inter.b
          FROM inter JOIN sizes sa ON sa.doc_id = inter.a
                     JOIN sizes sb ON sb.doc_id = inter.b
          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
        ),
        edges AS (
          SELECT a AS s, b AS t FROM p UNION SELECT b, a FROM p
        ),
        reach(k, r) AS (
          SELECT s, s FROM edges
          UNION
          SELECT ed2.s, reach.r FROM edges ed2 JOIN reach ON reach.k = ed2.t
        ),
        labels AS (SELECT k, MIN(r) AS cluster FROM reach GROUP BY k),
        e4 AS (
          SELECT * FROM e3
          WHERE doc_id NOT IN (SELECT k FROM labels WHERE k <> cluster)
        ),
        seq AS (
          SELECT doc_id, source, rt,
                 list_transform({wt('rt')},
                   w -> CAST(('0x' || substr(md5(w), 1, 15))::BIGINT
                             % {v} AS INT)) AS tokens
          FROM e4
        ),
        occ AS (
          SELECT s.doc_id, ti.i - 1 AS pos,
                 md5(array_to_string(s.tokens[ti.i : ti.i + {k} - 1], ',')) AS gram
          FROM seq s,
               LATERAL unnest(generate_series(1, len(s.tokens) - {k} + 1)) AS ti(i)
          WHERE len(s.tokens) >= {k}
        ),
        marked AS (
          SELECT doc_id, pos,
                 COUNT(*) OVER (PARTITION BY gram) AS gram_count,
                 ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
          FROM occ
        ),
        removed AS (
          SELECT doc_id, pos FROM marked WHERE gram_count >= 2 AND rn > 1
        ),
        cov AS (
          SELECT DISTINCT r.doc_id, u2.idx
          FROM removed r,
               LATERAL unnest(generate_series(r.pos, r.pos + {k} - 1)) AS u2(idx)
        ),
        pdc AS (
          SELECT c.doc_id,
                 COUNT(*) AS covered,
                 SUM(s.tokens[c.idx + 1]) AS covered_sum
          FROM cov c JOIN seq s USING (doc_id)
          GROUP BY 1
        ),
        kept AS (
          SELECT s.doc_id, s.source, s.rt,
                 len(s.tokens) - COALESCE(p2.covered, 0) AS n_tok2,
                 COALESCE(list_sum(s.tokens), 0)
                   - COALESCE(p2.covered_sum, 0) AS tok_sum2,
                 COALESCE(p2.covered, 0) AS covered
          FROM seq s LEFT JOIN pdc p2 USING (doc_id)
        ),
        pc AS (
          SELECT doc_id, source, rt, n_tok2, tok_sum2,
                 SUM(CAST(n_tok2 AS BIGINT)) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS end_tok
          FROM kept
        ),
        pk AS (
          SELECT *, end_tok - n_tok2 AS start_tok,
                 (end_tok - n_tok2) // 64 AS first_window,
                 CASE WHEN n_tok2 > 0 THEN (end_tok - 1) // 64
                      ELSE (end_tok - n_tok2) // 64 END AS last_window
          FROM pc
        ),
        sh8 AS (
          SELECT doc_id, rt,
                 CAST(('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 15))::BIGINT
                      % 8 AS INT) AS shard,
                 ('0x' || substr(md5(doc_id::VARCHAR || ':1'), 1, 15))::BIGINT
                   AS sort_key
          FROM kept
        )
        SELECT '1_input' AS stage,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
               CAST(SUM(length(t)) AS BIGINT) AS text_len,
               CAST(NULL AS BIGINT) AS n_tok_sum,
               CAST(NULL AS BIGINT) AS tok_sum,
               CAST(NULL AS BIGINT) AS aux1,
               CAST(NULL AS BIGINT) AS aux2
        FROM base
        UNION ALL
        SELECT '2_curate', COUNT(*), CAST(SUM(doc_id) AS BIGINT),
               CAST(SUM(length(rt)) AS BIGINT),
               NULL, NULL, NULL, NULL
        FROM cur
        UNION ALL
        SELECT '3_exact_dedup', COUNT(*), CAST(SUM(doc_id) AS BIGINT),
               CAST(SUM(length(rt)) AS BIGINT),
               NULL, NULL, NULL, NULL
        FROM e3
        UNION ALL
        SELECT '4_near_dedup', COUNT(*), CAST(SUM(doc_id) AS BIGINT),
               CAST(SUM(length(rt)) AS BIGINT),
               NULL, NULL, NULL, NULL
        FROM e4
        UNION ALL
        SELECT '5_tokenize', COUNT(*), CAST(SUM(doc_id) AS BIGINT),
               CAST(SUM(length(rt)) AS BIGINT),
               CAST(SUM(len(tokens)) AS BIGINT),
               CAST(SUM(COALESCE(list_sum(tokens), 0)) AS BIGINT),
               NULL, NULL
        FROM seq
        UNION ALL
        SELECT '6_span_dedup', COUNT(*), CAST(SUM(doc_id) AS BIGINT),
               CAST(SUM(length(rt)) AS BIGINT),
               CAST(SUM(n_tok2) AS BIGINT),
               CAST(SUM(tok_sum2) AS BIGINT),
               CAST(SUM(covered) AS BIGINT), NULL
        FROM kept
        UNION ALL
        SELECT '7_pack', COUNT(*), CAST(SUM(doc_id) AS BIGINT),
               CAST(SUM(length(rt)) AS BIGINT),
               CAST(SUM(n_tok2) AS BIGINT),
               CAST(SUM(tok_sum2) AS BIGINT),
               CAST(SUM(start_tok) AS BIGINT),
               CAST(SUM(last_window - first_window + 1) AS BIGINT)
        FROM pk
        UNION ALL
        SELECT '8_shard', COUNT(*), CAST(SUM(doc_id) AS BIGINT),
               CAST(SUM(length(rt)) AS BIGINT),
               NULL, NULL,
               CAST(SUM(CAST(shard AS BIGINT) * doc_id) AS BIGINT),
               CAST(SUM(sort_key % 1000000) AS BIGINT)
        FROM sh8
        ORDER BY stage
    """


def _check_history_oracle() -> str:
    """Mirror of q_check_history: the uniqueness-on-doc_id check value
    (duplicate rows per partition, the _verdicts_oracle ua fragment)
    for the clean and corrupted runs, then the trend_over_runs
    lag/delta/direction window keyed on (part_id, column) ordered by
    the injected run timestamps."""

    def dup(tag: str, seq_sql: str) -> str:
        return f"""
        seq_{tag} AS ({seq_sql}),
        u_{tag} AS (
          SELECT part_id, doc_id, COUNT(*) AS c
          FROM seq_{tag} WHERE doc_id IS NOT NULL GROUP BY 1, 2
        ),
        ua_{tag} AS (
          SELECT part_id,
                 CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                   AS value
          FROM u_{tag} GROUP BY 1
        )"""

    return f"""
        WITH {dup('a', _SEQ_ORACLE)},
        {dup('b', _SEQ_CORRUPTED_ORACLE)},
        runs AS (
          SELECT part_id, 'doc_id' AS "column",
                 '2026-01-01T00:00:00+00:00' AS run_ts, value FROM ua_a
          UNION ALL
          SELECT part_id, 'doc_id',
                 '2026-01-02T00:00:00+00:00', value FROM ua_b
        ),
        tr AS (
          SELECT part_id, "column", run_ts, value,
                 LAG(value) OVER (
                   PARTITION BY part_id, "column" ORDER BY run_ts
                 ) AS prev_value
          FROM runs
        )
        SELECT part_id, "column", run_ts, value, prev_value,
               ROUND(value - prev_value, 2) AS delta,
               CASE WHEN prev_value IS NULL THEN 'baseline'
                    WHEN ROUND(value - prev_value, 2) > 0 THEN 'improving'
                    WHEN ROUND(value - prev_value, 2) < 0 THEN 'degrading'
                    ELSE 'stable' END AS direction
        FROM tr ORDER BY part_id, run_ts
    """


def _pii_scan_oracle() -> str:
    """SQL mirror of q_pii_scan: identical planted-PII construction,
    the IDENTICAL regex patterns (shared common Java-regex/RE2 subset),
    sequential redaction in the same class order."""
    from data_drift_monitoring_spark.operators.pii import PII_PATTERNS

    pats = dict(PII_PATTERNS)
    counts = ",\n                ".join(
        f"len(regexp_extract_all(text2, '{p}')) AS c_{n}"
        for n, p in pats.items()
    )
    red = "text2"
    for n, p in pats.items():
        red = f"regexp_replace({red}, '{p}', '[{n.upper()}]', 'g')"
    residual = " + ".join(
        f"len(regexp_extract_all(__red, '{p}'))" for p in pats.values()
    )
    any_hit = " + ".join(f"c_{n}" for n in pats)
    totals = ",\n                   ".join(
        f"CAST(SUM(c_{n}) AS BIGINT) AS total_{n}" for n in pats
    )
    return f"""
        WITH p AS (
          SELECT doc_id, source, text ||
            CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com' ELSE '' END ||
            CASE WHEN doc_id % 11 = 0
                 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.1' ELSE '' END ||
            CASE WHEN doc_id % 13 = 0
                 THEN ' call 555-867-5309' ELSE '' END AS text2
          FROM documents
        ),
        c AS (
          SELECT source,
                {counts},
                {red} AS __red
          FROM p
        )
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN {any_hit} > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_docs_with_pii,
               {totals},
               CAST(SUM(length(__red)) AS BIGINT) AS sum_redacted_len,
               CAST(SUM({residual}) AS BIGINT) AS residual_hits
        FROM c GROUP BY source ORDER BY source
    """


def _lang_id_accuracy_oracle() -> str:
    return f"""
        {_lang_pred_cte()}
        SELECT lang, lang_pred, COUNT(*) AS n_docs FROM p
        GROUP BY lang, lang_pred ORDER BY lang, lang_pred
    """
