"""Train/eval n-gram contamination detection.

A core training-data-pipeline check the reference never had (its drift
modules are 0-byte stubs; this extends the promised quality checks to
the corpus/benchmark boundary): an evaluation example is *contaminated*
when enough of its word n-grams also occur in the training corpus
(the GPT-3 appendix-C style n-gram overlap test).

Scale shape (the part that matters at 100 TB):

- The EVAL side is small (benchmark suites are 10^3-10^6 examples); its
  distinct gram set is broadcast, so the training corpus is NEVER
  shuffled — grams are generated per-partition with JVM higher-order
  functions and matched map-side against the broadcast hash set.
- The only exchange carries matched ``(train_id, eval_id)`` /
  ``(eval_id, gram)`` rows with map-side partial aggregation, bounded by
  |eval grams| per task — independent of corpus size.
- Gram matching is on 64-bit hashes (xxhash64 by default), never gram
  strings; pass ``dedup.portable_word_hash`` for a hash an external SQL
  engine can reproduce bit-exactly (the oracle gate does).

Grams are ``dedup._with_shingles``'s (lowercase, whitespace collapse,
k-word windows, one whole-doc gram for docs shorter than k) so
contamination and near-dup dedup agree on what "the same text" means.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from data_drift_monitoring_spark.operators.dedup import (
    _doc_shingle_hashes_arrow,
    _mix_constants,
    _with_shingles,
)


def _distinct_doc_grams(sh, sdoc, n_docs: int):
    """Per-doc DISTINCT gram dedupe via one lexsort across the whole
    batch: (s2 uint64 distinct gram hashes sorted within doc, d2 int64
    doc index per gram, counts int64 distinct-gram count per doc)."""
    if len(sh):
        order = np.lexsort((sh, sdoc))
        s2, d2 = sh[order], sdoc[order]
        keep = np.ones(len(s2), dtype=bool)
        keep[1:] = (d2[1:] != d2[:-1]) | (s2[1:] != s2[:-1])
        s2, d2 = s2[keep], d2[keep]
    else:
        s2 = sh.view(np.uint64)
        d2 = sdoc
    counts = np.bincount(d2, minlength=n_docs)
    return s2, d2, counts


def _gram_rows_arrow(
    df: DataFrame, text_col: str, key_col: str, n: int, side: str
) -> DataFrame:
    """Arrow gram path, exploded: one ``mapInArrow`` pass emitting one
    (<side>_id, n_<side>_grams, g) row per DISTINCT gram per doc.

    Shares the shingle core with the Arrow MinHash (tokenize once, hash
    each word once, flat uint64 window mix; interpreted HOF window
    evaluation costs ~1 µs per gram — the expression twin is an
    order of magnitude slower), then a single lexsort dedupe across the
    batch. vs the former pandas-UDF + F.size + explode staging: the
    text column is consumed zero-copy off the Arrow IPC batch (no
    Python str per doc), the per-doc gram ARRAYS are never built (no
    Series-of-ndarray → arrow list rebuild), and the explode happens as
    one flat ``pc.take`` on the key column instead of a JVM generator
    over a list array. Output rows/values identical (oracle-checked:
    q_contamination_pairs / q_contamination_report)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    mix = _mix_constants(n)
    out_schema = T.StructType(
        [
            T.StructField(f"{side}_id", df.schema[key_col].dataType),
            T.StructField(f"n_{side}_grams", T.IntegerType()),
            T.StructField("g", T.LongType()),
        ]
    )

    def gen(batches):
        for b in batches:
            nd = b.num_rows
            if nd == 0:
                continue
            sh, sdoc = _doc_shingle_hashes_arrow(b.column(1), n, mix)
            s2, d2, counts = _distinct_doc_grams(sh, sdoc, nd)
            idx = pa.array(d2, type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    pc.take(b.column(0), idx),
                    pa.array(counts[d2].astype(np.int32), type=pa.int32()),
                    pa.array(s2.view(np.int64), type=pa.int64()),
                ],
                names=[f"{side}_id", f"n_{side}_grams", "g"],
            )

    return df.select(key_col, text_col).mapInArrow(gen, out_schema)


def _gram_table(
    df: DataFrame,
    text_col: str,
    key_col: str,
    n: int,
    gram_hash,
    side: str,
) -> DataFrame:
    """(<side>_id, n_<side>_grams, g): one row per DISTINCT gram per doc.

    ``array_distinct`` runs per-row (narrow), so downstream counts are
    set-semantics without any distinct shuffle.

    Default ``gram_hash=None`` takes the vectorized zero-copy Arrow path
    (:func:`_gram_rows_arrow`). Pass a string hash (e.g.
    ``dedup.portable_word_hash``) for cross-engine-reproducible grams via
    the JVM shingle expression ``dedup._with_shingles``.
    """
    if gram_hash is None:
        return _gram_rows_arrow(df, text_col, key_col, n, side)
    staged = _with_shingles(
        df.select(F.col(key_col).alias(f"{side}_id"), text_col),
        text_col, n, "_gs", gram_hash,
    ).select(f"{side}_id", F.array_distinct("_gs").alias("_gs"))
    return (
        staged.withColumn(f"n_{side}_grams", F.size("_gs"))
        .select(f"{side}_id", f"n_{side}_grams", F.explode("_gs").alias("g"))
    )


def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 8,
    min_overlap: float = 0.5,
    gram_hash=None,
    broadcast_eval: bool = True,
) -> DataFrame:
    """(train_id, eval_id, matched_grams, n_train_grams, n_eval_grams,
    overlap) for every train/eval pair whose matched-gram share of the
    EVAL doc's gram set reaches ``min_overlap`` — contamination with
    source attribution (which training doc leaked which eval example).

    ``overlap`` is measured against the eval doc (matched / n_eval_grams):
    a short eval example fully embedded in a long training doc counts as
    fully contaminated.
    """

    ev = _gram_table(eval_df, text_col, key_col, n, gram_hash, "eval")
    tr = _gram_table(train, text_col, key_col, n, gram_hash, "train")
    if broadcast_eval:
        ev = F.broadcast(ev)
    j = tr.join(ev, on="g")
    pairs = (
        j.groupBy("train_id", "eval_id", "n_train_grams", "n_eval_grams")
        .agg(F.count(F.lit(1)).cast("long").alias("matched_grams"))
        .withColumn(
            "overlap",
            F.col("matched_grams") / F.col("n_eval_grams"),
        )
        .filter(F.col("overlap") >= F.lit(min_overlap))
    )
    return pairs.select(
        "train_id",
        "eval_id",
        "matched_grams",
        "n_train_grams",
        "n_eval_grams",
        "overlap",
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 8,
    min_overlap: float = 0.5,
    gram_hash=None,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Per-eval-doc verdict: (eval_id, n_eval_grams, matched_grams,
    overlap, contaminated) where ``matched_grams`` counts DISTINCT eval
    grams found in ANY training document (the decontamination decision:
    drop/flag the eval example, whoever leaked it). Eval docs with zero
    matches are included with overlap 0.
    """

    ev = _gram_table(eval_df, text_col, key_col, n, gram_hash, "eval")
    sizes = ev.select("eval_id", "n_eval_grams").distinct()
    tr = _gram_table(train, text_col, key_col, n, gram_hash, "train").select(
        "g"
    )
    j = tr.join(F.broadcast(ev) if broadcast_eval else ev, on="g")
    matched = (
        j.groupBy("eval_id")
        .agg(F.count_distinct("g").cast("long").alias("matched_grams"))
    )
    out = (
        sizes.join(matched, on="eval_id", how="left")
        .withColumn(
            "matched_grams", F.coalesce("matched_grams", F.lit(0))
        )
        .withColumn(
            "overlap", F.col("matched_grams") / F.col("n_eval_grams")
        )
        .withColumn(
            "contaminated",
            (F.col("overlap") >= F.lit(min_overlap)).cast("int"),
        )
    )
    return out.select(
        "eval_id", "n_eval_grams", "matched_grams", "overlap", "contaminated"
    )
