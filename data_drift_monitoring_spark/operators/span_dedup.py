"""Token-level exact-substring deduplication (duplicated n-gram spans).

Doc-level dedup (exact digests, MinHash/SimHash in ``dedup.py``) misses
the dominant duplication mode in web-scale training corpora: the SAME
boilerplate span (license headers, navigation chrome, quoted passages)
repeated inside otherwise-distinct documents. Lee et al. 2022
("Deduplicating Training Data Makes Language Models Better") remove
every repeated substring of >= 50 tokens with a corpus suffix array;
this module implements the same semantics at n-gram granularity over
the ``tokens:array<int>`` column of the sequence table:

  * a k-gram (k consecutive token ids) that occurs >= 2 times anywhere
    in the corpus is a *duplicated span seed*;
  * the globally FIRST occurrence — minimum ``(doc_id, pos)`` — is
    canonical and kept; every other occurrence is removed;
  * a token is *covered* (removed) when any non-canonical duplicated
    k-gram starting at positions ``pos .. pos+k-1`` spans it; covered
    regions from overlapping grams merge naturally (the covered-index
    set is the union of the k-windows), so an L-token repeated passage
    (L >= k) is removed wholesale, exactly like the suffix-array method
    restricted to match length >= k.

Scale design (10^12 sequences):

  * gram extraction is narrow (no shuffle) and Arrow-vectorized:
    one ``mapInPandas`` pass emits the flat occurrence frame
    ``(gram: 8 bytes, doc_id, pos)`` straight from numpy (4x an
    interpreted ``transform``/``slice`` expression); token payloads
    never leave the scan;
  * the duplicate census is one count-only ``groupBy(gram)`` — fully
    hash-aggregable, map-side partial combine, 16-byte exchange rows;
  * ``count >= 2`` grams join back to the occurrence stream on the
    8-byte gram key (AQE picks the strategy; the duplicated subset is
    usually small enough to broadcast), and canonical election runs as
    a window over ONLY the duplicated occurrences;
  * per-doc coverage/removal is pure JVM array algebra on the
    ``collect_list`` of removed start positions (bounded by n_tok).

The occurrence stream is consumed twice (census + join-back); pass an
already-persisted ``df`` or let the recompute cost two scans — at 100 TB
you would checkpoint the 20-byte occurrence frame instead (noted, not
forced, because the gate-scale recompute is cheaper than the cache).

Suffix-array dedup avoids materializing one row per token position;
this formulation spends that explode to stay in pure DataFrame algebra
with a map-side-combined, fixed-width shuffle — the classic Spark
trade. A BigQuery/Spark variant of the same n-gram formulation is what
RefinedWeb (Penedo et al. 2023, §3.3) actually ran in production.

The reference ships no token-level operators at all (its quality checks
are tabular: backend/app/services/quality_check.py:25-191); this module
is a training-pipeline extension over the graft's token payload, next
to ``contamination.py`` (train/eval grams) and ``packing.py``.

``portable=True`` swaps the Arrow combiner for an md5-hex gram
expression that DuckDB reproduces bit-exactly (same construction as
``dedup.portable_word_hash``) so the driver oracle can recompute the
whole operator in SQL. The two gram keys differ; the dedup output does
not.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F


def _gram_expr(tokens: F.Column, k: int) -> F.Column:
    """Array of per-position md5-hex gram keys for one document (empty
    if n_tok < k) — the portable gram path. O(n_tok * k) inside one
    codegen'd projection."""
    n = F.size(tokens)
    starts = F.sequence(F.lit(0), n - k)  # 0-based start positions
    grams = F.transform(
        starts,
        lambda i: F.md5(
            F.array_join(
                F.transform(F.slice(tokens, i + 1, k), lambda t: t.cast("string")),
                ",",
            )
        ),
    )
    # sequence(0, n-k) DESCENDS when n < k (negative stop) — guard to empty
    return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))


def _splitmix64(x: "np.ndarray") -> "np.ndarray":
    """Vectorized splitmix64 finalizer — scrambles the (small, often
    sequential) token ids so the window combiner below has no structured
    collisions."""
    z = x + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _occ_arrow(df: DataFrame, k: int, tokens_col: str, id_col: str) -> DataFrame:
    """Arrow gram path: one mapInPandas pass emits the flat occurrence
    frame (id, pos, gram) straight from numpy — no per-element
    interpreted lambda, no JVM explode. Measured 33 s -> 8 s (4x) for
    33.6M grams at 16 cores vs an xxhash64 expression gram path (whose
    transform/slice lambdas are interpreted per element — the same trap
    the contamination gram path hit). Gram = XOR_j mix[j]*splitmix64(tok_j):
    position-mixed 64-bit combiner over scrambled ids, collision odds
    ~n^2/2^64."""
    id_dt = df.schema[id_col].dataType.simpleString()
    mix = (_splitmix64(np.arange(1, k + 1, dtype=np.uint64) * np.uint64(0xA5A5)) | np.uint64(1))

    def gen(batches):
        for pdf in batches:
            toks = pdf[tokens_col]
            ids = pdf[id_col].to_numpy()
            n = len(toks)
            lens = np.fromiter((len(t) if t is not None else 0 for t in toks),
                               dtype=np.int64, count=n)
            total = int(lens.sum())
            if total == 0 or total < k:
                continue
            flat = np.concatenate(
                [np.asarray(t, dtype=np.int64) for t in toks if t is not None and len(t)]
            ).view(np.uint64)
            with np.errstate(over="ignore"):
                h = _splitmix64(flat)
                m = len(h)
                g = h[: m - k + 1] * mix[0]
                for j in range(1, k):
                    g = g ^ (h[j : m - k + 1 + j] * mix[j])
            doc = np.repeat(np.arange(n, dtype=np.int64), lens)
            valid = doc[: m - k + 1] == doc[k - 1 :]
            if not valid.any():
                continue
            di = doc[: m - k + 1][valid]
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            pos = np.arange(m - k + 1, dtype=np.int64)[valid] - starts[di]
            yield pd.DataFrame(
                {
                    id_col: ids[di],
                    "pos": pos.astype(np.int32),
                    "gram": g[valid].view(np.int64),
                }
            )

    return df.select(id_col, tokens_col).mapInPandas(
        gen, schema=f"{id_col} {id_dt}, pos int, gram bigint"
    )


def ngram_occurrences(
    df: DataFrame,
    k: int = 8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """One row per k-gram occurrence: (id_col, pos, gram). Narrow —
    no shuffle; rows are (key, int, gram key). The gram key is the
    vectorized Arrow combiner's 8-byte hash, or with ``portable`` the
    md5-hex expression the SQL oracle reproduces."""
    if not portable:
        return _occ_arrow(df, k, tokens_col, id_col)
    return df.select(
        F.col(id_col),
        F.posexplode(_gram_expr(F.col(tokens_col), k)).alias("pos", "gram"),
    )


def duplicated_span_occurrences(
    df: DataFrame,
    k: int = 8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Every occurrence of a gram seen >= 2 times corpus-wide, flagged
    canonical (global min (id, pos) — the one occurrence kept) or not.

    Columns: id_col, pos, gram, gram_count, is_canonical.
    """
    occ = ngram_occurrences(df, k, tokens_col, id_col, portable)
    # Census carries ONLY (gram, count) — count is hash-aggregable, so the
    # big exchange is a HashAggregate of 16-byte rows with no sort. The
    # earlier min(struct(id, pos)) canonical forced a SortAggregate over
    # every gram occurrence; measured at 1M docs / 175M tokens it was the
    # bottleneck (210 s, eff. 0.47 at 4->16 cores — BENCH.md). Canonical
    # election moves to a window over ONLY the duplicated occurrences,
    # which are orders of magnitude fewer in real corpora.
    census = (
        occ.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("gram_count"))
        .filter(F.col("gram_count") >= 2)
    )
    dup_occ = occ.join(census, "gram")  # AQE broadcasts the small census
    w = Window.partitionBy("gram").orderBy(F.col(id_col), F.col("pos"))
    return dup_occ.select(
        F.col(id_col),
        "pos",
        "gram",
        "gram_count",
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


def _with_coverage(
    df: DataFrame, removed: DataFrame, k: int, id_col: str
) -> DataFrame:
    """df + _dup_starts / removed_occurrences / _cov (sorted covered
    token indices), from the ``removed`` gram occurrences (id_col, pos);
    docs with no removed occurrence get empties, not nulls."""
    per_doc = removed.groupBy(id_col).agg(
        F.array_sort(F.collect_list("pos")).alias("_dup_starts"),
        F.count(F.lit(1)).alias("removed_occurrences"),
    )
    out = df.join(per_doc, id_col, "left")
    starts = F.coalesce(F.col("_dup_starts"), F.array().cast("array<int>"))
    cov = F.array_sort(
        F.array_distinct(
            F.flatten(F.transform(starts, lambda p: F.sequence(p, p + k - 1)))
        )
    )
    return out.withColumn(
        "removed_occurrences", F.coalesce("removed_occurrences", F.lit(0))
    ).withColumn("_cov", cov)


def _doc_stats(covered: DataFrame, tokens_col: str, id_col: str) -> DataFrame:
    """The per-doc ``span_dedup_stats`` projection of a ``_with_coverage``
    frame."""
    toks = F.col(tokens_col)
    covered_sum = F.aggregate(
        F.col("_cov"),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc + F.element_at(toks, i + 1).cast("bigint"),
    )
    total_sum = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + t.cast("bigint")
    )
    return covered.select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("n_tok"),
        F.col("removed_occurrences").cast("bigint").alias("removed_occurrences"),
        F.size("_cov").cast("bigint").alias("covered_tokens"),
        (F.size(toks) - F.size("_cov")).cast("bigint").alias("kept_n_tok"),
        (total_sum - covered_sum).alias("kept_token_sum"),
    )


def span_dedup_stats(
    df: DataFrame,
    k: int = 8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Per-document duplication accounting (all-integer, oracle-friendly):

    id_col, n_tok, removed_occurrences (non-canonical dup-gram starts),
    covered_tokens (union of their k-windows), kept_n_tok,
    kept_token_sum (sum of surviving token ids — pins the exact kept
    set without shipping the arrays).
    """
    removed = duplicated_span_occurrences(
        df, k, tokens_col, id_col, portable
    ).filter(~F.col("is_canonical"))
    return _doc_stats(
        _with_coverage(df, removed, k, id_col), tokens_col, id_col
    )


def remove_duplicate_spans(
    df: DataFrame,
    k: int = 8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """df with ``tokens_col`` rewritten to drop every token covered by a
    non-canonical duplicated span (first corpus-wide occurrence kept),
    plus ``covered_tokens``. Schema otherwise preserved; ``n_tok``-style
    derived columns are the caller's to refresh."""
    removed = duplicated_span_occurrences(
        df, k, tokens_col, id_col, portable
    ).filter(~F.col("is_canonical"))
    covered = _with_coverage(df, removed, k, id_col)
    kept = F.filter(
        F.col(tokens_col), lambda t, i: ~F.array_contains(F.col("_cov"), i)
    )
    return (
        covered.withColumn("covered_tokens", F.size("_cov"))
        .withColumn(tokens_col, kept)
        .drop("_dup_starts", "_cov", "removed_occurrences")
    )


def span_dedup_summary(
    df: DataFrame,
    k: int = 8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """One-row corpus roll-up: docs/tokens totals, affected docs,
    removed tokens + pct, distinct duplicated grams, removed
    occurrences. Two aggregations (per-doc stats + gram census) — the
    census is re-derived rather than threaded through to keep each
    public function standalone."""
    stats = span_dedup_stats(df, k, tokens_col, id_col, portable)
    per_doc = stats.agg(
        F.count(F.lit(1)).alias("docs_total"),
        F.sum((F.col("covered_tokens") > 0).cast("bigint")).alias("docs_affected"),
        F.sum("n_tok").alias("tokens_total"),
        F.sum("covered_tokens").alias("tokens_removed"),
        F.sum("removed_occurrences").alias("removed_occurrences"),
    )
    census = (
        ngram_occurrences(df, k, tokens_col, id_col, portable)
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .agg(F.count(F.lit(1)).alias("dup_grams"))
    )
    return per_doc.crossJoin(F.broadcast(census)).select(
        "docs_total",
        "docs_affected",
        "tokens_total",
        "tokens_removed",
        F.round(
            100.0 * F.col("tokens_removed") / F.col("tokens_total"), 4
        ).alias("removed_pct"),
        F.coalesce("dup_grams", F.lit(0)).alias("dup_grams"),
        "removed_occurrences",
    )


def span_dedup_stats_against(
    index: DataFrame,
    new: DataFrame,
    k: int = 8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Incremental duplicated-span accounting of a NEW batch against an
    existing corpus index — "which spans of this crawl drop does the
    corpus already contain", run per ingest without re-self-deduping the
    corpus. Every new-batch occurrence of a gram present ANYWHERE in the
    index is non-canonical (the index holds the canonical copy); the
    index itself is never modified or shuffled beyond its distinct-gram
    projection. Within-batch duplicates are NOT reported — run
    ``span_dedup_stats`` on ``new`` for those (composition mirrors
    ``dedup.minhash_duplicates_against``).

    Returns the same per-doc schema as :func:`span_dedup_stats`, for
    new-batch docs only (all of them, including untouched ones).

    Scale shape: the index side collapses to its distinct 8-byte grams
    (count-free — membership is enough), map-side combined; the join
    against new-batch occurrences is gram-keyed, and the small new side
    aggregates per doc exactly like the self-dedup path.
    """
    index_grams = (
        ngram_occurrences(index, k, tokens_col, id_col, portable)
        .select("gram")
        .distinct()
    )
    return span_dedup_stats_against_grams(
        index_grams, new, k, tokens_col, id_col, portable
    )


def span_dedup_stats_against_grams(
    index_grams: DataFrame,
    new: DataFrame,
    k: int = 8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """:func:`span_dedup_stats_against` with the index already reduced to
    its distinct ``gram`` column — the entry point for incremental /
    streaming use where the gram index is PERSISTED between batches
    instead of re-derived from the corpus each time. ``index_grams``
    must be deduplicated (duplicate gram rows would fan out the join and
    inflate removed_occurrences)."""
    removed = ngram_occurrences(
        new, k, tokens_col, id_col, portable
    ).join(index_grams, "gram")
    return _doc_stats(
        _with_coverage(new, removed, k, id_col), tokens_col, id_col
    )
