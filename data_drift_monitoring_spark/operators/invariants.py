"""Per-row invariants over token arrays (BASELINE.json input_hint).

The mandated per-row check: token-array equality against a reference copy.
The scale-safe shape is digest-first:

1. JVM fast path — ``digest_join`` compares ``xxhash64(tokens)`` digests
   after the doc_id join; equality of 64-bit digests is computed entirely
   in whole-stage codegen, no Python touches the 10^12 rows. The verdict,
   ``token_equality_stats`` and the violation export all use this one join.
2. Arrow slow path — only digest-MISMATCHED rows (tiny by construction) go
   through a vectorized pandas UDF that pinpoints the first differing
   element and the count of differing positions.

At cluster scale the doc_id equi-join is the one unavoidable shuffle; with
both tables bucketed by doc_id (Iceberg bucket transform) it becomes a
co-located zero-shuffle join — the API takes pre-partitioned inputs as-is.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T
from pyspark.sql.functions import pandas_udf

from .uniqueness import rollup_key_groups

_DIFF_SCHEMA = T.StructType(
    [
        T.StructField("first_diff_idx", T.IntegerType()),
        T.StructField("n_diff", T.IntegerType()),
        T.StructField("len_cur", T.IntegerType()),
        T.StructField("len_ref", T.IntegerType()),
    ]
)


@pandas_udf(_DIFF_SCHEMA)
def _array_diff(cur: pd.Series, ref: pd.Series) -> pd.DataFrame:
    """Arrow-vectorized elementwise diff of two int-array columns."""
    import numpy as np

    first, ndiff, lc, lr = [], [], [], []
    for a, b in zip(cur, ref):
        a = np.asarray(a if a is not None else [], dtype=np.int64)
        b = np.asarray(b if b is not None else [], dtype=np.int64)
        n = min(len(a), len(b))
        neq = np.nonzero(a[:n] != b[:n])[0]
        if len(a) != len(b):
            fd = int(neq[0]) if len(neq) else n
            nd = int(len(neq)) + abs(len(a) - len(b))
        elif len(neq):
            fd, nd = int(neq[0]), int(len(neq))
        else:
            fd, nd = -1, 0
        first.append(fd)
        ndiff.append(nd)
        lc.append(len(a))
        lr.append(len(b))
    return pd.DataFrame(
        {"first_diff_idx": first, "n_diff": ndiff, "len_cur": lc, "len_ref": lr}
    )


def token_equality_violations(cur: DataFrame, ref: DataFrame) -> DataFrame:
    """Rows whose token array differs from the reference copy with the same
    doc_id. Returns (part_id, doc_id, first_diff_idx, n_diff, len_cur,
    len_ref, check). Digest pre-filter keeps the pandas UDF off the hot
    path."""
    c = cur.select(
        "part_id",
        "doc_id",
        F.col("tokens").alias("_cur_tokens"),
        F.xxhash64("tokens").alias("_cur_digest"),
    ).filter(F.col("doc_id").isNotNull())
    # one reference row per doc_id, by ``_one_digest_per_key``'s min-digest
    # rule: a duplicated doc_id must not fan out the violation rows
    ref_row = F.struct(
        F.xxhash64("tokens").alias("_ref_digest"),
        F.col("tokens").alias("_ref_tokens"),
    )
    r = (
        ref.filter(F.col("doc_id").isNotNull())
        .groupBy("doc_id")
        .agg(F.min(ref_row).alias("_r"))
        .select("doc_id", "_r.*")
    )

    mismatched = (
        c.join(r, on="doc_id", how="inner")
        .filter(F.col("_cur_digest") != F.col("_ref_digest"))
    )
    diff = mismatched.withColumn(
        "_d", _array_diff(F.col("_cur_tokens"), F.col("_ref_tokens"))
    )
    return diff.select(
        "part_id",
        "doc_id",
        F.col("_d.first_diff_idx").alias("first_diff_idx"),
        F.col("_d.n_diff").alias("n_diff"),
        F.col("_d.len_cur").alias("len_cur"),
        F.col("_d.len_ref").alias("len_ref"),
    ).withColumn("check", F.lit("token_equality"))


def token_digests(
    df: DataFrame,
    key: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """(key, tok_digest) — the persistable reference-side artifact for the
    per-row equality invariant: ~12 bytes/row instead of the full arrays, so
    the invariant join never re-reads reference token arrays."""
    return df.select(key, F.xxhash64(tokens_col).alias("tok_digest"))


def _one_digest_per_key(ref_digests: DataFrame, key: str) -> DataFrame:
    """Collapse the reference digests to exactly one row per key (min digest,
    deterministic). A reference snapshot with duplicate keys would otherwise
    fan out the left join and inflate every current-side count — the
    invariant contract is one reference row per doc. The aggregate partial-
    combines map-side and leaves the data hash-partitioned on ``key``, which
    the join reuses, so this adds no extra row-volume shuffle."""
    return (
        ref_digests.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.min("tok_digest").alias("_rd"))
    )


def digest_join(
    cur_digests: DataFrame,
    ref_digests: DataFrame,
    key: str = "doc_id",
    partition_col: str = "part_id",
) -> DataFrame:
    """Current digests with a non-null key LEFT-joined to one reference
    digest per key: (key, partition, ``_cd``, ``_rd``), ``_rd`` NULL when
    the key is missing from the reference. Filtering on ``token_mismatch()``
    rejects NULLs, so Catalyst turns that join back into an inner one."""
    c = cur_digests.select(
        partition_col, key, F.col("tok_digest").alias("_cd")
    ).filter(F.col(key).isNotNull())
    r = _one_digest_per_key(ref_digests, key)
    # digest equi-join needs no sort order: force shuffled-hash (the
    # planner still picks SortMergeJoin here otherwise, paying two
    # O(rows log rows) sorts)
    return c.join(r.hint("shuffle_hash"), on=key, how="left")


def token_mismatch() -> Column:
    """A ``digest_join`` row whose key is in the reference with a different
    token digest — one token-equality violation."""
    return F.col("_rd").isNotNull() & (F.col("_cd") != F.col("_rd"))


def uniqueness_and_token_equality(
    cur_digests: DataFrame,
    ref_digests: DataFrame,
    key: str = "doc_id",
    partition_col: str = "part_id",
) -> DataFrame:
    """Both key-uniqueness AND per-row token equality from ONE ``key``-hash
    shuffle: the ``digest_join``'s HashPartitioning(key) already satisfies
    the clustering the (partition, key) aggregation needs, so Catalyst
    inserts no second exchange for the current side — at 10^12 rows this
    halves the row-volume shuffles of the verdict pipeline. Null keys are
    excluded (they are a missing-value violation, not a duplicate group —
    see ``uniqueness.duplicate_stats``).

    Output per partition: n_rows, duplicate_rows, duplicate_groups,
    duplicate_pct, unique_keys, token_mismatch, token_match, missing_in_ref.
    """
    j = digest_join(cur_digests, ref_digests, key, partition_col)
    per_key = j.groupBy(partition_col, key).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(token_mismatch().cast("long")).alias("_mm"),
        F.sum(F.col("_rd").isNull().cast("long")).alias("_mi"),
        F.sum((F.col("_cd") == F.col("_rd")).cast("long")).alias("_ma"),
    )
    return rollup_key_groups(
        per_key,
        partition_col,
        F.sum("_mm").alias("token_mismatch"),
        F.sum("_ma").alias("token_match"),
        F.sum("_mi").alias("missing_in_ref"),
    )


def token_equality_stats(
    cur: DataFrame,
    ref: DataFrame,
    key: str = "doc_id",
    tokens_col: str = "tokens",
    partition_col: str = "part_id",
) -> DataFrame:
    """Per-partition counts: matched / mismatched / missing-in-reference —
    digest comparison only (pure JVM); the token-equality columns of
    ``uniqueness_and_token_equality`` over both tables' digests."""
    return uniqueness_and_token_equality(
        cur.select(partition_col, key, F.xxhash64(tokens_col).alias("tok_digest")),
        token_digests(ref, key, tokens_col),
        key,
        partition_col,
    ).select(
        partition_col, "n_rows", "missing_in_ref", "token_mismatch", "token_match"
    )
