"""Deduplication for training corpora — beyond the reference's full-row
``duplicated()`` (duplicates.py:47-56), the operations a 100 TB text
pipeline needs: exact content dedup, MinHash+LSH near-dup, SimHash,
n-gram Jaccard verification, and embedding-cosine near-dup.

Scale design:
- exact: hash-groupBy on a content digest (never on raw text) — the shuffle
  moves 16-byte digests, not documents.
- MinHash+LSH: shingle → 64 minhashes (``mapInArrow`` numpy core: word
  hashes read zero-copy off the Arrow batch, combined into k-word shingle
  hashes, one segment-min per universal hash a·h+b mod 2³¹-1) → B bands
  hashed to buckets → candidate pairs ONLY within buckets (self-join on
  (band, hash), quadratic only in bucket size) → exact/estimated Jaccard
  verification → star-contraction clustering.
- SimHash: 64-bit signature via an Arrow pandas UDF (numpy bitcount); near
  dups = identical signatures (or Hamming ≤ d by multi-table split).
- embedding cosine: random-hyperplane LSH bucket join + exact cosine within
  bucket (brute force cross-join is the small-scale baseline in
  similarity.py).

Every banded finder turns bucket rows into candidate pairs through one of
two helpers, which also own the finder's persisted frame:
``_bucket_self_join`` (corpus self-join, lossy chunk-salting of oversized
buckets) and ``_bucket_pairs_against`` (index × new batch, exact
replication salting).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T
from pyspark.sql.functions import pandas_udf

from ..cache import (  # release_cached: re-exported for callers
    cached_intermediates,
    release_cached,  # noqa: F401
    release_frame,
    track_cached,
)
from ._tokenize import expr_word_hashes_arrow, normalized_text
from .similarity import vec_matrix

# Mersenne prime 2^31-1: universal hashing a*x+b mod p. The 31-bit field
# keeps every product < 2^62, safe under ANSI int64 overflow checking
# (a 61-bit prime would overflow a*h for full-range xxhash64 inputs).
_MERSENNE = (1 << 31) - 1


def content_digest(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stable content digest column ``digest`` (md5 — also available in
    every SQL oracle engine) of the normalized text: lowercase + collapsed
    whitespace, the usual exact-dedup canonicalization."""
    return df.withColumn("digest", F.md5(normalized_text(F.col(text_col))))


def exact_duplicates(
    df: DataFrame, key_col: str, text_col: str = "text"
) -> DataFrame:
    """Exact-content duplicate groups: (digest, group_size, doc_ids).
    Returns only groups with >1 member, doc_ids sorted for determinism."""
    d = content_digest(df, text_col)
    return (
        d.groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.sort_array(F.collect_list(key_col)).alias("members"),
        )
        .filter(F.col("group_size") > 1)
    )


def dedup_exact_content(
    df: DataFrame, key_col: str, text_col: str = "text"
) -> DataFrame:
    """Keep one representative per content digest (lowest key — explicit
    deterministic order, cf. uniqueness.dedup_exact)."""
    d = content_digest(df, text_col)
    w = Window.partitionBy("digest").orderBy(F.col(key_col).asc())
    return (
        d.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "digest")
    )


def _with_shingles(
    df: DataFrame, text_col: str, k: int, out_col: str = "_sh",
    gram_hash=F.xxhash64,
) -> DataFrame:
    """Add ``out_col``: k-word shingle hash array (split → slide window →
    ``gram_hash`` of the space-joined window, xxhash64 by default). All
    JVM higher-order functions; no Python in the row path. Docs shorter
    than k words get ONE shingle over all their words.

    The words array is projected as a REAL column before the window
    transform: HOF lambdas are interpreted with no common-subexpression
    elimination, so an inline split() referenced from the lambda body is
    re-evaluated PER WINDOW — O(words²) per doc, measured 8.8× slower at
    k=8 on a 50k-doc corpus. CollapseProject keeps the projection because
    the alias is non-cheap and referenced twice (size + slice)."""
    words = F.split(normalized_text(text_col), " ")
    n = F.greatest(F.size(F.col("_words")) - F.lit(k - 1), F.lit(1))
    sh = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: gram_hash(F.concat_ws(" ", F.slice(F.col("_words"), i + 1, k))),
    )
    return (
        df.withColumn("_words", words)
        .withColumn(out_col, sh)
        .drop("_words")
    )


def _minhash_matrix(
    sh: "np.ndarray",
    sdoc: "np.ndarray",
    n: int,
    ua: "np.ndarray",
    ub: "np.ndarray",
    num_hashes: int,
) -> "np.ndarray":
    """(n, num_hashes) int64 signature matrix from flat per-doc shingle
    hashes: per hash i, min over shingles of (aᵢ·h + bᵢ mod 2³¹-1) via
    ONE ``np.minimum.reduceat`` segment-min per hash chunk."""
    hm = sh % np.uint64(_MERSENNE)
    counts = np.bincount(sdoc, minlength=n)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    out = np.full((n, num_hashes), _MERSENNE, dtype=np.int64)
    nonempty = counts > 0
    # chunk the hash axis to bound peak memory at (shingles × 16) u64
    for c0 in range(0, num_hashes, 16):
        c1 = min(c0 + 16, num_hashes)
        u = (hm[:, None] * ua[c0:c1] + ub[c0:c1]) % np.uint64(_MERSENNE)
        if len(hm):
            mins = np.minimum.reduceat(u, starts, axis=0)
            out[nonempty, c0:c1] = mins[nonempty].astype(np.int64)
    return out


def minhash_signature_table(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(key_col, minhash) — the signature table every LSH stage consumes:
    ``minhash`` (array<bigint>, length num_hashes) holds, per hash i, the
    min over shingles of (aᵢ·h + bᵢ mod 2³¹-1); deterministic in seed.

    Built by ``mapInArrow``: the text column is consumed ZERO-COPY off
    the Arrow IPC batch (``_doc_shingle_hashes_arrow``), the key column
    is forwarded untouched, and the signature list array is assembled
    from one flat int64 buffer. Text is deliberately NOT in the output
    schema, so it is never re-serialized to the JVM. Signatures are
    pinned by ``tests/data/minhash_frozen.json``."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    ua = rng.integers(1, _MERSENNE, size=num_hashes, dtype=np.int64).astype(
        np.uint64
    )
    ub = rng.integers(0, _MERSENNE, size=num_hashes, dtype=np.int64).astype(
        np.uint64
    )
    mix = _mix_constants(shingle_k)
    out_schema = T.StructType(
        [
            T.StructField(key_col, df.schema[key_col].dataType),
            T.StructField("minhash", T.ArrayType(T.LongType())),
        ]
    )

    def gen(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            sh, sdoc = _doc_shingle_hashes_arrow(b.column(1), shingle_k, mix)
            out = _minhash_matrix(sh, sdoc, n, ua, ub, num_hashes)
            sig = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (n + 1) * num_hashes, num_hashes),
                    type=pa.int32(),
                ),
                pa.array(out.ravel(), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column(0), sig], names=[key_col, "minhash"]
            )

    return df.select(key_col, text_col).mapInArrow(gen, out_schema)


def _mix_constants(k: int) -> "np.ndarray":
    """k distinct odd uint64 multipliers decorrelating shingle positions.
    The first three are the historical xxhash-prime constants (keeps the
    k<=3 hash family — and thus every existing signature/benchmark —
    unchanged); further positions are odd golden-gamma multiples."""
    base = [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9]
    mix = np.array(base[: min(k, 3)], dtype=np.uint64)
    if k > 3:
        with np.errstate(over="ignore"):
            extra = np.uint64(0x9E3779B97F4A7C15) * (
                np.uint64(2) * np.arange(3, k, dtype=np.uint64)
                + np.uint64(3)
            )
        mix = np.concatenate([mix, extra | np.uint64(1)])
    return mix


def _doc_shingle_hashes_arrow(arr, k: int, mix: "np.ndarray") -> tuple:
    """Vectorized per-doc k-word shingle hashes over a pyarrow string
    Array/ChunkedArray — the zero-copy ``mapInArrow`` entry point (no
    pandas object Series is ever materialized for the text). Word hashes
    follow the expr convention (ASCII \\s class only, no trim —
    _tokenize.expr_word_hashes_arrow; only the vocabulary is
    materialized), combined into shingle hashes with flat uint64 slicing
    (no per-doc loop). Docs shorter than k words get ONE shingle over all
    their words (mirror of slice() clamping in ``_with_shingles``).
    Returns (sh uint64 shingle hashes, sdoc int64 doc index per shingle)
    sorted by doc."""
    lens, hw = expr_word_hashes_arrow(arr, trim=False)
    return _shingles_from_word_hashes(lens, hw, len(arr), k, mix)


def _shingles_from_word_hashes(
    lens: "np.ndarray", hw: "np.ndarray", n: int, k: int, mix: "np.ndarray"
) -> tuple:
    doc = np.repeat(np.arange(n, dtype=np.int64), lens)
    with np.errstate(over="ignore"):
        if len(hw) >= k:
            sh = hw[: len(hw) - k + 1] * mix[0]
            for j in range(1, k):
                sh = sh ^ (hw[j : len(hw) - k + 1 + j] * mix[j])
            valid = doc[: len(hw) - k + 1] == doc[k - 1 :]
        else:
            sh = np.empty(0, dtype=np.uint64)
            valid = np.empty(0, dtype=bool)
    sh = sh[valid]
    sdoc = doc[: len(doc) - k + 1][valid] if len(doc) >= k else doc[:0]
    short = np.nonzero((lens < k) & (lens > 0))[0]
    if len(short):
        extra = []
        starts_w = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=starts_w[1:])
        with np.errstate(over="ignore"):
            for i in short:
                hws = hw[starts_w[i] : starts_w[i] + lens[i]]
                v = np.uint64(0)
                for j, x in enumerate(hws):
                    v = v ^ (x * mix[j % k])
                extra.append(v)
        sh = np.concatenate([sh, np.array(extra, dtype=np.uint64)])
        sdoc = np.concatenate([sdoc, short.astype(np.int64)])
        order = np.argsort(sdoc, kind="stable")
        sh, sdoc = sh[order], sdoc[order]
    return sh, sdoc


def _bucket_self_join(
    banded: DataFrame,
    bucket_cols: list[str],
    max_bucket_size: int | None,
    carry: tuple = (),
) -> tuple[DataFrame, DataFrame]:
    """Self-join banded rows ``(k, *bucket_cols, *carry)`` on their bucket:
    returns ``(joined, persisted)``, where ``joined`` holds every pair
    ``(a, b, *{c}_a, *{c}_b)`` with ``a < b`` sharing a bucket (a pair
    sharing several buckets appears once per bucket) and ``persisted`` is
    the cached ``banded`` frame, for the caller to track on its result.

    ``banded`` is persisted (MEMORY_AND_DISK) unconditionally: both join
    sides and the census read it, and uncached each would re-run the
    signature UDF that produced it (plan-counted as 3 ArrowEvalPython
    evaluations). Banded rows are ~20-28 B per (doc, band), a small
    fraction of corpus bytes; eviction degrades to recompute, never to
    wrong answers.

    Skew guard: rows of a bucket larger than ``max_bucket_size`` get a
    ``_salt`` chunk ~ceil(n/cap) (smaller buckets keep salt 0), bounding
    every within-bucket task at ~cap² comparisons so a degenerate bucket
    (near-identical content all hashing together) cannot produce a
    runaway quadratic task. The documented recall bound: pairs spanning
    two chunks of an oversized bucket are missed, but every member is
    still compared against its chunk co-members, which is what dedup
    connectivity needs. Salting is by census: a bucket-size count
    (map-side combined, keeping ONLY oversized buckets — tiny) →
    broadcast join → ``pmod(xxhash64(k), chunks)``. No extra shuffle of
    the banded rows and no single-task stage (a ``row_number`` window
    would add a sort exchange and funnel each oversized bucket through
    ONE task)."""
    persisted = banded.persist()
    if max_bucket_size is None:
        salted = persisted.withColumn("_salt", F.lit(0))
    else:
        census = (
            persisted.groupBy(*bucket_cols)
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") > max_bucket_size)
            .select(
                *bucket_cols,
                F.ceil(F.col("_bn") / F.lit(max_bucket_size))
                .cast("int")
                .alias("_chunks"),
            )
        )
        salted = (
            persisted.join(F.broadcast(census), on=bucket_cols, how="left")
            .withColumn(
                "_salt",
                F.when(F.col("_chunks").isNull(), F.lit(0))
                .otherwise(F.pmod(F.xxhash64(F.col("k")), F.col("_chunks")))
                .cast("int"),
            )
            .drop("_chunks")
        )
    on = [*bucket_cols, "_salt"]
    sides = [
        salted.select(
            *on,
            F.col("k").alias(s),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )
        for s in ("a", "b")
    ]
    joined = sides[0].join(sides[1], on=on).filter(F.col("a") < F.col("b"))
    return joined, persisted


def _band_rows(
    sigs: DataFrame, key_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """Explode minhash signatures to narrow (k, band, bh) rows — one
    xxhash64 per band over its signature slice. ~24 B/row through any
    downstream shuffle; shared by the self-join and the incremental
    against-index paths. Every band must cover the same number of
    hashes, so ``bands`` must divide ``num_hashes``."""
    if not 1 <= bands <= num_hashes or num_hashes % bands:
        raise ValueError(
            f"bands={bands} must be between 1 and num_hashes={num_hashes} "
            "and divide it evenly"
        )
    rows = num_hashes // bands
    return sigs.select(
        F.col(key_col).alias("k"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("minhash")[bi * rows + r].cast("string")
                                    for r in range(rows)
                                ],
                            )
                        ).alias("bh"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("k", "bb.band", "bb.bh")


def lsh_candidate_pairs(
    sigs: DataFrame,
    key_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int | None = 2000,
    estimate: bool = True,
) -> DataFrame:
    """Band the signatures, bucket-join, emit candidate pairs (a < b) —
    with their minhash-estimated Jaccard when ``estimate=True``.

    Scale shape: the exploded band rows carry ONLY (band, band_hash, key)
    — ~24 B/row — through the self-join shuffle; the full signatures
    (num_hashes × 8 B) are joined back to the (small) deduplicated
    candidate set afterwards, never multiplied by the band fan-out.
    Oversized buckets are chunk-salted and the banded frame is persisted
    (``_bucket_self_join``); it is tracked on the result.
    ``estimate=False`` skips that signature join-back entirely (returns
    bare (a, b)) — the right call when candidates go straight to exact
    verification, as the signature table is then scanned ONCE instead of
    three times. Callers that keep ``estimate=True`` and iterate over the
    same signature table should persist ``sigs``."""
    joined, banded = _bucket_self_join(
        _band_rows(sigs, key_col, num_hashes, bands),
        ["band", "bh"],
        max_bucket_size,
    )
    pairs = joined.select("a", "b").dropDuplicates(["a", "b"])
    if not estimate:
        return track_cached(pairs, banded)
    sig_a = sigs.select(
        F.col(key_col).alias("a"), F.col("minhash").alias("sig_a")
    )
    sig_b = sigs.select(
        F.col(key_col).alias("b"), F.col("minhash").alias("sig_b")
    )
    with_sigs = pairs.join(sig_a.hint("shuffle_hash"), on="a").join(
        sig_b.hint("shuffle_hash"), on="b"
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda m: m,
            )
        )
        / F.lit(num_hashes)
    )
    return track_cached(
        with_sigs.select("a", "b", est.alias("est_jaccard")), banded
    )


def minhash_lsh_duplicates(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """End-to-end near-dup pairs with estimated Jaccard ≥ threshold."""
    sigs = minhash_signature_table(
        df, key_col, text_col, num_hashes, shingle_k, seed
    )
    pairs = lsh_candidate_pairs(sigs, key_col, num_hashes, bands)
    return track_cached(
        pairs.filter(F.col("est_jaccard") >= threshold),
        *cached_intermediates(pairs),
    )


def minhash_verified_duplicates(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """LSH candidates verified by EXACT n-gram Jaccard (not the minhash
    estimate): (a, b, jaccard) with jaccard ≥ threshold. The recall knob is
    (num_hashes, bands): P(candidate | J) = 1-(1-J^r)^b with r =
    num_hashes/bands — e.g. 64 hashes / 32 bands gives miss probability
    ≤ (1-J²)^32 ≈ 1e-4 at J = 0.5, while keeping low-similarity pairs out
    of the candidate set. Verification cost is bounded by the candidates."""
    sigs = minhash_signature_table(
        df, key_col, text_col, num_hashes, shingle_k, seed
    )
    cand = lsh_candidate_pairs(
        sigs, key_col, num_hashes, bands, max_bucket_size, estimate=False
    )
    # the candidate set is tiny (dup-rate × corpus) but its plan is the
    # whole LSH pipeline; the verification below references it THREE times
    # (two key-union branches + the pair join). localCheckpoint both
    # truncates that lineage and materializes it once.
    tracked = cached_intermediates(cand)
    # rebind rather than keep the pre-checkpoint frame referenced beside
    # the checkpoint: that measured +50 MB JVM peak RSS on the near_dup
    # benchmark (4-core host)
    cand = cand.localCheckpoint(eager=False)
    # the checkpointed frame itself must be tracked too: its RDD stays
    # persistent until driver-side GC otherwise
    return track_cached(
        ngram_jaccard(df, cand, key_col, text_col, shingle_k).filter(
            F.col("jaccard") >= threshold
        ),
        *tracked,
        cand,
    )


def _bucket_pairs_against(
    bi: DataFrame,
    bn: DataFrame,
    bucket_cols: list[str],
    max_bucket_size: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Join index-side banded rows ``bi`` against new-side ``bn`` (both
    ``(k, *bucket_cols)``) on their bucket: returns ``(cand, persisted)``,
    the deduplicated, localCheckpointed ``(a, b)`` candidates (``a`` from
    the index, ``b`` from the new side) and the persisted index side —
    track both on the result.

    EXACT skew guard: census the index side, hash-split buckets above
    ``max_bucket_size`` into chunks, and replicate the (small) new side
    across the chunks. Unlike the self-join chunk-salt
    (``_bucket_self_join``) no cross-chunk pairs are lost — the new side
    meets every chunk — while each task is bounded at cap × batch-bucket
    comparisons."""
    persisted = bi.persist()
    if max_bucket_size is None:
        bi = persisted.select(
            *bucket_cols, F.lit(0).alias("_salt"), F.col("k").alias("a")
        )
        bn = bn.select(
            *bucket_cols, F.lit(0).alias("_salt"), F.col("k").alias("b")
        )
    else:
        census = (
            persisted.groupBy(*bucket_cols)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket_size)
            .select(
                *bucket_cols,
                F.ceil(F.col("_n") / max_bucket_size).cast("int").alias("_ch"),
            )
        )
        bi = persisted.join(
            F.broadcast(census), on=bucket_cols, how="left"
        ).select(
            *bucket_cols,
            F.coalesce(
                F.pmod(F.xxhash64(F.col("k")), F.col("_ch")).cast("int"),
                F.lit(0),
            ).alias("_salt"),
            F.col("k").alias("a"),
        )
        bn = bn.join(F.broadcast(census), on=bucket_cols, how="left").select(
            *bucket_cols,
            F.explode(
                F.sequence(F.lit(0), F.coalesce(F.col("_ch"), F.lit(1)) - 1)
            ).alias("_salt"),
            F.col("k").alias("b"),
        )
    cand = (
        bi.join(bn, on=[*bucket_cols, "_salt"])
        .select("a", "b")
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=False)
    )
    return cand, persisted


def minhash_duplicates_against(
    index: DataFrame,
    new: DataFrame,
    key_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """Incremental near-dup check of a NEW batch against an existing
    corpus index — the "does this crawl drop duplicate what we already
    have" operation a training-data pipeline runs per ingest, without
    re-self-joining the corpus. Returns (a, b, jaccard ≥ threshold) with
    ``a`` from ``index`` and ``b`` from ``new`` (exact n-gram Jaccard,
    same verification as minhash_verified_duplicates). Keys must be
    globally unique across both frames; within-batch duplicates are NOT
    reported (run minhash_verified_duplicates on ``new`` for those).

    Scale shape: both sides explode to ~24 B (band, bh, key) rows
    (`_band_rows`); the join is index-banded × new-banded on the band
    key, so cost is O(corpus bands + batch bands + collisions), never the
    corpus self-join. The skew guard is EXACT here
    (``_bucket_pairs_against``): no cross-chunk pairs are lost."""
    sig_i = minhash_signature_table(
        index, key_col, text_col, num_hashes, shingle_k, seed
    )
    sig_n = minhash_signature_table(
        new, key_col, text_col, num_hashes, shingle_k, seed
    )
    cand, bi = _bucket_pairs_against(
        _band_rows(sig_i, key_col, num_hashes, bands),
        _band_rows(sig_n, key_col, num_hashes, bands),
        ["band", "bh"],
        max_bucket_size,
    )
    both = index.select(F.col(key_col), F.col(text_col)).unionByName(
        new.select(F.col(key_col), F.col(text_col))
    )
    return track_cached(
        ngram_jaccard(both, cand, key_col, text_col, shingle_k).filter(
            F.col("jaccard") >= threshold
        ),
        bi,
        cand,
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    key_col: str,
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard verification of candidate pairs: join the two
    shingle sets back and compare with array_intersect/union sizes. Only
    runs on the (small) candidate set.

    The shingle computation is restricted FIRST to the keys that actually
    appear in ``pairs`` (a left-semi join): shingling is the expensive
    part — interpreted HOF evaluation over every word — and without the
    semi-join both join branches would shingle the entire corpus to
    verify a candidate set that touches a few percent of it."""
    keys = (
        pairs.select(F.col("a").alias("_k"))
        .unionByName(pairs.select(F.col("b").alias("_k")))
        .distinct()
    )
    needed = df.join(
        keys, on=df[key_col] == keys["_k"], how="left_semi"
    )
    sh = _with_shingles(needed, text_col, shingle_k, "_sh").select(
        F.col(key_col).alias("k"),
        F.array_distinct(F.col("_sh")).alias("sh"),
    )
    a = sh.select(F.col("k").alias("a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("k").alias("b"), F.col("sh").alias("sh_b"))
    j = pairs.join(a, on="a").join(b, on="b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "a",
        "b",
        (inter / union).alias("jaccard"),
    )


@pandas_udf(T.LongType())
def _simhash64(words_hashes: pd.Series) -> pd.Series:
    """64-bit SimHash from per-word 64-bit hashes (Charikar 2002):
    bit b of the signature = sign of Σ_w (±1 by bit b of hash(w)).

    Fully batch-vectorized: the ragged hash lists are flattened once,
    expanded to a uint8 bit matrix via np.unpackbits on the little-endian
    byte view, per-row bit votes computed with ONE contiguous segment-sum
    (np.add.reduceat over the flattened row boundaries), and the 64 sign
    bits packed with one shift-dot. No per-row or per-bit Python loops:
    measured 5.5× the per-row-numpy variant on 200k short docs and 1.4×
    on 50k long docs (measured once on the round-3 32-core host; no
    script in the repo reproduces it)."""
    n = len(words_hashes)
    out = np.zeros(n, dtype=np.int64)
    lens = np.fromiter(
        (0 if h is None else len(h) for h in words_hashes), dtype=np.int64,
        count=n,
    )
    if n == 0 or lens.sum() == 0:
        return pd.Series(out)
    flat = np.concatenate(
        [
            np.asarray(h, dtype=np.uint64)
            for h in words_hashes
            if h is not None and len(h)
        ]
    )
    # (total, 64) uint8 bit matrix; little-endian byte view keeps bit i of
    # the word at column i
    bits = np.unpackbits(
        flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
    )
    nonempty = lens > 0
    nl = lens[nonempty]
    starts = np.zeros(len(nl), dtype=np.int64)
    np.cumsum(nl[:-1], out=starts[1:])
    votes = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
    v = votes * 2 - nl[:, None]  # (+1/-1 sums)
    shifts = np.arange(64, dtype=np.uint64)
    sig = ((v > 0).astype(np.uint64) << shifts).sum(axis=1, dtype=np.uint64)
    out[nonempty] = sig.astype(np.int64)
    return pd.Series(out)


def portable_word_hash(w):
    """60-bit positive word hash computable identically in any SQL engine
    with md5: first 15 hex chars of md5 parsed as an integer. Used by the
    oracle-checked SimHash gate query — DuckDB mirror:
    ``('0x' || substr(md5(w), 1, 15))::BIGINT``. Production SimHash keeps
    the (faster, 64-bit) xxhash64 default."""
    return F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("bigint")


def simhash(df: DataFrame, text_col: str = "text", word_hash=None) -> DataFrame:
    """Add a 64-bit ``simhash`` column. Word hashes are computed JVM-side
    (xxhash64 per word by default; pass ``word_hash`` e.g.
    ``portable_word_hash`` for a cross-engine-reproducible signature);
    only the bit-vote crosses to Arrow."""
    words = F.split(normalized_text(text_col), " ")
    wh = F.transform(words, word_hash or (lambda w: F.xxhash64(w)))
    return df.withColumn("simhash", _simhash64(wh))


def simhash_duplicates(
    df: DataFrame, key_col: str, text_col: str = "text", word_hash=None
) -> DataFrame:
    """Exact-signature SimHash collision groups (Hamming distance 0; see
    ``simhash_hamming_duplicates`` for the d≤k extension)."""
    s = simhash(df, text_col, word_hash)
    return (
        s.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.sort_array(F.collect_list(key_col)).alias("members"),
        )
        .filter(F.col("group_size") > 1)
    )


def simhash_hamming_duplicates(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    k: int = 3,
    word_hash=None,
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance ≤ k — the Charikar-2002
    signature with the Manku/Jain/Sarma (WWW'07) pigeonhole band split:
    partition the 64 signature bits into k+1 bands; two signatures within
    Hamming distance k differ in ≤ k bands, so they must agree EXACTLY on
    at least one band. Each (band index, band value) is an equality join
    key; candidates are verified by ``bit_count(sig_a xor sig_b) ≤ k``.
    Returns (a, b, hamming) with a < b, deduped across bands.

    Scale shape mirrors the MinHash-LSH path: the signature is computed
    ONCE (one Arrow batch pass), banded rows carry only
    (band, band_value, key, sig) ≈ 28 B through the shuffle — never the
    documents — both join sides hash-partition on the same band key (one
    reusable exchange), and buckets above ``max_bucket_size`` are
    census-salted (``_bucket_self_join``) so a degenerate band value cannot
    produce a runaway quadratic task. Verification is a single JVM
    bit_count per candidate — no second pass over text."""
    nb = k + 1
    s = simhash(df, text_col, word_hash).select(
        F.col(key_col).alias("k"), "simhash"
    )
    # contiguous band boundaries covering all 64 bits (first 64 % nb bands
    # get the extra bit)
    pieces, start = [], 0
    for t in range(nb):
        w = 64 // nb + (1 if t < 64 % nb else 0)
        mask = (1 << w) - 1
        pieces.append(
            F.struct(
                F.lit(t).alias("t"),
                F.shiftrightunsigned(F.col("simhash"), start)
                .bitwiseAND(F.lit(mask))
                .alias("bv"),
            )
        )
        start += w
    banded = s.select(
        "k", "simhash", F.explode(F.array(*pieces)).alias("_b")
    ).select("k", "simhash", F.col("_b.t").alias("t"), F.col("_b.bv").alias("bv"))
    joined, banded = _bucket_self_join(
        banded, ["t", "bv"], max_bucket_size, carry=("simhash",)
    )
    return track_cached(
        joined.select(
            "a", "b",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= k)
        .distinct(),
        banded,
    )


def embedding_near_duplicates(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 16,
    seed: int = 42,
    dim: int | None = None,
    max_bucket_size: int | None = 1024,
    tables: int = 1,
) -> DataFrame:
    """Embedding near-dup pairs: random-hyperplane LSH bucket (sign bits of
    R dot products) → exact cosine verification of candidates. Pairs (a<b)
    with cosine ≥ threshold. The hyperplanes are literal arrays (broadcast
    in the plan, no side table).

    ``tables`` independent hash tables (seeds seed..seed+tables-1) are
    unioned: per-table recall for a pair at angle θ is (1-θ/π)^planes, so
    L tables lift recall to 1-(1-(1-θ/π)^planes)^L — the standard LSH
    recall lever (lower ``planes`` + more ``tables`` for lower-similarity
    targets). Candidate generation shuffles only (key, table, code) rows —
    vectors are joined back to the deduplicated candidate set, never
    multiplied by the table fan-out. False positives cost only the exact
    cosine check; they never reach the output.

    Skew guard: a degenerate bucket (e.g. near-zero vectors all landing on
    one sign pattern) would make the within-bucket self-join quadratic in
    that bucket's size; buckets above ``max_bucket_size`` are chunk-salted
    (``_bucket_self_join``), bounding every task at cap² comparisons at the
    cost of missing cross-chunk pairs inside the oversized bucket."""
    if dim is None:
        # refuse to infer: a df.first() here would be a driver action in
        # the middle of plan construction (a full job at 100 TB scale just
        # to read one array length). Callers know their embedding width.
        raise ValueError(
            "embedding_near_duplicates requires dim= (the embedding "
            "width); inferring it would run a driver-side job mid-plan"
        )

    d = df.select(F.col(key_col).alias("k"), F.col(vec_col).alias("v"))
    joined, banded = _bucket_self_join(
        _hyperplane_banded(d, planes, tables, seed, dim),
        ["t", "code"],
        max_bucket_size,
    )
    pairs = joined.select("a", "b").dropDuplicates(["a", "b"])
    return track_cached(_cosine_verify(d, pairs, threshold), banded)


def _hyperplane_banded(
    d: DataFrame, planes: int, tables: int, seed: int, dim: int
) -> DataFrame:
    """(k, v) → narrow (k, t, code) rows: every table's sign code for
    every vector. ALL tables' codes come from ONE Arrow matmul: X (n ×
    dim) against the stacked (tables·planes × dim) hyperplane matrix,
    sign bits packed to an int64 per table. A literal-expression variant
    (tables × planes zip_with dot products per row) costs seconds of
    codegen at even 48 plane rows and grows linearly; this holds to
    hundreds of tables."""
    planes_m = np.concatenate(
        [
            np.random.default_rng(seed + t).standard_normal((planes, dim))
            for t in range(tables)
        ],
        axis=0,
    )
    pow2 = (1 << np.arange(planes)).astype(np.int64)
    n_tables = tables

    @pandas_udf("array<long>")
    def _codes(v: pd.Series) -> pd.Series:
        x = vec_matrix(v)
        bits = (x @ planes_m.T) > 0
        codes = bits.reshape(len(x), n_tables, -1).astype(np.int64) @ pow2
        return pd.Series([row.tolist() for row in codes])

    return d.select("k", F.posexplode(_codes("v")).alias("t", "code"))


def _cosine_verify(
    d: DataFrame, pairs: DataFrame, threshold: float
) -> DataFrame:
    """Join vectors back to the (a, b) candidate set and keep pairs with
    exact cosine ≥ threshold. Norms are per-vector, not per-pair: computed
    once before the join-back so each candidate pair pays one dot product,
    not three array passes."""
    v = F.col("v")
    norm = F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0), lambda s, x: s + x
        )
    )
    dn = d.withColumn("_nrm", norm)
    va = dn.select(
        F.col("k").alias("a"), F.col("v").alias("va"), F.col("_nrm").alias("na")
    )
    vb = dn.select(
        F.col("k").alias("b"), F.col("v").alias("vb"), F.col("_nrm").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )
    # no join-strategy hint: the deduplicated candidate set is usually a
    # tiny fraction of the corpus, and leaving the choice to AQE lets it
    # broadcast the pairs side — then the corpus vectors are probed
    # map-side and NEVER shuffled. If a mis-tuned operating point floods
    # the candidate set past the broadcast threshold, AQE degrades to a
    # shuffled join instead of OOMing the driver.
    return (
        pairs.join(va, on="a")
        .join(vb, on="b")
        .select("a", "b", (dot / (F.col("na") * F.col("nb"))).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_duplicates_against(
    index: DataFrame,
    new: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 16,
    seed: int = 42,
    dim: int | None = None,
    max_bucket_size: int | None = 2000,
    tables: int = 1,
) -> DataFrame:
    """Incremental embedding near-dup check of a NEW batch against an
    existing corpus index — the embedding twin of
    `minhash_duplicates_against`: "is this new vector near anything we
    already have", per ingest, without re-self-joining the corpus.
    Returns (a, b, cosine ≥ threshold) with ``a`` from ``index`` and
    ``b`` from ``new``. Keys must be globally unique across both frames;
    within-batch pairs are NOT reported (run `embedding_near_duplicates`
    on ``new`` for those).

    Both sides are coded with the SAME hyperplanes (`_hyperplane_banded`,
    seeds seed..seed+tables-1), so a pair collides exactly as it would in
    the self-join form — recall math is identical. The join is
    index-banded × new-banded on (t, code); the skew guard is EXACT
    (`_bucket_pairs_against`): oversized index buckets are hash-chunked and the
    (small) new side is replicated across the chunks, so no cross-side
    pair is lost. Candidates get the same exact cosine verification."""
    if dim is None:
        raise ValueError(
            "embedding_near_duplicates_against requires dim= (the "
            "embedding width); inferring it would run a driver-side job "
            "mid-plan"
        )
    di = index.select(F.col(key_col).alias("k"), F.col(vec_col).alias("v"))
    dn_ = new.select(F.col(key_col).alias("k"), F.col(vec_col).alias("v"))
    cand, bi = _bucket_pairs_against(
        _hyperplane_banded(di, planes, tables, seed, dim),
        _hyperplane_banded(dn_, planes, tables, seed, dim),
        ["t", "code"],
        max_bucket_size,
    )
    return track_cached(
        _cosine_verify(di.unionByName(dn_), cand, threshold), bi, cand
    )


def duplicate_clusters(
    pairs: DataFrame,
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs: (key, cluster) where
    ``cluster`` is the minimum key in the component — the step between
    pair mining (MinHash/SimHash/embedding LSH) and corpus dedup (keep
    one representative per cluster).

    Alternating large-star / small-star contraction (Kiveris et al.
    2014, "Connected Components in MapReduce and Beyond") — each round
    re-points edges at local minima, roughly squaring the contraction, so
    deep components converge in O(log²) rounds where one-hop label
    propagation needs O(diameter). Each half-round is one aggregate + one
    join on the pair-derived edge set, never on the corpus.

    Raises RuntimeError if ``max_iters`` rounds pass without
    convergence — returning silently would hand the caller *wrong*
    cluster labels with no signal."""
    e = pairs.select("a", "b").filter(F.col("a") != F.col("b"))
    # rounds run until the edge set is a forest of stars rooted at each
    # component's minimum key. Edges are kept oriented (a > b).
    # localCheckpoint (not mere persist) per round: an iterative plan that
    # nests join-on-join grows super-linearly in the optimizer and OOMs
    # the driver after ~10 rounds; checkpointing truncates the lineage so
    # each round's plan is constant-size.
    nodes = (
        e.select(F.col("a").alias("k"))
        .unionByName(e.select(F.col("b").alias("k")))
        .distinct()
        .localCheckpoint()
    )
    edges = (
        e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iters):
        # large-star: for each node u, attach every LARGER neighbour to
        # the minimum of Γ(u) ∪ {u}
        prev = edges
        sym = edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = sym.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        edges = (
            sym.filter(F.col("b") > F.col("a"))
            .join(mins, on="a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        # the eager checkpoint above materialized this round from the
        # previous one — release the stale round NOW instead of letting
        # O(rounds) checkpoint RDDs pile up until driver GC
        release_frame(prev)
        # small-star: for each node u, attach u and all its (smaller)
        # neighbours to min(Γ(u) ∪ {u})
        mins = edges.groupBy("a").agg(F.min("b").alias("m"))
        via_neighbors = (
            edges.join(mins, on="a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        via_center = mins.select(F.col("a"), F.col("m").alias("b"))
        new_edges = (
            via_neighbors.unionByName(via_center)
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        release_frame(edges)
        edges = new_edges
        # fixed point ⇔ the edge set is a star forest ⇔ no source node is
        # also a target (edges stay oriented a > b throughout, so a star's
        # center only ever appears on the b side). One small job per
        # round, and it detects doneness the round the stars form — no
        # extra confirmation pass.
        not_star = (
            edges.select("a")
            .intersect(edges.select(F.col("b").alias("a")))
            .limit(1)
            .count()
        )
        if not_star == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iters} "
            "rounds — raise max_iters"
        )
    # nodes + the final edge set back the result's plan (checkpointed,
    # so unpersisting early would lose them) — hand them to the caller's
    # release_cached instead
    return track_cached(
        nodes.join(
            edges.select(F.col("a").alias("k"), F.col("b").alias("_c")),
            on="k",
            how="left",
        ).select("k", F.coalesce(F.col("_c"), F.col("k")).alias("cluster")),
        nodes,
        edges,
    )


def dedup_by_clusters(
    df: DataFrame,
    pairs: DataFrame,
    key_col: str,
) -> DataFrame:
    """Keep one representative (the minimum key) per near-dup cluster;
    rows not in any pair pass through untouched. The join against the
    (tiny) cluster table is broadcast."""
    clusters = duplicate_clusters(pairs)
    drop = clusters.filter(F.col("k") != F.col("cluster")).select(
        F.col("k").alias(key_col)
    )
    # chained transforms shed the tracking attribute — forward the
    # cluster pass's checkpointed frames so release_cached reaches them
    return track_cached(
        df.join(F.broadcast(drop), on=key_col, how="left_anti"),
        *cached_intermediates(clusters),
    )
