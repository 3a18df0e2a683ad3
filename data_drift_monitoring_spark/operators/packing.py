"""GPT-style sequence packing: concatenate token sequences and chunk
into fixed context windows.

Training pipelines pack variable-length tokenized documents into
fixed-size context windows (concat-then-chunk, the GPT/T5 "packing"
data layout): within each stream (``part_col``), documents are laid out
in a deterministic order (``order_col``) and the token stream is cut
every ``context_len`` tokens. This operator computes, per document, its
global token offset and the window ids it lands in — the metadata a
writer needs to emit packed examples — plus per-window occupancy stats.

Scale design (10^12 sequences):

- The core is a running sum of ``n_tok`` — an inherently sequential
  prefix sum. The naive plan is ``sum() over (partition by part_col
  order by order_col)``: parallel across streams but each stream's
  window is ONE sort task, so a single giant stream becomes a
  straggler.
- ``prefix_buckets=B`` switches to a two-level distributed prefix sum
  (the classic scan decomposition): order-preserving range buckets over
  ``order_col`` → per-(stream, bucket) token sums (a tiny map-side-
  combined aggregate, |streams|·B rows) → running bucket offsets on the
  driver → broadcast join → per-bucket window cumsum + offset. The
  per-task sort is now bounded by the bucket width, independent of
  stream size. Both paths produce identical output (asserted in
  tests/test_packing.py).
- Everything downstream of the cumsum is per-row arithmetic; window
  stats explode each doc into the windows it touches — fan-out is
  ~ total_tokens / context_len + n_docs, not quadratic.

The reference ships no packing (its pipeline is tabular quality
checks); this serves the BASELINE.json training-pipeline role over the
(doc_id, tokens, n_tok, source) sequence table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..session import local_frame


def _bucketed_cumsum(
    df: DataFrame,
    n_tok_col: str,
    order_col: str,
    part_col: str,
    buckets: int,
) -> DataFrame:
    """Two-level prefix sum: range-bucket ``order_col``, per-bucket
    sums → broadcast running offsets → window cumsum within (part,
    bucket). One extra tiny aggregate + one broadcast join buys a
    per-task sort bounded by the bucket width."""
    # the range bucketing needs NUMERIC order keys: for strings,
    # int(lo) would crash outright — or worse, numeric-looking string
    # ids would bucket numerically while the within-bucket window sorts
    # lexicographically, silently producing a DIFFERENT layout than the
    # prefix_buckets=None path. Fail loudly instead.
    order_dt = df.schema[order_col].dataType.simpleString()
    if order_dt not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"prefix_buckets requires an integral order column; "
            f"{order_col!r} is {order_dt} — use prefix_buckets=None "
            "(plain window path) for non-numeric keys"
        )
    bounds = df.agg(
        F.min(order_col).alias("lo"), F.max(order_col).alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    # bucket width from the order-key range: order-preserving (unlike a
    # hash) and computable per row with no shuffle. Driver fetch is two
    # scalars — statistics, not data.
    width = max(1, (int(hi) - int(lo)) // buckets + 1)
    # integer DIV, not float division: order keys near 2^63 would lose
    # precision through a double
    bucket = F.expr(
        f"CAST((CAST({order_col} AS BIGINT) - {int(lo)}) DIV {width} "
        "AS BIGINT)"
    )
    staged = df.withColumn("__p_bucket", bucket)
    per_bucket = (
        staged.groupBy(part_col, "__p_bucket")
        .agg(F.sum(F.col(n_tok_col).cast("long")).alias("__p_sum"))
        .collect()
    )
    per_bucket.sort(key=lambda r: (str(r[part_col]), r["__p_bucket"]))
    offsets, running = [], {}
    for r in per_bucket:
        p = r[part_col]
        offsets.append((p, r["__p_bucket"], running.get(p, 0)))
        running[p] = running.get(p, 0) + r["__p_sum"]
    from pyspark.sql.types import LongType, StructField, StructType

    off_df = local_frame(
        df.sparkSession,
        offsets,
        StructType(
            [
                StructField(part_col, df.schema[part_col].dataType),
                StructField("__p_bucket", LongType()),
                StructField("__p_offset", LongType()),
            ]
        ),
    )
    w = (
        Window.partitionBy(part_col, "__p_bucket")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        staged.join(F.broadcast(off_df), on=[part_col, "__p_bucket"])
        .withColumn(
            "__p_end",
            F.col("__p_offset")
            + F.sum(F.col(n_tok_col).cast("long")).over(w),
        )
        .drop("__p_bucket", "__p_offset")
    )


def pack_windows(
    df: DataFrame,
    context_len: int,
    n_tok_col: str = "n_tok",
    order_col: str = "doc_id",
    part_col: str = "source",
    prefix_buckets: int | None = None,
) -> DataFrame:
    """Per-document packing layout: ``start_tok`` (0-based offset of the
    doc's first token within its stream), ``first_window`` /
    ``last_window`` (0-based context-window ids it occupies) and
    ``n_windows`` spanned. Empty docs (n_tok = 0) occupy zero tokens and
    report the window their offset falls in, spanning 1."""
    if context_len <= 0:
        raise ValueError("context_len must be positive")
    if prefix_buckets:
        cum = _bucketed_cumsum(
            df, n_tok_col, order_col, part_col, prefix_buckets
        )
    else:
        w = (
            Window.partitionBy(part_col)
            .orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = df.withColumn(
            "__p_end", F.sum(F.col(n_tok_col).cast("long")).over(w)
        )
    # Integer DIV, not floor(double division): token offsets past 2^53
    # per stream would lose precision through the double and misassign
    # windows — _bucketed_cumsum already uses DIV for the same reason
    # (offsets are non-negative, so DIV == floor here).
    start = F.col("__p_end") - F.col(n_tok_col).cast("long")
    first = F.expr(f"start_tok DIV {int(context_len)}")
    last = F.when(
        F.col(n_tok_col) > 0,
        F.expr(f"(__p_end - 1) DIV {int(context_len)}"),
    ).otherwise(first)
    return (
        cum.withColumn("start_tok", start)
        .withColumn("first_window", first.cast("long"))
        .withColumn("last_window", last.cast("long"))
        .withColumn(
            "n_windows",
            (F.col("last_window") - F.col("first_window") + 1),
        )
        .drop("__p_end")
    )


def window_stats(
    packed: DataFrame,
    context_len: int,
    n_tok_col: str = "n_tok",
    part_col: str = "source",
) -> DataFrame:
    """Per (stream, window): docs touching it, docs starting in it, and
    tokens filled. Invariant: every window but each stream's last fills
    exactly ``context_len`` tokens. Explode fan-out is bounded by
    total_tokens / context_len + n_docs."""
    c = F.lit(context_len)
    exploded = packed.filter(F.col(n_tok_col) > 0).select(
        part_col,
        "start_tok",
        (F.col("start_tok") + F.col(n_tok_col).cast("long")).alias(
            "__end"
        ),
        F.explode(
            F.sequence(F.col("first_window"), F.col("last_window"))
        ).alias("window_id"),
    )
    win_lo = F.col("window_id") * c
    win_hi = win_lo + c
    filled = F.least(F.col("__end"), win_hi) - F.greatest(
        F.col("start_tok"), win_lo
    )
    return (
        exploded.withColumn("__filled", filled)
        .withColumn(
            "__starts",
            (F.col("start_tok") >= win_lo).cast("long"),
        )
        .groupBy(part_col, "window_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__starts").alias("n_starting_docs"),
            F.sum("__filled").alias("tokens_filled"),
        )
    )


def packing_summary(
    packed: DataFrame,
    context_len: int,
    n_tok_col: str = "n_tok",
    part_col: str = "source",
) -> DataFrame:
    """Per-stream packing efficiency: docs, tokens, windows used
    (= ceil(total/C)), docs split across a window boundary, and the fill
    ratio of the final partial window."""
    # Integer ceil ((t + c - 1) DIV c), never ceil(double division):
    # stream token totals past 2^53 would round through the double
    # (same hazard as pack_windows' window ids).
    c = int(context_len)
    total = F.sum(F.col(n_tok_col).cast("long"))
    n_win = F.expr(
        f"(sum(cast({n_tok_col} as bigint)) + {c - 1}) DIV {c}"
    )
    return packed.groupBy(part_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        total.alias("total_tokens"),
        n_win.alias("n_windows"),
        F.sum(
            (F.col("last_window") > F.col("first_window")).cast("long")
        ).alias("n_boundary_docs"),
        F.when(total > 0, total - (n_win - 1) * F.lit(c).cast("long"))
        .otherwise(F.lit(0))
        .alias("last_window_fill"),
    )
