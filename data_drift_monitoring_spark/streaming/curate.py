"""Streaming corpus curation: apply the batch corpus filters to a
document stream.

Continuously curates a landing directory of raw document batches into a
curated table + a quarantine table: repetition keep-filter → PII
redaction (in place, raw text preserved) → URL-blocklist filter. The
same operators as ``jobs/filter_corpus.py``, lifted into Structured
Streaming — every stage is a stateless per-row transformation, so the
stream needs NO watermark or state store: each micro-batch is one scan,
and checkpoint resume gives exactly-once appends of both outputs.

Quarantined rows carry the reason (``repetition`` / ``blocklist`` /
``span_duplicate``) and the micro-batch id as lineage, mirroring the
verdict-stream convention of streaming/monitor.py. The optional
cross-batch span dedup keeps its state in an external parquet gram
index, not Spark's state store — see ``start_curation``. Mixture
rebalancing is deliberately NOT here: it needs global per-stratum
counts, which are meaningless per micro-batch — rebalance the curated
table in batch instead."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.pii import redact_pii
from ..operators.repetition import repetition_flags
from ..operators.span_dedup import ngram_occurrences, span_dedup_stats_against_grams
from ..operators.text_analysis import tokenize_words
from ..operators.urls import with_urls
from ..session import local_frame

DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def curate_batch(
    batch: DataFrame,
    text_col: str = "text",
    blocklist: list[str] | None = None,
    thresholds: dict[str, float] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(curated, quarantined) from one raw batch. Pure column
    transformations — identical semantics in batch and per-micro-batch
    (which is how it is tested without a running stream)."""
    cols = batch.columns
    flagged = repetition_flags(batch, text_col, thresholds)
    quarantine_rep = (
        flagged.filter(~F.col("repetition_keep"))
        .select(*cols)
        .withColumn("quarantine_reason", F.lit("repetition"))
    )
    kept = flagged.filter(F.col("repetition_keep")).select(*cols)
    if blocklist:
        # tag once, split into kept/blocked — avoids scanning the batch
        # twice with complementary filters
        from ..operators.urls import _blocked_col

        tagged = _blocked_col(with_urls(kept, text_col), blocklist)
        quarantine_url = (
            tagged.filter(F.col("__blocked"))
            .select(*cols)
            .withColumn("quarantine_reason", F.lit("blocklist"))
        )
        kept = tagged.filter(~F.col("__blocked")).select(*cols)
        quarantine = quarantine_rep.unionByName(quarantine_url)
    else:
        quarantine = quarantine_rep
    curated = (
        redact_pii(kept, text_col, out_col="__red")
        .withColumnRenamed(text_col, f"{text_col}_raw")
        .withColumnRenamed("__red", text_col)
    )
    return curated, quarantine


def start_curation(
    spark: SparkSession,
    input_dir: str,
    curated_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    schema: str = DOCS_SCHEMA,
    text_col: str = "text",
    blocklist: list[str] | None = None,
    thresholds: dict[str, float] | None = None,
    available_now: bool = True,
    span_index_dir: str | None = None,
    span_k: int = 16,
    span_drop_at: float = 0.5,
):
    """Stream-curate arriving parquet document batches; returns the
    StreamingQuery. ``available_now=True`` drains the backlog then stops;
    ``False`` keeps polling. Both share the checkpoint for resume.

    ``span_index_dir`` enables incremental cross-batch span dedup: each
    micro-batch is tokenized (word-hash) and checked against the
    persisted gram index of every PRIOR batch
    (``span_dedup_stats_against_grams``); docs whose covered-token
    fraction reaches ``span_drop_at`` quarantine with reason
    ``span_duplicate``, and the surviving docs' distinct grams append to
    the index. The index is 8-byte gram rows — compact, but the probe
    re-reads it per batch; at deploy scale keep it bucketed (or in
    Iceberg with a bloom) so the join prunes. All three sinks (curated,
    quarantine, gram index) write per-batch partitions with dynamic
    overwrite, so a checkpoint replay rewrites batch N's partitions
    instead of appending duplicates, and the probe reads only strictly
    prior batches so a replayed batch never matches its own grams.
    Within-batch duplicates are intentionally NOT dropped here (batch
    policy, same as the _against operator contract)."""
    stream = (
        spark.readStream.schema(schema).parquet(input_dir)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        curated, quarantine = curate_batch(
            batch_df, text_col, blocklist, thresholds
        )
        if span_index_dir is not None:
            tok = tokenize_words(curated, text_col=text_col)
            from pyspark.errors import AnalysisException

            try:
                # probe STRICTLY PRIOR batches: after a crash between the
                # index write and the checkpoint commit, the replay of
                # batch N finds its own grams already in the index — an
                # unfiltered probe would then quarantine the whole batch
                # as a duplicate of itself
                idx = (
                    spark.read.parquet(span_index_dir)
                    .filter(F.col("batch_id") < F.lit(batch_id))
                    .select("gram")
                    .distinct()
                )
            except AnalysisException:  # first batch: no index yet; any
                # other failure (corrupt index, permissions) must raise —
                # silently treating it as empty would skip dedup quietly
                idx = local_frame(spark, [], "gram bigint")
            stats = span_dedup_stats_against_grams(idx, tok, k=span_k)
            dup_ids = stats.filter(
                (F.col("n_tok") > 0)
                & (F.col("covered_tokens") >= span_drop_at * F.col("n_tok"))
            ).select("doc_id")
            base_cols = [c for c in quarantine.columns if c != "quarantine_reason"]
            # quarantine carries the RAW text for every reason: curated's
            # text col is already the redacted copy at this point, so
            # restore text_raw before the union or the table would mix
            # raw (repetition/blocklist) and redacted (span) contents
            dropped = (
                curated.join(dup_ids, "doc_id")
                .withColumn(text_col, F.col(f"{text_col}_raw"))
                .select(*base_cols)
                .withColumn("quarantine_reason", F.lit("span_duplicate"))
            )
            quarantine = quarantine.unionByName(dropped)
            curated = curated.join(dup_ids, "doc_id", "left_anti")
            (
                ngram_occurrences(
                    tokenize_words(curated, text_col=text_col), k=span_k
                )
                .select("gram")
                .distinct()
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(span_index_dir)
            )
        # idempotent per-batch sink: dynamic overwrite replaces ONLY the
        # batch_id=<N> partition, so a checkpoint replay of batch N
        # rewrites the same rows instead of appending duplicates — this
        # is what makes the docstring's exactly-once claim true (a plain
        # append would double rows whenever a crash lands between the
        # sink write and the checkpoint commit)
        (
            curated.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(curated_dir)
        )
        (
            quarantine.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(quarantine_dir)
        )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
