"""Structured-Streaming monitoring over arriving sequence batches.

The reference *intends* streaming but ships none of it: ``streaming/
{kafka_consumer,drift_monitor,alerts_stream}.py`` are 0-byte stubs, the
intent is described at ``README.md:23,196-199``, and the flag is off at
``config/settings.py:84`` (``streaming_enabled: False``). This module
supplies the capability Spark-natively:

- **micro-batch re-validation**: ``spark.readStream`` over the landing
  directory of sequence parquet with the ``availableNow`` trigger — each
  trigger drains everything new, runs the SAME batch pipeline
  (``plans.pipeline.build_verdicts``) via ``foreachBatch``, and appends
  verdict rows tagged with the batch id. Exactly-once bookkeeping comes
  from the checkpoint directory; on a real deployment the source would be
  Kafka (``format("kafka")``) or an Iceberg streaming read — only the
  ``readStream`` line changes.
- **windowed event aggregation with watermarks**: the canonical
  late-data-tolerant tumbling-window count used by the alerts stream the
  reference sketched.

foreachBatch is the right integration point here (not stateful operators):
every check the engine runs is an aggregate over the *batch*, so reusing
the batch operators gives identical semantics in both modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schema import SEQUENCES_SCHEMA

# severity → rank for alert filtering; covers the quality severities
# (low/medium/high) and the drift ones (moderate/large)
_SEV_RANK = {"none": 0, "low": 1, "medium": 2, "moderate": 2,
             "high": 3, "large": 3}


def alerts_from_verdicts(
    verdicts: DataFrame, min_severity: str = "medium"
) -> DataFrame:
    """Failed verdicts at/above ``min_severity`` → alert rows — the
    reference's sketched ``alerts_stream.py`` semantics (README.md:199) as
    a pure transformation usable in both batch and foreachBatch. Output
    adds ``alert_level`` ('critical' for high/large, else 'warning');
    delivery (email/Slack webhook) is a sink concern layered on the
    alerts table this produces."""
    floor = _SEV_RANK.get(min_severity, 2)
    ranks = F.create_map(*[F.lit(x) for kv in _SEV_RANK.items() for x in kv])
    # an unknown or NULL severity ranks 0
    rank = F.coalesce(ranks[F.col("severity")], F.lit(0))
    return verdicts.filter(~F.col("passed") & (rank >= floor)).withColumn(
        "alert_level", F.when(rank >= 3, "critical").otherwise("warning")
    )


def alerts_to_messages(
    alerts: DataFrame, channel: str = "#data-quality"
) -> DataFrame:
    """Alert rows → notification payloads (channel, subject, body) — the
    formatting half of the reference's ``utils/alerts.py`` (0-byte)
    email/Slack intent. Delivery (SMTP / webhook POST) is a foreachBatch
    sink concern on top of these rows; the format is engine-side,
    deterministic, and works on batch or streaming frames."""
    sev = F.upper(F.col("alert_level"))
    return alerts.select(
        F.lit(channel).alias("channel"),
        F.concat(
            F.lit("["), sev, F.lit("] "), F.col("check"),
            F.lit(" failed on partition "), F.col("part_id").cast("string"),
        ).alias("subject"),
        F.concat(
            F.lit("check="), F.col("check"),
            F.lit(" column="), F.coalesce(F.col("column"), F.lit("-")),
            F.lit(" severity="), F.col("severity"),
            F.lit(" value="),
            F.coalesce(F.col("value").cast("string"), F.lit("-")),
            F.lit(" recommendation="),
            F.coalesce(F.col("recommendation"), F.lit("-")),
        ).alias("body"),
    )


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    options: dict | None = None,
) -> DataFrame:
    """Kafka source for the monitor (reference ``streaming/kafka_consumer.py``
    intent, README.md:23,196-199): one JSON sequence document per record.
    Requires the spark-sql-kafka package on the classpath (not bundled in
    this sandbox — the reader construction is exercised here, the parse
    path is unit-tested on kafka-shaped batches via
    ``parse_kafka_sequences``)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return parse_kafka_sequences(reader.load())


def parse_kafka_sequences(raw: DataFrame) -> DataFrame:
    """Kafka record batch (key/value binary + topic/partition/offset) →
    SEQUENCES_SCHEMA rows. Pure column transformation: works identically
    on a streaming kafka source and on a batch DataFrame shaped like one
    (which is how it is tested without a broker)."""
    parsed = raw.select(
        F.from_json(
            F.col("value").cast("string"), SEQUENCES_SCHEMA
        ).alias("seq")
    )
    return parsed.select("seq.*")


def start_monitor(
    spark: SparkSession,
    input_dir: str | None,
    output_dir: str,
    checkpoint_dir: str,
    ref_stats: DataFrame | None = None,
    allowed_sources: DataFrame | None = None,
    ref_digests: DataFrame | None = None,
    available_now: bool = True,
    source: str = "files",
    kafka_options: dict | None = None,
    alerts_dir: str | None = None,
    min_alert_severity: str = "medium",
):
    """Stream-validate arriving sequence batches; returns the StreamingQuery.

    Each micro-batch runs the full verdict pipeline and appends to
    ``output_dir`` with the micro-batch id as lineage; when ``alerts_dir``
    is set, failed verdicts at/above ``min_alert_severity`` are also
    appended there as alert rows (the alerts-stream sink).
    ``available_now=True`` processes the current backlog then stops (the
    "monitoring re-run" mode); ``False`` keeps polling — both share the
    checkpoint, so a crashed run resumes without reprocessing finished
    batches. ``source='kafka'`` swaps the file landing dir for a Kafka
    topic (kafka_options: bootstrap_servers, topic, ...); everything
    downstream of the readStream is identical.
    """
    from ..cache import release_cached
    from ..plans.pipeline import build_verdicts

    if source == "kafka":
        opts = dict(kafka_options or {})
        stream = kafka_stream(
            spark,
            opts.pop("bootstrap_servers"),
            opts.pop("topic"),
            opts.pop("starting_offsets", "earliest"),
            opts,
        )
    else:
        stream = (
            spark.readStream.schema(SEQUENCES_SCHEMA)
            .option("maxFilesPerTrigger", 64)
            .parquet(input_dir)
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        built = build_verdicts(
            batch_df,
            ref_stats=ref_stats,
            allowed_sources=allowed_sources,
            ref_digests=ref_digests,
        )
        try:
            verdicts = built.withColumn("batch_id", F.lit(batch_id))
            verdicts.write.mode("append").parquet(output_dir)
            if alerts_dir is not None:
                # derive alerts from the in-memory verdicts frame (its
                # intermediates are still cached until the finally block) —
                # reading output_dir back would rescan the ENTIRE verdict
                # history every micro-batch, O(total rows written) per batch
                # on a long-running stream since batch_id is not a
                # partition column.
                alerts_from_verdicts(
                    verdicts, min_alert_severity
                ).write.mode("append").parquet(alerts_dir)
        finally:
            # unpersist per micro-batch: a long-running stream must not
            # accumulate cached plans in the SQL CacheManager
            release_cached(built)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window counts — works on a streaming OR batch
    DataFrame (same plan; watermark is a no-op in batch). The late-data
    semantics the reference's alerts stream sketched but never built."""
    gc = group_cols or []
    w = F.window(F.col(ts_col), window)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(w.alias("w"), *gc)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), *gc, "n_events")
    )
