"""Streaming transcript ingestion.

- ``stream_transcripts``: file-source ``readStream`` over a transcript
  directory (parquet) with the input_hint schema.
- ``windowed_turn_counts``: watermarked tumbling-window aggregation of
  turns per (window, role) — late turns beyond the watermark are
  dropped, matching Structured Streaming's bounded-state contract.
- ``foreach_batch_mentions``: micro-batch handoff — each batch runs the
  SAME batch mention-detection operator (no separate streaming code
  path for the core semantics) and appends results to a sink table via
  the writer callback.

At production scale this runs against an Iceberg/Kafka source with
checkpointLocation on durable storage; state size is bounded by the
watermark horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ontology_loader_spark.schemas import TRANSCRIPT_SCHEMA


def stream_transcripts(spark: SparkSession, path: str,
                       max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_turn_counts(
    stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Turns per (tumbling ts window, role), watermarked for late data."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("role"))
        .agg(F.count("*").alias("n_turns"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            "n_turns",
        )
    )


def streaming_exact_dedup(
    stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of the batch exact dedup: emit each distinct
    (content digest) once, with duplicate suppression state bounded by
    the watermark horizon (``dropDuplicatesWithinWatermark`` — exact
    dedup within the horizon, at-most-once per key inside it; a
    duplicate arriving later than the watermark can re-emit, the
    standard bounded-state trade every streaming dedup makes).

    Keyed on the md5 digest — uniform, so the dedup state store
    shuffles evenly across executors at any scale."""
    return (
        stream.select(
            "conv_id", "turn_idx", "ts",
            F.md5(F.col("text")).alias("digest"),
        )
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["digest"])
    )


def foreach_batch_mentions(
    spark: SparkSession,
    stream: DataFrame,
    mention_dict: DataFrame,
    writer,
    checkpoint_dir: str,
):
    """Run batch mention detection per micro-batch; ``writer(df,
    batch_id)`` persists each batch (idempotent by batch_id upstream)."""
    from ontology_loader_spark.transcripts.mentions import detect_mentions

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        mentions = detect_mentions(spark, batch_df, mention_dict)
        writer(mentions, batch_id)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def streaming_mention_timeline(
    spark: SparkSession, stream: DataFrame, mention_dict: DataFrame
) -> DataFrame:
    """Streaming twin of ``transcripts/mentions.py::mention_timeline``:
    the Arrow detection UDF runs INSIDE the streaming plan (stateless
    ``mapInPandas`` over micro-batches — legal precisely because
    detection is batch-boundary independent, the SURVEY §7.3.5
    determinism contract), followed by one complete-mode (term, day)
    aggregation. Every emission equals the batch timeline's
    (term_id, day, n_mentions) over the delivered prefix.

    Deliberately omits the batch operator's ``n_convs``: distinct
    aggregations are unsupported inside a streaming aggregate, and a
    second (stacked) aggregation is equally unsupported — the honest
    streaming surface is the additive count; conv-distinct rollups run
    in the batch twin (or a foreachBatch maintainer, the
    ``streaming/closure.py`` pattern) downstream.

    Scale shape: identical to the batch twin — detection state is the
    broadcast dictionary only; the aggregate's state store is keyed
    (term, day), dictionary x active-days sized, additive under
    map-side partials."""
    from ontology_loader_spark.transcripts.mentions import detect_mentions

    m = detect_mentions(spark, stream, mention_dict, ("ts",))
    return (
        m.select(
            "term_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .groupBy("term_id", "day")
        .agg(F.count("*").cast("bigint").alias("n_mentions"))
    )
