"""Structured-Streaming surface of the profiling engine.

The reference is strictly batch (SURVEY.md §2.8), but its operators are
stateless maps + one running tally — exactly the shape Structured Streaming
handles: masks are per-row transforms, the mask-frequency dictionary becomes a
windowed streaming aggregation with a watermark, and the quality filter is a
stateless per-batch map (``foreachBatch`` reusing the batch pipeline).

These run with ``availableNow`` triggers in tests (bounded) and unchanged on
real unbounded sources (kafka/file streams) in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..profile import pattern_col


def streaming_mask_frequency(
    stream: DataFrame,
    column: str,
    grain: str = "LU",
    ts_col: str = "ts",
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Windowed streaming mask-frequency table: the A1 tally with late-data
    handling, masked by the batch surfaces' ``profile.pattern_col``.
    Output mode: update/append via the caller's writeStream."""
    masked = stream.select(
        F.col(ts_col),
        F.lit(column).alias("column"),
        pattern_col(F.lit(column), F.col(f"`{column}`").cast("string"),
                    grain).alias("pattern"),
    )
    return (
        masked.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), "column", "pattern")
        .agg(F.count("*").alias("count"))
    )


def read_transcript_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a growing directory of transcript parquet."""
    from ..synth import TRANSCRIPT_SCHEMA

    return spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(path)


def quality_filter_stream(
    stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    freq: DataFrame,
):
    """Stateless streaming quality filter via foreachBatch.

    The mask-frequency dictionary is precomputed (batch job over history, or a
    periodically refreshed snapshot) and broadcast into every micro-batch —
    the streaming analogue of the reference's pre-built tally.  Each batch
    runs the batch pipeline's own labelling tail (``pipeline.label_turns``),
    so its duplicate flag sees only turns inside the same micro-batch; a
    duplicate pair straddling two batches is caught by the stateful operator
    in ``streaming.stateful_dedup`` instead.  Each batch featurizes in its
    own layout (no salt, no layout probe), as ``run_incremental`` does.
    """
    from ..pipeline import featurize, label_turns

    def process_batch(batch_df: DataFrame, batch_id: int):
        (label_turns(featurize(batch_df), freq)
         .write.mode("append").parquet(output_dir))

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )


def incremental_ingest_stream(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming incremental ingest: the 10^12-turn ingest loop as a
    Structured Streaming job.  Each micro-batch of arriving conversations
    runs the same crash-safe ``run_incremental`` commit the batch path uses —
    anti-join against the committed labels snapshot, label only the new
    conversations, maintain the mask-frequency dictionary as an additive
    monoid (≡ full-corpus tally, asserted in tests).

    Effectively-exactly-once WITHOUT sink transactions: ``foreachBatch`` is
    at-least-once on retry, but the anti-join makes reprocessing a batch a
    no-op (its conversations are already in the labels snapshot), so the
    combination is idempotent end-to-end.  Conversations must be
    ingest-atomic (all turns of a conversation land in one file), which the
    per-conversation file layout of a transcript feed gives naturally.
    """
    from ..pipeline import run_incremental

    def process_batch(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        run_incremental(batch_df.sparkSession, batch_df, out_dir)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
