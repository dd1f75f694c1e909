"""Incremental/streaming driver (B15, SURVEY.md §3.3).

Structured Streaming over the transcript source with
``trigger(availableNow=True)``: newly-appended files (standing in for
newly-committed Iceberg snapshots) are processed as micro-batches, and
``foreachBatch`` reuses the exact batch pipeline body — one code path,
two drivers. No event-time aggregation is in the spec (`ts` is carried,
not aggregated), so no watermark/state is required.

Exactly-once END TO END, not just at the source: the checkpoint makes
file tracking exactly-once, but a blind append sink would double rows
when a micro-batch fails after a partial write and is retried. The sink
therefore partitions by batch_id and dynamically overwrites — a retried
batch replaces its own partition, so output is idempotent per batch.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..plans.pipeline import extract_transcripts

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)

# the events table's shape (TESTDATA.md) — used by the watermarked
# streaming aggregation below
EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def sum_value_cents(col: str = "value"):
    """Order-independent EXACT sum of a 2-decimal-quantized double
    column: sum integer cents, divide once. round(sum(x), 2) is the
    flake class event_olympic_mean already fixed — a double sum's last
    ulp depends on summation order (Spark partial-agg trees vs DuckDB
    sequential), so a window/session sum landing on a .xx5 boundary can
    flip the rounded value between engines; summing cents makes both
    divide the identical exact integer. Shared by the batch tumbling
    query, the batch+streaming session aggregation, and the streaming
    tumbling job (oracle mirror: sum(CAST(round(value*100) AS BIGINT))
    / 100.0)."""
    return (F.sum(F.round(F.col(col) * 100).cast("long")) / 100.0).alias(
        "sum_value"
    )


def _append_available_now(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    max_files_per_trigger: int,
    out_dir: str,
    checkpoint_dir: str | None,
    build: Callable[[DataFrame], DataFrame],
) -> None:
    """The availableNow parquet-to-parquet stream: read the files under
    ``source_dir`` with ``schema``, at most ``max_files_per_trigger`` per
    micro-batch, apply ``build``, append the result to ``out_dir/data``
    (checkpoint at ``checkpoint_dir``, default ``out_dir/_checkpoint``),
    and return once every file present at the start is processed."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    q = (
        build(stream).writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "data"))
        .option("checkpointLocation",
                checkpoint_dir or os.path.join(out_dir, "_checkpoint"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_event_counts(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    watermark: str = "1 hour",
    window: str = "1 hour",
) -> None:
    """Watermarked event-time tumbling-window aggregation, streaming form
    of the batch ``event_tumbling_counts`` query (both call
    ``tumbling_window_agg``, certified against DuckDB time_bucket in
    batch; the test asserts the streaming rows equal the batch rows for
    every finalized window).

    Semantics: append mode emits a window only once its end falls behind
    the watermark (max event time seen in a PRIOR micro-batch minus the
    delay) — late rows inside the delay still count, later ones are
    dropped. With availableNow the last batch's windows may stay pending
    until a future run advances the watermark past them; the stream
    checkpoint carries both the watermark and the window state across
    restarts."""
    _append_available_now(
        spark, source_dir, EVENT_SCHEMA, 1, out_dir, checkpoint_dir,
        lambda s: tumbling_window_agg(s.withWatermark("ts", watermark), window),
    )


def tumbling_window_agg(df, window: str = "1 hour"):
    """THE tumbling-window aggregation (F.window + count/sum per
    event_type -> formatted window start) — one definition shared by the
    batch-certified ``event_tumbling_counts`` driver query and the
    streaming ``windowed_event_counts`` job."""
    return (
        df.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), sum_value_cents())
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def session_window_agg(df, gap: str = "30 minutes"):
    """THE session-window aggregation (F.session_window + count/sum ->
    formatted start/end) — one definition shared by the batch-certified
    ``event_session_windows`` driver query, the streaming
    ``session_event_counts`` job, and the streaming==batch test, so the
    'same construct in both modes' contract cannot drift apart."""
    return (
        df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), sum_value_cents())
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def session_event_counts(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    watermark: str = "1 hour",
    gap: str = "30 minutes",
) -> None:
    """Watermarked SESSION-window aggregation — the streaming form of
    the batch-certified ``event_session_windows`` query (same
    F.session_window + agg expressions; the test asserts streaming rows
    equal the batch aggregation for every finalized session).

    Unlike fixed windows, session state MERGES as events arrive (a late
    in-delay event can bridge two open sessions); a session is emitted
    once its end (last event + gap) falls behind the watermark, at which
    point no admissible event can extend it."""
    _append_available_now(
        spark, source_dir, EVENT_SCHEMA, 1, out_dir, checkpoint_dir,
        lambda s: session_window_agg(s.withWatermark("ts", watermark), gap),
    )


def run_incremental(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    partitions: int | None = None,
) -> int:
    """Process all not-yet-seen parquet files under ``source_dir`` as
    micro-batches; append extraction output to ``out_dir``. Returns the
    number of micro-batches processed. Re-running after new files land
    extracts only the new files (resume is the stream checkpoint).
    ``partitions`` is the kernel exchange width (see
    ``extract_transcripts``; 0 = no exchange)."""
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    n_batches = 0

    def process(batch_df, batch_id: int) -> None:
        nonlocal n_batches
        out = extract_transcripts(batch_df, partitions=partitions).withColumn(
            "batch_id", F.lit(batch_id)
        )
        # idempotent sink: a retried micro-batch overwrites ITS OWN
        # batch_id partition instead of appending duplicates
        (out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(os.path.join(out_dir, "data")))
        n_batches += 1

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches
