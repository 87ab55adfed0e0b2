"""Structured Streaming over the events stream.

The streaming surface of the engine: file-source readStream ->
watermarked event-time windows -> sinks, plus per-user gap
sessionization on Spark's native ``session_window`` aggregation (the
stateful operator the reference's users would hand-roll with
map_partitions + carry-over state). Every operator here runs in the
JVM; none starts a Python worker.

The batch plans in plans/events.py run the SAME aggregations, so the
DuckDB oracle checks these semantics; tests/test_streaming.py runs
the streams to completion and asserts stream == batch.

Scale notes: windowed aggs shuffle once on (key, window) with
watermark-bounded state; the sessionizer keeps each user's open
sessions in the state store until the watermark passes their end.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

SESSION_GAP_US = 1_800_000_000

# Spark's default JSON timestampFormat keeps only milliseconds; event
# times are microsecond-resolution, so both the writer (tests/feeders)
# and the stream reader must pin a micros-preserving format.
JSON_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def stream_events_from_dir(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream of events (json lines written by tests /
    upstream collectors). maxFilesPerTrigger bounds batch size (files
    are picked up oldest-modification-time first, so tests can stage
    late arrivals as later files)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("timestampFormat", JSON_TS_FORMAT)
        .json(path)
    )


def windowed_counts(stream: DataFrame, window: str = "15 minutes", watermark: str = "1 hour"):
    """Event-time tumbling window per event_type with late-data
    watermark (tests pin it to its batch twin — since the late-r14 leg
    relocation that twin is the registered q_events_windowed slot
    itself again; the rollup cascade lives in
    q_events_funnel_retention)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("event_type", F.window("ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_c"),
        )
        .select(
            "event_type",
            F.unix_timestamp(F.col("w")["start"]).alias("bucket_start"),
            "n",
            "sum_value_c",
        )
    )


def sessionize_stateful(
    stream: DataFrame, gap_us: int = SESSION_GAP_US, watermark: str = "1 hour"
):
    """Per-user gap sessionization as Spark's native streaming
    ``session_window`` aggregation. Emits one row per CLOSED session
    (user_id, session_start_us, n_events).

    Events at most ``gap_us`` apart share a session; a larger gap
    starts a new one. In append mode a session is emitted once the
    watermark reaches its end (last event + gap), so emissions are
    final: any admissible later event has ts >= watermark >= that end
    and cannot extend or bridge it. Late events the watermark still
    admits merge into the sessions held in state, exactly as a batch
    computation over the union would place them.
    """
    sw = F.session_window("ts", f"{gap_us} microseconds")
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", sw.alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            "n_events",
        )
    )


def stream_dedup_exact(stream: DataFrame, keys: list[str] | None = None, watermark: str = "1 hour"):
    """Streaming exact dedup: keep the first arrival per key within
    the watermark horizon (the streaming face of
    functions.dedup.exact_dedup).

    State holds one entry per key seen and is evicted once the
    watermark passes — bounded memory under any input rate, which is
    the contract that lets this run forever on the collector feed.
    """
    keys = keys or ["event_id"]
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def enrich_with_dim(stream: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static join: each micro-batch joins the (small) static
    dimension. Spark broadcasts the static side per batch — no
    stateful join state, no watermark requirement; the standard way to
    decorate an event stream with reference data."""
    return stream.join(F.broadcast(dim), on)


def run_stream_to_parquet(stream_df: DataFrame, path: str, checkpoint: str):
    """Drive a stream into parquet via foreachBatch with a checkpoint.

    Exactly-once comes from idempotent replay: each batch overwrites
    its own ``batch_id=N`` subdirectory, so a batch re-run after a
    crash-before-checkpoint-commit replaces its earlier partial output
    instead of appending duplicates. Readers of ``path`` see batch_id
    as an extra partition column. Processes everything currently
    available, then stops."""

    def write_batch(batch_df: DataFrame, batch_id: int):
        batch_df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .queryName(f"run_stream_to_parquet_{os.path.basename(os.path.normpath(checkpoint))}")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


