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


def run_stream_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Drive a streaming DF to a memory sink until all input is
    consumed; returns the in-memory table name.

    Uses Trigger.AvailableNow: the query processes everything the
    source currently has and then terminates itself. This matters for
    stateful operators with ProcessingTimeTimeout, where the default
    trigger schedules empty micro-batches forever to poll for timed-out
    state, so ``processAllAvailable()`` never observes an idle query."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return name


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


def stream_stream_attribution_join(
    stream: DataFrame,
    first_type: str = "view",
    then_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream INTERVAL join: attribute each ``then_type`` event
    to every ``first_type`` event by the same user in the preceding
    ``within`` window — the canonical attribution shape (view ->
    purchase), expressed as two watermarked streams over the same
    source.

    Scale/state contract: both sides carry a watermark and the join
    condition bounds event-time distance, so Spark evicts buffered
    rows once the watermark passes their join horizon — state is
    O(rate x within), never unbounded. The equi-part of the condition
    (user_id) is the shuffle key; the range part prunes in-state.
    Inner joins under AvailableNow are exactly the batch interval
    join, which is the pytest oracle."""
    v = (
        stream.filter(F.col("event_type") == first_type)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("v_event"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    p = (
        stream.filter(F.col("event_type") == then_type)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("p_event"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    return v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {within}")),
    ).select(
        F.col("v_user").alias("user_id"),
        "v_event",
        "p_event",
        F.unix_micros("v_ts").alias("v_us"),
        F.unix_micros("p_ts").alias("p_us"),
    )


def streaming_rollup(
    stream: DataFrame,
    ts_col: str,
    grain: str,
    measures: dict,
    group_by: list[str] | None = None,
    distinct_cols: list[str] | None = None,
    watermark: str = "1 hour",
    lg_k: int = 12,
):
    """Continuous-aggregate maintenance: the streaming face of
    functions.rollup.rollup_once. Incoming events fold into
    time-bucketed rollup rows as they arrive; the watermark bounds
    both late-data admission and per-bucket state lifetime (a bucket
    finalizes once the watermark passes its end, exactly the window
    state contract). Distinct counts are carried as HLL sketches, so
    the emitted rollup table cascades upward with
    functions.rollup-style re-aggregation — write the finest grain
    from the stream, derive day/month/year in batch without touching
    raw events again.

    Measures use rollup.py's prefix contract (sum_/min_/max_/n_) so
    the emitted table is cascade-ready; validated before the stream
    starts, not at runtime.
    """
    from dask_awkward_sandbox_spark.functions.rollup import (
        _reagg_column,
        time_bucket,
    )

    for name in measures:
        _reagg_column(name)  # fail before the query launches
    aggs = [expr.alias(name) for name, expr in measures.items()]
    aggs.append(F.count(F.lit(1)).alias("n_rows"))
    for c in distinct_cols or []:
        aggs.append(F.hll_sketch_agg(F.col(c), F.lit(lg_k)).alias(f"hll_{c}"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            time_bucket(F.col(ts_col), grain).alias("bucket"),
            *(group_by or []),
        )
        .agg(*aggs)
    )
