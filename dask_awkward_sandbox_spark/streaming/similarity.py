"""Streaming maintenance of the materialized IVF index: new vectors
arriving on a stream are coarse-quantized per micro-batch and appended
into the partition-pruned index layout that
``functions.similarity.ivf_write_index`` materializes in batch — the
continuous-ingest face of the ANN serving path.

Exactly-once: each micro-batch writes under its own ``batch_id=N``
partition with DYNAMIC partition overwrite, so a batch replayed after
a crash-before-checkpoint-commit replaces its earlier partial output
instead of double-appending (the same idempotent-replay contract as
``streaming.events.run_stream_to_parquet``). Probes read the whole
directory and partition-prune on ``list_id`` exactly as against the
batch-built index — ``batch_id`` is just one more partition level.

The coarse quantizer is FROZEN at stream start (centroids passed in):
re-clustering online would silently re-map list ids mid-stream; the
production pattern is periodic batch re-trains that rewrite the index
(ivf_write_index) and a stream restart against the new centroids.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_awkward_sandbox_spark.functions.similarity import (
    as_double,
    assign_nearest_centroid,
    norm,
)


def stream_ivf_append(
    stream: DataFrame,
    centroids: list[list[float]],
    path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = None,
):
    """Drive a vector stream into the IVF index directory. Processes
    everything currently available (Trigger.AvailableNow), then stops;
    call again as new data lands, or swap the trigger for continuous
    ingest."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        idx = (
            batch_df.select(
                F.col(id_col).alias("nb_id"),
                as_double(F.col(vec_col)).alias("nb_vec"),
            )
            .withColumn(
                "list_id",
                assign_nearest_centroid(F.col("nb_vec"), centroids, round_digits),
            )
            .withColumn("nb_norm", norm(F.col("nb_vec")))
            .withColumn("batch_id", F.lit(batch_id))
        )
        (
            idx.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "list_id")
            .parquet(path)
        )

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .queryName(f"stream_ivf_append_{os.path.basename(os.path.normpath(checkpoint))}")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
