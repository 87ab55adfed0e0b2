"""Streaming corpus-curation scoring — the continuous-ingest shape of
the batch curation suite (functions/text_analysis.py /
quality_filters.py).

Reference parity: the reference has no streaming engine; this is the
LLM-data-pipeline face the repo adds on Structured Streaming (SURVEY
§2 streaming block). The curation expressions are scan-side Catalyst
trees, so they ride each micro-batch unchanged — what this module
adds is the DELIVERY contract: an idempotent, exactly-once scored
sink. Each micro-batch writes its scores partitioned by batch_id
with dynamic partition overwrite, so a replay from a fresh
checkpoint (every batch re-delivered) overwrites its own partitions
instead of duplicating rows — the same contract stream_ivf_append
pins for the vector index, here for the document-scoring pipeline.

At 100 TB ingest: stateless per-document scoring has no state store
at all — each micro-batch is a pure projection, the sink partition
count grows with batches (compact periodically), and the scoring
expressions are the SAME whole-stage-codegen trees the batch pipeline
uses, so batch and stream can never drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_awkward_sandbox_spark.functions import text_analysis as ta
from dask_awkward_sandbox_spark.streaming.events import (
    drive_batches,
    write_batch_partition,
)


def stream_curation_scores(
    stream: DataFrame,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Drive a document stream through the curation projection into an
    idempotent scored sink. Processes everything currently available
    (Trigger.AvailableNow) then stops; call again as data lands.

    Output columns per document: whitespace token count ``n_ws``,
    language-ID ``pred_lang``, quality score ``quality``,
    position-weighted fingerprint ``fp``, and the micro-batch id
    ``batch_id`` it arrived in.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # two-step select: tokenize ONCE per row (CollapseProject
        # refuses to inline the non-cheap split into the three
        # downstream references — the q_text_metrics pattern)
        tokd = batch_df.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("_text"),
            ta.tokens(F.col(text_col)).alias("_toks"),
        )
        scored = tokd.select(
            "doc_id",
            F.size("_toks").cast("long").alias("n_ws"),
            ta.lang_id(F.col("_text")).alias("pred_lang"),
            ta.quality_score_tokens(F.col("_toks"), F.col("_text")).alias(
                "quality"
            ),
            ta.fingerprint_tokens(F.col("_toks")).alias("fp"),
        )
        write_batch_partition(scored, batch_id, out_path)

    drive_batches(stream, write_batch, "stream_curation_scores", checkpoint)
