"""Streaming NEAR-duplicate dedup: MinHash-LSH against a growing
bucket store — the production shape for "drop documents similar to
anything already ingested" on a continuous feed (the streaming face
of ``functions.dedup.minhash_band_buckets``; the exact-dup analogue
is ``streaming.events.stream_dedup_exact``).

Per micro-batch:

1. signatures + LSH band buckets for the batch (scan-side, no
   shuffle);
2. candidates = batch buckets joined against the STORE of kept docs'
   buckets (batch side broadcast — the store side, the 100 TB side,
   never shuffles) plus the batch's own smaller-id docs;
3. verification = minhash signature agreement >= ``min_match``
   (state stays narrow: signatures, never raw text);
4. decisions land in ``out_path/batch_id=N``; KEPT docs' buckets are
   appended to ``store_path/batch_id=N``. Both writes dynamic-
   overwrite their own batch_id partition, and the store read
   filters ``batch_id < current`` — so a batch replayed after a
   crash-before-checkpoint-commit cannot see its own earlier partial
   write (which would make every doc match "itself" and drop the
   whole batch). Idempotent replay = exactly-once decisions.

Dedup contract (deterministic, replayed by the pure-python reference
in tests): a doc is dropped iff some band bucket pairs it with a
stored kept doc, or with a smaller-id doc of its own batch, whose
signature agrees on >= ``min_match`` of the permutations. Like the
batch cluster collapse this can drop transitively-linked docs whose
direct keeper was itself dropped — near-dup dedup semantics, not
exact grouping.

State growth is O(kept docs), not O(stream length): duplicates are
never added to the store.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_awkward_sandbox_spark.functions.dedup import minhash_signature


def _batch_state(batch_df: DataFrame, text_col: str, id_col: str,
                 num_perms: int, bands: int,
                 spread: int | None = None) -> DataFrame:
    """One row per doc: (doc, sig array<long>, bks array<struct<band,key>>).
    Token-less docs carry no LSH signal (same exclusion as the batch
    operator) and pass through as keepers with empty buckets.

    r14 (verdict item 2 — this was 70%+ of q_stream_dedup's wall):
    ONE signature pass. The old shape called minhash_signature AND
    minhash_band_buckets (which recomputes the signature internally),
    then exploded + groupBy'd + joined the buckets back — the 16-perm
    interpreted fold ran TWICE per batch plus a shuffle and a join,
    all pinned to one core by the single-file micro-batch. Now the
    band keys and the sig array are built IN-ROW off one
    minhash_signature projection (the two-step select is the
    evaluation barrier: each minhash_i is referenced by both the sig
    array and a band md5, and CollapseProject refuses to inline the
    non-cheap fold into multiple upper references, so each perm
    evaluates once), with no shuffle at all. ``spread`` repartitions
    the batch first — a file-source micro-batch is as parallel as its
    file count, and KB-scale demo batches arrive as ONE file (the
    plans/llm.py _spread lesson); production batches with many files
    can leave it None."""
    if spread:
        batch_df = batch_df.repartition(spread)
    sigf = minhash_signature(batch_df.select(id_col, text_col), text_col, num_perms)
    rows = num_perms // bands
    band_cols = []
    for bi in range(bands):
        parts = [F.col(f"minhash_{bi * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(F.lit(bi).alias("band"), F.md5(F.concat_ws("_", *parts)).alias("key"))
        )
    empty = F.expr("array()").cast("array<struct<band:int,key:string>>")
    return sigf.select(
        F.col(id_col).alias("doc"),
        F.array(*[f"minhash_{i}" for i in range(num_perms)]).alias("sig"),
        F.when(F.col("minhash_0").isNotNull(), F.array(*band_cols))
        .otherwise(empty)
        .alias("bks"),
    )


def sig_match(a, b, num_perms: int):
    """Fraction of agreeing permutations between two signatures."""
    return (
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(float(num_perms))
    )


def stream_neardup_dedup(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = 16,
    bands: int = 4,
    min_match: float = 0.75,
    spread: int | None = None,
) -> None:
    """Drive a document stream through LSH near-dup dedup. Processes
    everything currently available (Trigger.AvailableNow) then stops;
    rerun as data lands, or swap the trigger for continuous ingest.
    ``spread`` re-parallelizes each micro-batch before the signature
    fold (see :func:`_batch_state`) — set it when batches arrive as a
    handful of files."""
    spark = stream.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        st = _batch_state(batch_df, text_col, id_col, num_perms, bands,
                          spread=spread)
        st.persist()
        try:
            bkts = st.select(
                "doc", "sig", F.explode("bks").alias("bk")
            ).select("doc", "sig", "bk.band", "bk.key")
            if os.path.isdir(store_path):
                # explicit schema (r7 ADVICE): an early batch that
                # keeps no bucketed docs writes a store dir holding
                # only _SUCCESS, and schema INFERENCE over it throws
                # ("Unable to infer schema"), crashing the stream.
                # The store schema is the kept-buckets schema +
                # the batch_id partition column.
                store_schema = (
                    bkts.select("doc", "sig", "band", "key")
                    .withColumn("batch_id", F.lit(0).cast("long"))
                    .schema
                )
                stored = spark.read.schema(store_schema).parquet(store_path).filter(
                    F.col("batch_id") < batch_id
                )
            else:  # first batch: no store yet
                stored = None
            m = sig_match(F.col("_new_sig"), F.col("_old_sig"), num_perms)
            new_side = bkts.select(
                F.col("doc").alias("_new"),
                F.col("sig").alias("_new_sig"),
                "band",
                "key",
            )
            matches = []
            if stored is not None:
                prior = (
                    stored.select(
                        F.col("doc").alias("_old"),
                        F.col("sig").alias("_old_sig"),
                        "band",
                        "key",
                    )
                    # store side stays un-shuffled: broadcast the batch
                    .join(F.broadcast(new_side), ["band", "key"])
                    .filter(F.col("_old") != F.col("_new"))
                    .select("_new", "_new_sig", "_old", "_old_sig")
                )
                matches.append(prior)
            within = (
                new_side.alias("a")
                .join(
                    new_side.select(
                        F.col("_new").alias("_old"),
                        F.col("_new_sig").alias("_old_sig"),
                        "band",
                        "key",
                    ).alias("b"),
                    ["band", "key"],
                )
                .filter(F.col("_old") < F.col("_new"))
                .select("_new", "_new_sig", "_old", "_old_sig")
            )
            matches.append(within)
            allm = matches[0]
            for x in matches[1:]:
                allm = allm.unionByName(x)
            dup_of = (
                allm.filter(m >= min_match)
                .groupBy("_new")
                .agg(F.min("_old").alias("dup_of"))
            )
            decisions = (
                st.select("doc", "sig", "bks")
                .join(dup_of, st["doc"] == dup_of["_new"], "left")
                .select(
                    "doc",
                    "sig",
                    "bks",
                    F.col("dup_of").isNotNull().alias("is_dup"),
                    "dup_of",
                )
            )
            decisions.persist()
            try:
                (
                    decisions.select("doc", "is_dup", "dup_of")
                    # long to match the declared read schema above —
                    # partition values are re-parsed from directory
                    # names, but the stamped type should agree anyway
                    .withColumn("batch_id", F.lit(batch_id).cast("long"))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .parquet(out_path)
                )
                kept_bkts = (
                    decisions.filter(~F.col("is_dup"))
                    .select("doc", "sig", F.explode("bks").alias("bk"))
                    .select("doc", "sig", "bk.band", "bk.key")
                    .withColumn("batch_id", F.lit(batch_id).cast("long"))
                )
                (
                    kept_bkts.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .parquet(store_path)
                )
            finally:
                decisions.unpersist()
        finally:
            st.unpersist()

    q = (
        stream.writeStream.foreachBatch(process)
        .queryName(f"stream_neardup_dedup_{os.path.basename(os.path.normpath(checkpoint))}")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
