"""int8 scalar quantization (functions/similarity.py sq_*): the 4x
memory lever beside PQ's dim*8/m — per-dim affine codes with a hard
reconstruction error bound.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_awkward_sandbox_spark.functions import similarity as sim

SF = "/root/testdata/sf0.001"


def test_roundtrip_error_bound(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    lo, hi = sim.sq_train(emb, "embedding", "vec_id")
    dec = emb.select(
        "vec_id",
        sim.as_double(F.col("embedding")).alias("v"),
        sim.sq_decode(
            sim.sq_encode(sim.as_double(F.col("embedding")), lo, hi), lo, hi
        ).alias("d"),
    )
    worst = dec.select(
        F.aggregate(
            F.zip_with("v", "d", lambda a, b: F.abs(a - b)),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ).alias("e")
    ).agg(F.max("e")).collect()[0][0]
    # trained on the full corpus (sample covers it), so no clamping:
    # worst-case error is half a code step = span/510 per dim
    bound = max((h - l) / 510.0 for l, h in zip(lo, hi)) + 1e-12
    assert worst <= bound


def test_codes_range_and_degenerate_dim(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 5.0]), (1, [3.0, 5.0]), (2, [2.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    lo, hi = sim.sq_train(df, "embedding", "vec_id")
    rows = df.select(
        sim.sq_encode(F.col("embedding"), lo, hi).alias("c"),
        sim.sq_decode(sim.sq_encode(F.col("embedding"), lo, hi), lo, hi).alias("d"),
    ).collect()
    for r in rows:
        assert all(0 <= c <= 255 for c in r["c"])
        # dim 1 is constant in the sample -> codes 0, decodes to lo
        assert r["c"][1] == 0 and r["d"][1] == 5.0
    # out-of-range values clamp instead of wrapping
    probe = spark.createDataFrame(
        [(9, [-100.0, 999.0])], "vec_id long, embedding array<double>"
    ).select(sim.sq_encode(F.col("embedding"), lo, hi).alias("c")).collect()[0]["c"]
    assert probe[0] == 0 and probe[1] == 255
