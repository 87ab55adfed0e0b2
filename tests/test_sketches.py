"""heavy_hitters: exact counts over raw rows, and the same answer
from a count rollup through ``weight_col`` (counts re-aggregate
losslessly)."""

from __future__ import annotations

import os

SF_DIR = os.environ.get("DWAX_TEST_SF", "/root/testdata/sf0.01")


def _li(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


def test_heavy_hitters_exact(spark):
    from dask_awkward_sandbox_spark.functions import sketches as sk

    li = _li(spark)
    got = {
        r["value"]: r["n"]
        for r in sk.heavy_hitters(li, "l_returnflag", min_fraction=0.1).collect()
    }
    pdf = li.groupBy("l_returnflag").count().toPandas()
    n = pdf["count"].sum()
    want = {
        r["l_returnflag"]: r["count"]
        for _, r in pdf.iterrows()
        if r["count"] > n * 0.1
    }
    assert got == want


def test_heavy_hitters_weight_col_matches_raw(spark):
    """A count rollup re-aggregates losslessly: heavy_hitters over the
    raw rows equals heavy_hitters over groupBy(key) -> n_rows with
    weight_col="n_rows", null keys included as their own value."""
    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark.functions import sketches as sk

    keys = ["a"] * 5 + ["b"] * 3 + [None] * 4 + ["c"]
    raw = spark.createDataFrame([(k,) for k in keys], "k string")
    rollup = raw.groupBy("k").agg(F.count(F.lit(1)).alias("n_rows"))
    got_raw = [tuple(r) for r in sk.heavy_hitters(raw, "k", min_fraction=0.1).collect()]
    got_rollup = [
        tuple(r)
        for r in sk.heavy_hitters(rollup, "k", min_fraction=0.1, weight_col="n_rows").collect()
    ]
    assert got_raw == [("a", 5, 5 / 13), (None, 4, 4 / 13), ("b", 3, 3 / 13)]
    assert got_rollup == got_raw


def test_heavy_hitters_all_null_weights_dropped(spark):
    """F.sum over a group whose weights are all null is null, not 0, so
    the threshold filter drops that group and the total ignores it."""
    from dask_awkward_sandbox_spark.functions import sketches as sk

    df = spark.createDataFrame(
        [("a", 5), ("b", 3), ("z", None), ("z", None)], "k string, w long"
    )
    got = [tuple(r) for r in sk.heavy_hitters(df, "k", min_fraction=0.0, weight_col="w").collect()]
    assert got == [("a", 5, 5 / 8), ("b", 3, 3 / 8)]
