"""Sketch operators: estimates within published error bounds vs the
exact answers DuckDB/Spark compute at test scale, and the mergeable-
rollup contract (per-group sketches union to the whole-table answer)."""

from __future__ import annotations

import os

SF_DIR = os.environ.get("DWAX_TEST_SF", "/root/testdata/sf0.01")


def _li(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


def test_approx_distinct_within_rsd(spark):
    from dask_awkward_sandbox_spark.functions import sketches as sk

    li = _li(spark)
    exact = li.select("l_partkey").distinct().count()
    est = sk.approx_distinct(li, "l_partkey", rsd=0.05).collect()[0][0]
    assert abs(est - exact) <= 4 * 0.05 * exact, (est, exact)


def test_approx_distinct_grouped(spark):
    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark.functions import sketches as sk

    li = _li(spark)
    est = {
        r["l_returnflag"]: r["approx_distinct"]
        for r in sk.approx_distinct(li, "l_orderkey", ["l_returnflag"]).collect()
    }
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k in exact:
        assert abs(est[k] - exact[k]) <= 4 * 0.05 * exact[k], (k, est[k], exact[k])


def test_hll_rollup_merges_to_whole(spark):
    """The 100 TB pattern: per-group sketch table rolls up to the
    whole-table distinct WITHOUT rescanning — merged estimate must
    agree with the direct whole-table sketch exactly (same registers)
    and with the exact count within HLL error."""
    from dask_awkward_sandbox_spark.functions import sketches as sk

    li = _li(spark)
    per_flag = sk.hll_rollup(li, "l_partkey", ["l_returnflag"], lg_k=14)
    merged = sk.hll_merge(per_flag).collect()[0][0]
    direct = sk.hll_merge(sk.hll_rollup(li, "l_partkey", [], lg_k=14).selectExpr(
        "hll"
    )).collect()[0][0]
    assert merged == direct, (merged, direct)
    exact = li.select("l_partkey").distinct().count()
    assert abs(merged - exact) <= 0.05 * exact, (merged, exact)


def test_approx_quantiles_rank_error(spark):
    from dask_awkward_sandbox_spark.functions import sketches as sk

    li = _li(spark)
    probs = [0.1, 0.5, 0.9]
    acc = 1000
    qs = sk.approx_quantiles(li, "l_extendedprice", probs, accuracy=acc).collect()[0][0]
    n = li.count()
    vals = [r[0] for r in li.select("l_extendedprice").collect()]
    vals.sort()
    for p, q in zip(probs, qs):
        import bisect

        lo = bisect.bisect_left(vals, q)
        hi = bisect.bisect_right(vals, q)
        target = p * n
        slack = 2.0 * n / acc + 1
        assert lo - slack <= target <= hi + slack, (p, q, lo, hi, target)


def test_count_min_binary(spark):
    from dask_awkward_sandbox_spark.functions import sketches as sk

    out = sk.count_min(_li(spark), "l_partkey").collect()[0][0]
    assert isinstance(out, (bytes, bytearray)) and len(out) > 0


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


def test_cms_point_query_long_and_string(spark):
    """cms_query decodes Spark's count_min_sketch binary (long + string
    hashing reverse-verified against planted exact counts): estimates
    are never below the true count and absent keys stay near zero."""
    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark.functions import sketches as sk

    df = spark.createDataFrame(
        [(i % 10, f"k{i % 7}") for i in range(1000)], "x long, s string"
    )
    lb = bytes(sk.count_min(df, "x", eps=0.005, confidence=0.99).collect()[0][0])
    for v in range(10):
        assert sk.cms_query(lb, v) == 100
    assert sk.cms_query(lb, 424242) <= 0.005 * 1000

    sb = bytes(
        df.agg(
            F.count_min_sketch("s", F.lit(0.005), F.lit(0.99), F.lit(7)).alias("c")
        ).collect()[0][0]
    )
    want = {f"k{i}": (1000 // 7 + (1 if i < 1000 % 7 else 0)) for i in range(7)}
    for k, n in want.items():
        assert sk.cms_query(sb, k) == n, (k, sk.cms_query(sb, k), n)
    assert sk.cms_query(sb, "absent") <= 0.005 * 1000


def test_cms_query_real_column(spark):
    """On real data the estimate must be >= the exact count for every
    key and within eps*N of it."""
    import os

    from dask_awkward_sandbox_spark.functions import sketches as sk

    sf = os.environ.get("DWAX_TEST_SF", "/root/testdata/sf0.01")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    n = li.count()
    b = bytes(sk.count_min(li, "l_suppkey", eps=0.001, confidence=0.99).collect()[0][0])
    exact = {r["l_suppkey"]: r["count"] for r in li.groupBy("l_suppkey").count().collect()}
    for k, c in list(exact.items())[:50]:
        est = sk.cms_query(b, k)
        assert c <= est <= c + 0.001 * n, (k, c, est)
