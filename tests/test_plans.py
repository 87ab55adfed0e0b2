"""Physical-plan assertions: the scale-design claims of SURVEY §4,
checked against what Catalyst actually produces.

These are the local[32] stand-ins for 100 TB behavior: a filter that
reaches the parquet scan here is the same PushedFilters at any scale;
a broadcast join on a dim table here is the same absence of a
fact-table shuffle there.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = _physical(df)
    assert "PushedFilters: [" in plan and "GreaterThan(l_quantity" in plan, plan


def test_column_pruning_in_read_schema(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.select("l_orderkey", "l_quantity")
    plan = _physical(df)
    # ReadSchema carries only the projected leaves
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_extendedprice" not in rs and "l_comment" not in rs, rs


def _nested_parquet(spark):
    import os

    from dask_awkward_sandbox_spark.plans.common import order_items
    from dask_awkward_sandbox_spark.session import SCRATCH

    path = os.path.join(SCRATCH, "plans", "nested_items")
    if not os.path.exists(path):
        order_items(spark, SF).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_nested_schema_pruning(spark):
    """Projecting one nested leaf through fld() must prune the parquet
    ReadSchema to that leaf — the reference's necessary-columns
    optimization, done by Catalyst. fld uses GetArrayStructFields
    because pruning cannot see through a transform lambda; the second
    assertion documents that trap staying real."""
    from dask_awkward_sandbox_spark.plans.common import fld

    back = _nested_parquet(spark)
    df = back.select("l_orderkey", fld(F.col("items"), "l_quantity").alias("qs"))
    rs = _physical(df).split("ReadSchema:")[1].splitlines()[0]
    assert "l_quantity" in rs
    assert "l_extendedprice" not in rs and "l_returnflag" not in rs, rs

    lam = back.select(
        "l_orderkey", F.transform("items", lambda s: s["l_quantity"]).alias("qs")
    )
    rs_lam = _physical(lam).split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in rs_lam, "lambda now prunes — fld() can simplify"


def test_dim_joins_broadcast_no_fact_shuffle(spark):
    """q3/q5-style dim joins must broadcast: the fact table may only
    shuffle for its aggregation, never for the join."""
    from dask_awkward_sandbox_spark.plans.tpch import q3_shipping_priority

    plan = _physical(q3_shipping_priority(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_whole_stage_codegen_covers_hof_pipeline(spark):
    """The axis=1 operator chain (transform/aggregate folds) over a
    materialized nested collection must stay entirely JVM-side: a
    codegen'd columnar scan (the ``*(N)`` region) feeding Catalyst
    expressions — never a Python eval node. (HOF lambdas themselves
    run as JVM expressions outside the codegen region; that's Spark's
    design, and still ~100x from row-at-a-time Python.)"""
    from dask_awkward_sandbox_spark.plans.common import cents, fld
    from dask_awkward_sandbox_spark.operators import reducers as red

    back = _nested_parquet(spark)
    qty = F.transform(fld(F.col("items"), "l_quantity"), cents)
    df = back.select("l_orderkey", red.sum(qty).alias("s"), red.max(qty).alias("m"))
    plan = _physical(df)
    assert "*(" in plan, plan  # codegen'd scan stage
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "aggregate(" in plan and "transform(" in plan, plan  # JVM HOFs


def test_partial_aggregation_before_shuffle(spark):
    """q1-style global agg must map-side combine (partial_ functions
    below the exchange) so the shuffle moves one row per group per
    task, not the table."""
    from dask_awkward_sandbox_spark.plans.tpch import q1_pricing_summary

    plan = _physical(q1_pricing_summary(spark, SF))
    assert "partial_" in plan, plan


def test_events_scan_prunes_and_pushes(spark):
    from dask_awkward_sandbox_spark.plans.common import read

    e = read(spark, SF, "events").filter(F.col("event_type") == "click").select(
        "event_id", "event_type"
    )
    plan = _physical(e)
    assert "PushedFilters: [" in plan and "EqualTo(event_type,click)" in plan, plan


def test_bucketed_nested_build_is_shuffle_free(spark):
    """Pre-bucketing lineitem on l_orderkey makes the nested
    collect_list build Exchange-free: the table layout already IS the
    hash partitioning the aggregation needs (SURVEY §4's 100 TB play —
    pay the shuffle once at write, never again)."""
    from dask_awkward_sandbox_spark.io import from_table, to_bucketed_table

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    to_bucketed_table(li, "li_bucketed", "l_orderkey", num_buckets=8)
    try:
        nested = (
            from_table(spark, "li_bucketed")
            .groupBy("l_orderkey")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("l_linenumber", "l_quantity"))
                ).alias("items")
            )
        )
        plan = _physical(nested)
        assert "Exchange" not in plan, plan
        # same aggregation over the plain parquet DOES shuffle
        plain = li.groupBy("l_orderkey").agg(
            F.array_sort(F.collect_list(F.struct("l_linenumber", "l_quantity"))).alias(
                "items"
            )
        )
        assert "Exchange" in _physical(plain)
        assert nested.count() == plain.count()
    finally:
        spark.sql("drop table if exists li_bucketed")


def test_salted_join_correct_and_scattered(spark):
    """salted_join must produce exactly the plain-join result while
    scattering a hot key across the salt space (the skew remedy when
    one key would pin a single reducer)."""
    from dask_awkward_sandbox_spark.operators.joins import salted_join

    # 10k rows of one hot key + a long tail
    big = spark.range(10_000).select(
        F.when(F.col("id") < 9_000, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.createDataFrame(
        [(1, "hot"), (9500, "cold")], "k long, label string"
    )
    got = salted_join(big, small, "k", salts=8)
    plain = big.join(small, "k")
    assert got.count() == plain.count() == 9_001
    assert (
        got.groupBy("label").count().orderBy("label").collect()
        == plain.groupBy("label").count().orderBy("label").collect()
    )
    # the hot key's rows occupy multiple salt values
    salt = F.pmod(F.xxhash64("k", "payload"), F.lit(8))
    n_salts = (
        big.filter(F.col("k") == 1).select(salt.alias("s")).distinct().count()
    )
    assert n_salts == 8


def test_unflatten_has_no_single_partition_exchange(spark):
    """unflatten must not funnel rows through a global-window rank: no
    Exchange SinglePartition (one-task bottleneck) anywhere in the
    plan — ranks come from per-partition offsets computed in parallel."""
    from dask_awkward_sandbox_spark.operators.structure import unflatten

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "n_chars")
    n = d.count()
    counts = [0, n // 2, 0, n - n // 2 - n // 4, n // 4]
    out = unflatten(d, "n_chars", "doc_id", counts)
    # zero-count groups are present as empty lists (ak parity)
    rows = {r["gid"]: r["n_chars"] for r in out.collect()}
    assert rows[0] == [] and rows[2] == []
    assert sum(len(v) for v in rows.values()) == n
    # counts mismatch raises instead of silently dropping rows
    try:
        unflatten(d, "n_chars", "doc_id", [1])
        raise AssertionError("expected ValueError on counts mismatch")
    except ValueError:
        pass


def test_window_funcs_partitioned_no_global_exchange(spark):
    """q_window_funcs must hash-partition on user_id — never an
    Exchange SinglePartition (the global-window one-task funnel) — and
    the two window specs over the same keys must reuse ONE exchange.
    window_spec itself refuses an accidental global window."""
    import pytest as _pytest

    from dask_awkward_sandbox_spark.operators import windows as win
    from dask_awkward_sandbox_spark.plans.events import q_window_funcs

    plan = _physical(q_window_funcs(spark, SF))
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(user_id" in plan, plan
    assert plan.count("Exchange") == 1, plan

    with _pytest.raises(ValueError, match="partition"):
        win.window_spec([], ["ts"])


def test_reducers_propagate_nan(spark):
    """NaN is a value, not a missing marker: sum/mean/min/max/ptp go
    NaN, argmin/argmax return the first NaN index; nulls are skipped
    (ak option semantics)."""
    import math

    from dask_awkward_sandbox_spark.operators import reducers as red

    df = spark.createDataFrame(
        [(1, [1.0, float("nan"), 3.0, None]), (2, [2.0, None, 5.0])],
        "id long, v array<double>",
    )
    r = {
        row["id"]: row
        for row in df.select(
            "id",
            red.sum(F.col("v")).alias("s"),
            red.mean(F.col("v")).alias("mu"),
            red.min(F.col("v")).alias("mn"),
            red.max(F.col("v")).alias("mx"),
            red.ptp(F.col("v")).alias("p"),
            red.argmin(F.col("v")).alias("am"),
            red.argmax(F.col("v")).alias("ax"),
            red.count(F.col("v")).alias("n"),
        ).collect()
    }
    nanrow = r[1]
    assert all(math.isnan(nanrow[c]) for c in ["s", "mu", "mn", "mx", "p"])
    assert nanrow["am"] == 1 and nanrow["ax"] == 1  # first NaN index
    assert nanrow["n"] == 3  # NaN counted, null skipped
    ok = r[2]
    assert ok["s"] == 7.0 and ok["mn"] == 2.0 and ok["mx"] == 5.0
    assert ok["am"] == 0 and ok["ax"] == 2 and ok["n"] == 2


def test_corpus_curation_plan_shape(spark):
    """The curation slot must block-join, never cross: the benchmark
    gram join is a broadcast hash join and nothing in the plan is a
    cartesian/nested-loop product."""
    from dask_awkward_sandbox_spark.core import visualize
    from dask_awkward_sandbox_spark.plans import QUERIES

    plan = visualize(QUERIES["q_corpus_curation"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_reducer_moments_numpy_parity(spark):
    """var/std/moment keep direct value coverage after the r5 gate
    fusion (the fused slot re-derives the formulas rather than calling
    these reducers)."""
    import math

    import pytest

    from dask_awkward_sandbox_spark.operators import reducers as red

    vals = [2.0, 4.0, 4.0, 4.0, 5.0, 5.0, 7.0, 9.0]
    df = spark.createDataFrame([(vals,)], "v array<double>")
    r = df.select(
        red.var(F.col("v")).alias("var"),
        red.std(F.col("v")).alias("std"),
        red.moment(F.col("v"), 2).alias("m2"),
        red.moment(F.col("v"), 3).alias("m3"),
    ).first()
    n = len(vals)
    mu = sum(vals) / n
    assert r["var"] == pytest.approx(sum((x - mu) ** 2 for x in vals) / n)
    assert r["std"] == pytest.approx(math.sqrt(sum((x - mu) ** 2 for x in vals) / n))
    assert r["m2"] == pytest.approx(sum(x**2 for x in vals) / n)
    assert r["m3"] == pytest.approx(sum(x**3 for x in vals) / n)


def test_partitioned_write_prunes_partitions(spark):
    """Directory-partitioned parquet + an equality filter on the
    partition column must show PartitionFilters in the scan and read
    only the matching directory — free partition pruning at any scale."""
    import os

    from dask_awkward_sandbox_spark.io import from_parquet, to_parquet
    from dask_awkward_sandbox_spark.plans.common import read
    from dask_awkward_sandbox_spark.session import SCRATCH

    path = os.path.join(SCRATCH, "plans", "events_by_type")
    if not os.path.exists(path):
        to_parquet(read(spark, SF, "events"), path, partition_by=["event_type"])
    back = from_parquet(spark, path).filter(F.col("event_type") == "click")
    plan = _physical(back)
    assert "PartitionFilters: [" in plan and "event_type" in plan.split("PartitionFilters:")[1].splitlines()[0], plan
    n_click = back.count()
    assert n_click == read(spark, SF, "events").filter(F.col("event_type") == "click").count()


def test_axis0_positional_reducers(spark):
    """ak.sum/any/all/count/min/max/mean(axis=0) parity on a ragged
    collection (reference tests/test_reducers.py axis=0 cases) — the
    positional reduce across rows, nulls skipped."""
    from dask_awkward_sandbox_spark.operators import reducers as red

    rows = [
        (1, [1.0, 2.0, 3.0]),
        (2, [10.0]),
        (3, []),
        (4, [5.0, None]),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    a = F.col("v")
    assert red.sum_axis0(df, a).first()["sum0"] == [16.0, 2.0, 3.0]
    assert red.count_axis0(df, a).first()["count0"] == [3, 1, 1]
    assert red.min_axis0(df, a).first()["min0"] == [1.0, 2.0, 3.0]
    assert red.max_axis0(df, a).first()["max0"] == [10.0, 2.0, 3.0]
    assert red.mean_axis0(df, a).first()["mean0"] == [16.0 / 3, 2.0, 3.0]

    bdf = spark.createDataFrame(
        [(1, [True, False]), (2, [True, None]), (3, [True])],
        "id long, v array<boolean>",
    )
    assert red.any_axis0(bdf, F.col("v")).first()["any0"] == [True, False]
    assert red.all_axis0(bdf, F.col("v")).first()["all0"] == [True, False]


def test_axis0_partial_aggregation_plan(spark):
    """The positional agg must partial-aggregate map-side: a
    HashAggregate appears BELOW the exchange, so position 0 (which
    holds one element per row) never funnels raw rows to a reducer."""
    from dask_awkward_sandbox_spark.core import visualize
    from dask_awkward_sandbox_spark.operators import reducers as red
    from dask_awkward_sandbox_spark.plans.common import order_items

    it = order_items(spark, SF, fields=["l_linenumber", "l_quantity"])
    plan = visualize(red.sum_axis0(it, F.col("items").getField("l_quantity")))
    first_ex = plan.find("Exchange")
    assert first_ex > 0 and "HashAggregate" in plan[:first_ex]


def test_reducer_keepdims_mask_identity(spark):
    """The reference's keepdims / mask_identity reducer modifiers
    (parametrized across reference tests/test_reducers.py): keepdims
    wraps in a 1-list; mask_identity nulls the empty-list identity;
    a NULL list stays null under every combination."""
    from dask_awkward_sandbox_spark.operators import reducers as red

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, []), (3, None), (4, [None])],
        "id long, v array<double>",
    )
    a = F.col("v")
    r = {
        row["id"]: row
        for row in df.select(
            "id",
            red.sum(a).alias("s"),
            red.sum(a, keepdims=True).alias("sk"),
            red.sum(a, mask_identity=True).alias("sm"),
            red.min(a).alias("mn"),
            red.min(a, mask_identity=False).alias("mnf"),
            red.max(a, mask_identity=False, keepdims=True).alias("mxfk"),
            red.any(a, mask_identity=True).alias("anym"),
            red.count(a, keepdims=True).alias("ck"),
        ).collect()
    }
    assert r[1]["s"] == 3.0 and r[1]["sk"] == [3.0] and r[1]["sm"] == 3.0
    assert r[2]["s"] == 0.0          # identity
    assert r[2]["sm"] is None        # masked identity
    assert r[2]["sk"] == [0.0]
    assert r[1]["mn"] == 1.0 and r[2]["mn"] is None
    assert r[2]["mnf"] == float("inf")   # unmasked identity
    assert r[2]["mxfk"] == [float("-inf")]
    assert r[3]["mnf"] is None           # NULL list stays null
    assert r[3]["s"] is None
    assert r[2]["anym"] is None and r[1]["anym"] is True
    assert r[1]["ck"] == [2] and r[4]["ck"] == [0]


def test_asof_join(spark):
    """Backward as-of join, pandas merge_asof semantics: latest right
    row with ts <= left ts per key, equal-ts right row visible,
    unmatched lefts null, tolerance nulls stale matches. Plan check:
    no nested-loop product."""
    from dask_awkward_sandbox_spark.operators.joins import asof_join

    trades = spark.createDataFrame(
        [("A", 10, 100.0), ("A", 25, 101.0), ("B", 5, 50.0), ("B", 40, 51.0),
         ("C", 7, 70.0)],
        "sym string, ts long, px double",
    )
    quotes = spark.createDataFrame(
        [("A", 8, 99.5), ("A", 10, 99.9), ("A", 30, 100.5),
         ("B", 30, 49.5)],
        "sym string, ts long, bid double",
    )
    out = {
        (r["sym"], r["ts"]): (r["bid"], r["ts_r"])
        for r in asof_join(trades, quotes, on="ts", by="sym").collect()
    }
    assert out[("A", 10)] == (99.9, 10)   # equal-ts quote wins
    assert out[("A", 25)] == (99.9, 10)   # latest prior
    assert out[("B", 5)] == (None, None)  # nothing prior
    assert out[("B", 40)] == (49.5, 30)
    assert out[("C", 7)] == (None, None)  # key with no quotes at all

    tol = {
        (r["sym"], r["ts"]): r["bid"]
        for r in asof_join(trades, quotes, on="ts", by="sym", tolerance=5).collect()
    }
    assert tol[("A", 25)] is None         # 15 ticks stale > 5
    assert tol[("A", 10)] == 99.9         # 0 ticks
    assert tol[("B", 40)] is None         # 10 ticks stale

    from dask_awkward_sandbox_spark.core import visualize

    plan = visualize(asof_join(trades, quotes, on="ts", by="sym"))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_range_join(spark):
    """Bin-bucketed interval join: exact containment semantics, each
    match exactly once even when an interval spans many bins, and the
    plan is an equi-join (no nested-loop product)."""
    from dask_awkward_sandbox_spark.operators.joins import range_join

    pts = spark.createDataFrame(
        [("A", 5), ("A", 1500), ("A", 2500), ("B", 5)], "k string, p long"
    )
    ivs = spark.createDataFrame(
        [("A", 0, 2000, "wide"), ("A", 1400, 1600, "narrow"), ("B", 10, 20, "miss")],
        "k string, lo long, hi long, tag string",
    )
    got = {
        (r["k"], r["p"], r["tag"])
        for r in range_join(pts, ivs, "p", "lo", "hi", by="k", bin_width=500).collect()
    }
    assert got == {("A", 5, "wide"), ("A", 1500, "wide"), ("A", 1500, "narrow")}

    from dask_awkward_sandbox_spark.core import visualize

    plan = visualize(range_join(pts, ivs, "p", "lo", "hi", by="k", bin_width=500))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_asof_range_join_shuffle_counts(spark):
    """The scale claims, plan-asserted: asof_join is ONE shuffle of
    the union (single Exchange); range_join shuffles each side once
    (two Exchanges, both hash on the equi keys)."""
    from dask_awkward_sandbox_spark.core import visualize
    from dask_awkward_sandbox_spark.operators.joins import asof_join, range_join

    left = spark.range(100).select(
        (F.col("id") % 5).cast("string").alias("k"), F.col("id").alias("ts"),
        F.lit(1.0).alias("v"))
    right = spark.range(20).select(
        (F.col("id") % 5).cast("string").alias("k"), (F.col("id") * 3).alias("ts"),
        F.lit(2.0).alias("w"))

    import re

    def exchanges(plan: str) -> int:
        # formatted plans name each operator twice (tree + detail
        # header); count detail headers only
        return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))

    asof_plan = visualize(asof_join(left, right, on="ts", by="k"))
    assert exchanges(asof_plan) == 1

    rj = range_join(
        left.withColumnRenamed("ts", "p"), right.select(
            "k", F.col("ts").alias("lo"), (F.col("ts") + 5).alias("hi")),
        "p", "lo", "hi", by="k", bin_width=10)
    rj_plan = visualize(rj)
    # equi-join: at most one hash shuffle per side; tiny sides may
    # broadcast (zero shuffle exchanges) — the claim is NO product
    assert exchanges(rj_plan) <= 2
    assert "Join" in rj_plan and "NestedLoop" not in rj_plan


def test_asof_join_duckdb_cross_check(spark):
    """asof_join vs DuckDB's native ASOF JOIN on 2k random-ish rows —
    an independent engine agreeing on every (key, ts) match."""
    import duckdb

    trades = [(f"S{i % 7}", (i * 37) % 1000 + i, float(i)) for i in range(300)]
    quotes = [(f"S{i % 7}", (i * 53) % 900 + i, float(i) / 2) for i in range(200)]
    t = spark.createDataFrame(trades, "sym string, ts long, px double")
    q = spark.createDataFrame(quotes, "sym string, ts long, bid double")

    from dask_awkward_sandbox_spark.operators.joins import asof_join

    got = {
        (r["sym"], r["ts"]): (r["bid"], r["ts_r"])
        for r in asof_join(t, q, on="ts", by="sym").collect()
    }

    con = duckdb.connect()
    con.execute("create table t(sym varchar, ts bigint, px double)")
    con.execute("create table q(sym varchar, ts bigint, bid double)")
    con.executemany("insert into t values (?,?,?)", trades)
    con.executemany("insert into q values (?,?,?)", quotes)
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute("""
            select t.sym, t.ts, q.bid, q.ts
            from t asof left join q
              on t.sym = q.sym and t.ts >= q.ts
        """).fetchall()
    }
    assert len(got) == len(trades) and got == want


def test_runtime_bloom_filter_injects_on_selective_dim_join(spark):
    """Runtime bloom-filter join pruning (on by default in the
    session): a selective dim filter must inject a might_contain
    bloom probe on the FACT side so the shuffle carries only
    plausibly-matching rows — at 100 TB this is the difference
    between shuffling the whole fact table and shuffling the ~p_type
    fraction of it. The application-side size threshold (10 GB
    default — sized for clusters) is dropped for the assertion; the
    injection logic itself is what ships."""
    from pyspark.sql import functions as F

    sf = SF
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    from contextlib import ExitStack

    from dask_awkward_sandbox_spark.session import scoped_conf

    with ExitStack() as stack:
        for k, v in confs.items():
            stack.enter_context(scoped_conf(spark, k, v))
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        part = spark.read.parquet(f"{sf}/part.parquet").filter(
            F.col("p_type") == "PROMO"
        )
        j = (
            li.join(part, li.l_partkey == part.p_partkey)
            .groupBy("p_brand")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower() or "bloom" in plan.lower(), plan


def test_reduce_order_count_plan_is_join_free(spark):
    """The r8 fit-leg fusion contract: every fit quantity rides the
    single-pass struct accumulator, so the physical plan must hold NO
    per-row join (the r7 left-join shape tripled the slot's cost and
    was the only plan-unstable slot at sf1).

    r13 (verdict item 7): the sampled HOF twin relocated to
    q_parquet_roundtrip, so the slot is join-free AGAIN — the original
    r8 contract — with exactly ONE lineitem scan and no cache."""
    from dask_awkward_sandbox_spark.plans import QUERIES

    spark.catalog.clearCache()
    df = QUERIES["q_reduce_order_count"](spark, SF)
    plan = _physical(df)
    n_joins = sum(
        plan.count(op)
        for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert n_joins == 0, plan
    assert plan.count("Exchange") <= 3, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "InMemoryRelation" not in plan, plan


# r12 (verdict items 1+5): the gate re-coupling's scale contract.
# Per slot: (hint budget, lineitem/fact scan count, cache renders).
# Hint budget = ResolvedHint nodes allowed in the analyzed plan; only
# q_concatenate keeps any — two crossJoin attaches of 1-row GLOBAL
# aggregates, bounded at any scale (the r11 verdict's carve-out). The
# six r11-weak slots must carry ZERO hints: their sampled hof side is
# a fixed FRACTION of the data, and a hint-forced broadcast of a
# linearly-growing side OOMs at 100x where AQE would degrade to
# sort-merge. Scan counts pin the MEASURED faster form (SCALE_SF10
# hof_form_ab): two scans per nested slot (flat legs + hof twin — the
# single-persisted-scan form regressed every slot and was reverted),
# four for q_concatenate (its ak.concatenate leg IS a union of two
# filtered scans, plus the global-agg and hof legs);
# q_parquet_roundtrip keeps its
# ORDER-grained roundtrip-frame persist (five consumers), so there
# every roundtrip scan sits under the cache plus one naked lineitem
# scan for the mapInArrow legs.
# r13 (verdict item 7): the sort/reduce/cart twins moved into
# q_parquet_roundtrip, so their donors drop to ONE scan and the
# roundtrip slot carries the mp leg scan + three twin scans on top of
# its cached roundtrip branches (scans == caches + 4).
_HOF_SLOT_PLAN_BUDGET = {
    "q_flatten_softmax": (0, 2, 0),
    "q_sort_argsort": (0, 1, 0),
    "q_cartesian_combinations": (0, 1, 0),
    "q_pad_fill_none": (0, 2, 0),
    "q_reduce_order_count": (0, 1, 0),
    "q_concatenate": (2, 4, 0),
    "q_parquet_roundtrip": (0, None, None),  # scans == caches + 4
}


def test_hof_slots_scan_shape_no_forced_broadcast(spark):
    """The re-coupled slots' analyzed plans hold no broadcast hint
    beyond the inventoried bounded ones, and their executed plans
    carry exactly the scan/cache shape the A/B measurement picked."""
    from dask_awkward_sandbox_spark.plans import QUERIES

    for name, (hint_budget, n_scans, n_caches) in _HOF_SLOT_PLAN_BUDGET.items():
        spark.catalog.clearCache()
        df = QUERIES[name](spark, SF)
        qe = df._jdf.queryExecution()
        hints = qe.analyzed().toString().count("ResolvedHint")
        assert hints == hint_budget, (name, hints, hint_budget)
        phys = qe.executedPlan().toString()
        n_scan = phys.count("Scan parquet")
        n_cache = phys.count("InMemoryRelation")
        if n_scans is None:  # q_parquet_roundtrip
            assert n_cache >= 1, (name, "expected the roundtrip persist")
            assert n_scan == n_cache + 4, (
                name, n_scan, n_cache,
                "a roundtrip branch escaped the cache (or lineitem "
                "scanned other than the mapInArrow leg + the three "
                "relocated twins)",
            )
        else:
            assert n_scan == n_scans, (name, n_scan, n_scans)
            assert n_cache == n_caches, (name, n_cache, n_caches)


def test_plans_broadcast_hint_sites_inventoried():
    """Authorship-time sweep of the whole plans/ package: every
    ``F.broadcast`` call must sit in an inventoried function whose
    hinted side is bounded by construction. A new hint anywhere in a
    registered plan fails here until its boundedness is argued in the
    inventory — the assert the r11 verdict asked for, at the level
    where the hazard is introduced.

    Boundedness notes for the inventory:
    - tpch dim-side hints: ONLY nation (25 rows at every SF)
      and region (5 rows) carry hints. customer/supplier/part scale
      linearly with SF and are deliberately UNHINTED (r13): an
      explicit ``F.broadcast`` hint BYPASSES
      ``autoBroadcastJoinThreshold`` and AQE will not demote a user
      hint, so a hinted SF-scaling side OOMs every executor at 100 TB;
      unhinted, AQE picks BHJ while the side fits and SMJ beyond.
    - crossJoin attaches (q_small_sources root/text/lake stats,
      q_concatenate axis=None legs, the
      events.py stream-input max-timestamp anchors): 1-row global
      aggregates.
    - llm.py mixture join: per-language plan frame, bounded by the
      language domain.
    """
    import ast
    import pathlib

    plans_dir = pathlib.Path(__file__).parent.parent / (
        "dask_awkward_sandbox_spark/plans"
    )
    found: dict[tuple[str, str], int] = {}
    for path in sorted(plans_dir.glob("*.py")):
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            n = sum(
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                for node in ast.walk(fn)
            )
            if n:
                key = (path.name, fn.name)
                found[key] = max(found.get(key, 0), n)

    expected = {
        ("events.py", "q_stream_sessionize"): 1,
        ("events.py", "q_stream_dedup"): 1,
        # the stream-input frames are built in nested ``frames``
        # callables handed to plans.common.stage_replay; the hint sites
        # are the SAME 1-row max-timestamp crossJoin anchors as their
        # hosts above — ast.walk counts them once under the host and
        # once under the nested def
        ("events.py", "frames"): 1,
        # one site crosses the four ROOT codec legs in their loop
        ("io_queries.py", "q_small_sources"): 8,
        ("llm.py", "q_data_mixture"): 1,
        ("nested.py", "q_concatenate"): 2,
        ("tpch.py", "q5_local_supplier"): 2,
        ("tpch.py", "q10_returned_items"): 1,
        ("tpch.py", "q7_volume_shipping"): 2,
    }
    assert found == expected, {
        "new_or_moved": {k: v for k, v in found.items() if expected.get(k) != v},
        "removed": {k: v for k, v in expected.items() if found.get(k) != v},
    }
