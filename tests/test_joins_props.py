"""Property tests for the custom relational joins: asof_join pinned
against pandas.merge_asof (a third independent implementation beside
the DuckDB native-ASOF cross-check), range_join against the brute
filter, on hypothesis-generated data with duplicate keys/timestamps
and empty sides.

r15 (driver pytest window): max_examples trimmed ~2x — each example
is a full Spark job (~1-2s), this file alone cost 205s of the 24-min
suite, and these joins carry two other independent checks (the DuckDB
native-ASOF value oracle every round, plan assertions in test_plans).
Hypothesis still explores the duplicate/empty/nullable corners via
its shrinking; bump the counts back locally when touching
operators/joins.py."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_key = st.sampled_from(["k1", "k2", "k3"])
_ts = st.integers(min_value=0, max_value=60)

_left_rows = st.lists(st.tuples(_key, _ts), min_size=0, max_size=25)
_right_rows = st.lists(st.tuples(_key, _ts, st.integers(0, 1000)),
                       min_size=0, max_size=25)


def _dedupe_right(rows):
    """One right row per (key, ts): 'latest among equals' is undefined
    for payload ties, so both implementations get a deterministic
    input (same rule the registered q_asof_join slot applies)."""
    best = {}
    for k, ts, v in rows:
        best[(k, ts)] = max(v, best.get((k, ts), -1))
    return [
        (k, ts, v)
        for (k, ts), v in sorted(
            best.items(), key=lambda kv: (kv[0][0], kv[0][1] is not None, kv[0][1] or 0)
        )
    ]


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(left=_left_rows, right=_right_rows,
       tol=st.one_of(st.none(), st.integers(0, 30)))
def test_asof_join_matches_pandas_merge_asof(spark, left, right, tol):
    from dask_awkward_sandbox_spark.operators.joins import asof_join

    right = _dedupe_right(right)
    ldf = spark.createDataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(left)] or [("_x", -1, -1)],
        "k string, ts long, lid long",
    )
    rdf = spark.createDataFrame(
        right or [("_x", -1, -1)], "k string, ts long, v long"
    )
    got = {
        r["lid"]: (r["ts_r"], r["v"])
        for r in asof_join(ldf, rdf, on="ts", by="k", tolerance=tol).collect()
        if r["lid"] >= 0
    }

    lp = pd.DataFrame([(k, ts, i) for i, (k, ts) in enumerate(left)],
                      columns=["k", "ts", "lid"]).sort_values("ts", kind="stable")
    rp = (
        pd.DataFrame(right or [], columns=["k", "ts", "v"])
        .astype({"k": str, "ts": "int64", "v": "int64"})
        .sort_values("ts", kind="stable")
    )
    if len(lp) == 0:
        assert got == {}
        return
    kwargs = {"tolerance": tol} if tol is not None else {}
    exp = pd.merge_asof(
        lp, rp, on="ts", by="k", direction="backward",
        suffixes=("", "_r"), **kwargs,
    )
    # pandas keeps right's ts implicit; recompute the match ts by
    # re-merging without tolerance and nulling stale ones like ours
    exp_ts = pd.merge_asof(
        lp, rp.rename(columns={"ts": "rts"}).assign(ts=lambda d: d["rts"]),
        on="ts", by="k", direction="backward", suffixes=("", "_r"),
    )
    for _, row in exp.iterrows():
        lid = row["lid"]
        v = row["v"]
        rts = exp_ts.loc[exp_ts["lid"] == lid, "rts"].iloc[0]
        if pd.isna(v):
            assert got[lid][1] is None, (lid, got[lid], v)
        else:
            assert got[lid][1] == int(v), (lid, got[lid], v)
            assert got[lid][0] == int(rts)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    pts=st.lists(st.tuples(_key, st.integers(0, 1000)), min_size=0, max_size=25),
    ivs=st.lists(
        st.tuples(_key, st.integers(0, 1000), st.integers(0, 400)),
        min_size=0, max_size=10,
    ),
    bin_width=st.sampled_from([1, 7, 100, 1000]),
)
def test_range_join_matches_brute_force(spark, pts, ivs, bin_width):
    from dask_awkward_sandbox_spark.operators.joins import range_join

    pdf = spark.createDataFrame(
        [(k, p, i) for i, (k, p) in enumerate(pts)] or [("_x", -1, -1)],
        "k string, p long, pid long",
    )
    idf = spark.createDataFrame(
        [(k, lo, lo + w, j) for j, (k, lo, w) in enumerate(ivs)]
        or [("_x", -1, -2, -1)],
        "k string, lo long, hi long, iid long",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join(pdf, idf, "p", "lo", "hi", by="k",
                            bin_width=bin_width).collect()
        if r["pid"] >= 0
    )
    exp = sorted(
        (i, j)
        for i, (k, p) in enumerate(pts)
        for j, (k2, lo, w) in enumerate(ivs)
        if k == k2 and lo <= p <= lo + w
    )
    assert got == exp


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(left=_left_rows, right=_right_rows,
       tol=st.one_of(st.none(), st.integers(0, 30)),
       direction=st.sampled_from(["forward", "nearest", "backward"]))
def test_asof_join_directions_match_pandas(spark, left, right, tol, direction):
    """direction= forward/nearest/backward each pinned to pandas
    merge_asof (incl. nearest's ties-resolve-backward rule and
    per-direction tolerance windows)."""
    from dask_awkward_sandbox_spark.operators.joins import asof_join

    right = _dedupe_right(right)
    ldf = spark.createDataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(left)] or [("_x", -1, -1)],
        "k string, ts long, lid long",
    )
    rdf = spark.createDataFrame(
        right or [("_x", -1, -1)], "k string, ts long, v long"
    )
    got = {
        r["lid"]: (r["ts_r"], r["v"])
        for r in asof_join(
            ldf, rdf, on="ts", by="k", tolerance=tol, direction=direction
        ).collect()
        if r["lid"] >= 0
    }
    if not left:
        assert got == {}
        return
    lp = pd.DataFrame([(k, ts, i) for i, (k, ts) in enumerate(left)],
                      columns=["k", "ts", "lid"]).sort_values("ts", kind="stable")
    rp = (
        pd.DataFrame(right or [], columns=["k", "ts", "v"])
        .astype({"k": str, "ts": "int64", "v": "int64"})
        .rename(columns={"ts": "rts"})
        .assign(ts=lambda d: d["rts"])
        .sort_values("ts", kind="stable")
    )
    kwargs = {"tolerance": tol} if tol is not None else {}
    exp = pd.merge_asof(
        lp, rp, on="ts", by="k", direction=direction,
        suffixes=("", "_r"), **kwargs,
    )
    for _, row in exp.iterrows():
        g = got[row["lid"]]
        if pd.isna(row["v"]):
            assert g == (None, None), (row["lid"], g)
        else:
            assert g == (int(row["rts"]), int(row["v"])), (row["lid"], g)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(left=_left_rows, right=_right_rows,
       tol=st.one_of(st.none(), st.integers(0, 30)))
def test_asof_join_all_equals_three_separate(spark, left, right, tol):
    """direction='all' returns the three directions' picks off ONE
    keyed window pass — pinned cell-for-cell to the three separate
    joins."""
    from dask_awkward_sandbox_spark.operators.joins import asof_join

    right = _dedupe_right(right)
    ldf = spark.createDataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(left)] or [("_x", -1, -1)],
        "k string, ts long, lid long",
    )
    rdf = spark.createDataFrame(
        right or [("_x", -1, -1)], "k string, ts long, v long"
    )
    allj = {
        r["lid"]: r
        for r in asof_join(
            ldf, rdf, on="ts", by="k", tolerance=tol, direction="all"
        ).collect()
    }
    for direction, (tcol, vcol) in {
        "backward": ("ts_r", "v"),
        "forward": ("fwd_ts_r", "fwd_v"),
        "nearest": ("near_ts_r", "near_v"),
    }.items():
        sep = {
            r["lid"]: (r["ts_r"], r["v"])
            for r in asof_join(
                ldf, rdf, on="ts", by="k", tolerance=tol, direction=direction
            ).collect()
        }
        got = {lid: (r[tcol], r[vcol]) for lid, r in allj.items()}
        assert got == sep, direction


def test_asof_join_all_single_exchange(spark):
    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark.operators.joins import asof_join

    ldf = spark.range(100).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("ts"),
        F.col("id").alias("lid"),
    )
    rdf = spark.range(50).select(
        (F.col("id") % 5).alias("k"), (F.col("id") * 2).alias("ts"),
        F.col("id").alias("v"),
    )
    plan = (
        asof_join(ldf, rdf, on="ts", by="k", direction="all")
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


_ivs = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 120), st.integers(0, 90)),
    max_size=25,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(left=_ivs, right=_ivs, bw=st.sampled_from([1, 7, 13, 1000]))
def test_interval_join_matches_bruteforce(spark, left, right, bw):
    """interval_join == the naive overlap product, at bin widths from
    degenerate (every interval spans many bins — the exactly-once
    emission rule does real work) to one-bin-fits-all."""
    from dask_awkward_sandbox_spark.operators.joins import interval_join

    ldf = spark.createDataFrame(
        [(k, i, lo, lo + ln) for i, (k, lo, ln) in enumerate(left)]
        or [(-1, -1, 0, 0)],
        "k int, lid long, lo long, hi long",
    )
    rdf = spark.createDataFrame(
        [(k, i, lo, lo + ln) for i, (k, lo, ln) in enumerate(right)]
        or [(-1, -1, 0, 0)],
        "k int, rid long, lo long, hi long",
    )
    got = sorted(
        (r["k"], r["lid"], r["rid"])
        for r in interval_join(ldf, rdf, by="k", bin_width=bw).collect()
        if r["lid"] >= 0 and r["rid"] >= 0
    )
    exp = sorted(
        (lk, i, j)
        for i, (lk, llo, lln) in enumerate(left)
        for j, (rk, rlo, rln) in enumerate(right)
        if lk == rk and llo <= rlo + rln and rlo <= llo + lln
    )
    assert got == exp


def test_interval_join_no_product_and_suffix(spark):
    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark.operators.joins import interval_join

    ldf = spark.range(100).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("lid"),
        (F.col("id") * 10).alias("lo"), (F.col("id") * 10 + 25).alias("hi"),
    )
    rdf = spark.range(80).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("rid"),
        (F.col("id") * 12).alias("lo"), (F.col("id") * 12 + 40).alias("hi"),
    )
    out = interval_join(ldf, rdf, by="k", bin_width=16)
    assert {"lo", "hi", "lo_r", "hi_r"} <= set(out.columns)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly-once: distinct-free plan, yet no duplicate pairs
    rows = [(r["lid"], r["rid"]) for r in out.collect()]
    assert len(rows) == len(set(rows))
    assert "HashAggregate" not in plan.split("Filter")[0]


def test_asof_join_null_ts_left_inert_all_directions(spark):
    """r7 ADVICE regression: a left row with a NULL `on` value sorts
    FIRST under asc ordering, so its forward frame contains every
    right row — it must still match NOTHING in any direction (the
    documented contract: null-ts left rows survive with null match
    columns)."""
    from dask_awkward_sandbox_spark.operators.joins import asof_join

    ldf = spark.createDataFrame(
        [("a", None, 0), ("a", 10, 1)], "k string, ts long, lid long"
    )
    rdf = spark.createDataFrame(
        [("a", 5, 50), ("a", 20, 200)], "k string, ts long, v long"
    )
    for direction, cols in {
        "backward": [("ts_r", "v")],
        "forward": [("ts_r", "v")],
        "nearest": [("ts_r", "v")],
        "all": [("ts_r", "v"), ("fwd_ts_r", "fwd_v"), ("near_ts_r", "near_v")],
    }.items():
        rows = {
            r["lid"]: r
            for r in asof_join(ldf, rdf, on="ts", by="k", direction=direction).collect()
        }
        assert set(rows) == {0, 1}, direction
        for tcol, vcol in cols:
            assert rows[0][tcol] is None and rows[0][vcol] is None, (direction, tcol)
        # the non-null left row still matches normally
        assert rows[1]["v"] is not None, direction


def test_asof_join_null_payload_carried_atomically(spark):
    """r7 ADVICE regression: when the MATCHED right row has a NULL
    payload cell, the output must carry that null — not substitute
    the cell from an older (backward) / later (forward) right row.
    merge_asof semantics: the match is one whole row."""
    from dask_awkward_sandbox_spark.operators.joins import asof_join

    ldf = spark.createDataFrame([("a", 2, 0)], "k string, ts long, lid long")
    rdf = spark.createDataFrame(
        [("a", 0, 7, 70), ("a", 1, None, 71), ("a", 3, None, 73), ("a", 4, 9, 74)],
        "k string, ts long, v long, w long",
    )
    back = asof_join(ldf, rdf, on="ts", by="k").collect()[0]
    assert (back["ts_r"], back["v"], back["w"]) == (1, None, 71)
    fwd = asof_join(ldf, rdf, on="ts", by="k", direction="forward").collect()[0]
    assert (fwd["ts_r"], fwd["v"], fwd["w"]) == (3, None, 73)


def test_asof_join_skew_fractional_ts_orders_by_exact_on(spark):
    """r7 ADVICE regression: with fractional timestamps, two rows in
    the same truncated second must still order by the EXACT `on` —
    a left row at ts=1.2 may not pick up a right row at ts=1.7."""
    from dask_awkward_sandbox_spark.operators.joins import asof_join

    ldf = spark.createDataFrame([("a", 1.2, 0)], "k string, ts double, lid long")
    rdf = spark.createDataFrame(
        [("a", 0.5, 5), ("a", 1.7, 17)], "k string, ts double, v long"
    )
    row = asof_join(ldf, rdf, on="ts", by="k").collect()[0]
    assert (row["ts_r"], row["v"]) == (0.5, 5)


def test_asof_join_reserved_column_names_refused(spark):
    """Input columns that collide with the operators' internal scratch
    names raise instead of silently dropping / duplicating (r7 ADVICE:
    a right payload named _asof_on duplicated the carry-struct field;
    a left column named _b vanished through the keep filter)."""
    import pytest

    from dask_awkward_sandbox_spark.operators.joins import asof_join

    ldf = spark.createDataFrame([("a", 1.0, 1)], "k string, ts double, _b long")
    rdf = spark.createDataFrame([("a", 0.5, 2)], "k string, ts double, v long")
    with pytest.raises(ValueError, match="_b"):
        asof_join(ldf, rdf, on="ts", by="k")
    rdf2 = spark.createDataFrame(
        [("a", 0.5, 2)], "k string, ts double, _asof_on long"
    )
    ldf2 = spark.createDataFrame([("a", 1.0, 1)], "k string, ts double, lid long")
    with pytest.raises(ValueError, match="_asof_on"):
        asof_join(ldf2, rdf2, on="ts", by="k")
