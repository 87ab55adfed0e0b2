"""Hypertable rollup cascade (rollup_once, then one rollup_step per
coarser grain — the composition q_events_funnel_retention runs):
every coarser grain derived from the finer ROLLUP must equal the same
grain computed directly from raw data — lossless re-aggregation is
the whole contract — and the raw table must be scanned exactly once
per cascade."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF_DIR = os.environ.get("DWAX_TEST_SF", "/root/testdata/sf0.01")


def _events(spark):
    from dask_awkward_sandbox_spark.plans.common import read

    return read(spark, SF_DIR, "events")


def _measures():
    return {
        "sum_value_c": F.sum(F.round(F.col("value") * 100).cast("long")),
        "min_value_c": F.min(F.round(F.col("value") * 100).cast("long")),
        "max_value_c": F.max(F.round(F.col("value") * 100).cast("long")),
    }


def _cascade(df, grains, measures, group_by=None, distinct_cols=None, lg_k=12):
    from dask_awkward_sandbox_spark.functions import rollup as ru

    out = {grains[0]: ru.rollup_once(
        df, "ts", grains[0], measures, group_by, distinct_cols, lg_k
    )}
    for prev, g in zip(grains, grains[1:]):
        out[g] = ru.rollup_step(out[prev], g, group_by)
    return out


def _estimate(rollup):
    return {
        r["bucket"]: r["est"]
        for r in rollup.select(
            "bucket", F.hll_sketch_estimate("hll_user_id").alias("est")
        ).collect()
    }


def _canon(df):
    rows = [tuple(r) for r in df.select(sorted(df.columns)).collect()]
    return sorted(rows, key=repr)


def test_cascade_equals_direct_at_every_grain(spark):
    from dask_awkward_sandbox_spark.functions import rollup as ru

    ev = _events(spark)
    cascade = _cascade(
        ev, ["hour", "day", "month"], _measures(), group_by=["event_type"]
    )
    for grain in ("hour", "day", "month"):
        direct = ru.rollup_once(ev, "ts", grain, _measures(), group_by=["event_type"])
        assert _canon(cascade[grain]) == _canon(direct), grain


def test_cascade_hll_distinct_matches_direct_sketch(spark):
    """Sketches merged up the cascade must equal the direct
    whole-grain sketch estimate (same registers, deterministic
    merge), and land within HLL error of the exact count."""
    from dask_awkward_sandbox_spark.functions import rollup as ru

    ev = _events(spark)
    cascade = _cascade(
        ev, ["day", "month"], _measures(), distinct_cols=["user_id"], lg_k=14
    )
    merged = _estimate(cascade["month"])
    direct = _estimate(ru.rollup_once(
        ev, "ts", "month", _measures(), distinct_cols=["user_id"], lg_k=14
    ))
    assert merged == direct
    exact = {
        r["bucket"]: r["n"]
        for r in ev.groupBy(F.date_trunc("month", "ts").alias("bucket"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for b, n in exact.items():
        assert abs(merged[b] - n) <= max(2, 0.05 * n), (b, merged[b], n)


def test_cascade_scans_raw_once(spark):
    ev = _events(spark)
    cascade = _cascade(ev, ["hour", "day", "month"], _measures())
    plan = cascade["month"]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan


def test_bad_measure_name_rejected_before_scan(spark):
    import pytest

    from dask_awkward_sandbox_spark.functions import rollup as ru

    hour = ru.rollup_once(
        _events(spark), "ts", "hour", {"avg_value": F.avg("value")}
    )
    with pytest.raises(ValueError, match="re-aggregation rule"):
        ru.rollup_step(hour, "day")


def test_week_final_grain_equals_direct(spark):
    """['day','week'] cascade's week rollup == week computed directly
    from raw — day buckets DO nest losslessly into ISO weeks."""
    from dask_awkward_sandbox_spark.functions import rollup as ru

    cascade = _cascade(_events(spark), ["day", "week"], _measures())
    direct = ru.rollup_once(_events(spark), "ts", "week", _measures())
    assert _canon(cascade["week"]) == _canon(direct)
