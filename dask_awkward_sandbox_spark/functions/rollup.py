"""Hypertable rollup: time-bucketed continuous aggregates that
CASCADE — each coarser grain derives from the next finer rollup, not
from the raw table (TimescaleDB continuous-aggregate semantics,
re-expressed as plain DataFrames).

The 100 TB contract: the raw table is scanned ONCE (for the finest
grain); every coarser grain re-aggregates the previous rollup, whose
size is |buckets| x |keys| — typically billions of raw rows collapse
to thousands of rollup rows, so the day/month/year cascade costs
nothing next to the hour scan. This only works for measures that
RE-AGGREGATE losslessly:

- sum/count/min/max: re-aggregate with themselves (sum of sums, ...);
- mean: carried as (sum, count), finalized at read time;
- distinct counts: carried as HLL sketches (functions/sketches.py),
  merged upward with hll_union_agg — the sketch IS the partial state.

A measure that cannot re-aggregate (exact median, exact distinct)
must be computed from raw data at the grain that needs it; callers
get approximate quantiles/distincts from the sketch columns instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# grain -> (date_trunc unit); ordered finest -> coarsest
GRAINS = ["minute", "hour", "day", "week", "month", "quarter", "year"]


def time_bucket(ts: Column, grain: str) -> Column:
    """Truncate a timestamp to its bucket start (date_trunc)."""
    if grain not in GRAINS:
        raise ValueError(f"grain {grain!r} not in {GRAINS}")
    return F.date_trunc(grain, ts)


def rollup_once(
    df: DataFrame,
    ts_col: str,
    grain: str,
    measures: dict[str, Column],
    group_by: list[str] | None = None,
    distinct_cols: list[str] | None = None,
    lg_k: int = 12,
) -> DataFrame:
    """One rollup from RAW data: bucket the timestamp, aggregate
    ``measures`` (name -> aggregate Column over raw rows), carry
    ``count(*)`` as ``n_rows``, and one HLL sketch column
    ``hll_<col>`` per distinct_col. This is the single raw scan the
    cascade builds on."""
    keys = [time_bucket(F.col(ts_col), grain).alias("bucket"), *(group_by or [])]
    aggs = [expr.alias(name) for name, expr in measures.items()]
    aggs.append(F.count(F.lit(1)).alias("n_rows"))
    for c in distinct_cols or []:
        aggs.append(F.hll_sketch_agg(F.col(c), F.lit(lg_k)).alias(f"hll_{c}"))
    return df.groupBy(*keys).agg(*aggs)


# how each carried measure re-aggregates upward, by column-name prefix
_REAGG = {
    "sum_": F.sum,
    "min_": F.min,
    "max_": F.max,
    "n_": F.sum,  # counts add
    "hll_": lambda c: F.hll_union_agg(c),
}


def _reagg_column(name: str) -> Column:
    for prefix, fn in _REAGG.items():
        if name.startswith(prefix):
            return fn(F.col(name)).alias(name)
    raise ValueError(
        f"measure {name!r} has no re-aggregation rule: name it sum_*/"
        "min_*/max_*/n_* (or hll_* via distinct_cols) so the cascade "
        "knows how to merge it, or compute it from raw data"
    )


def rollup_step(
    prev: DataFrame, grain: str, group_by: list[str] | None = None
) -> DataFrame:
    """ONE cascade step: re-aggregate a finer rollup (as produced by
    :func:`rollup_once` / a previous step) to the coarser ``grain``,
    never touching raw data, so callers can materialize/share an
    intermediate grain between consumers and still derive the next
    grain from it. Calendar weeks straddle month/quarter/year
    boundaries, so a week rollup must not feed a coarser step."""
    keys = [time_bucket(F.col("bucket"), grain).alias("bucket"), *(group_by or [])]
    value_cols = [
        c for c in prev.columns if c != "bucket" and c not in (group_by or [])
    ]
    return prev.groupBy(*keys).agg(*[_reagg_column(c) for c in value_cols])


