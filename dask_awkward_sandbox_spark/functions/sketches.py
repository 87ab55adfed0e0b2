"""Exact heavy hitters, the one sketch-family operator the
event slots use.

A mergeable summary is what makes petabyte analytics cheap: map-side
partial counts shuffle one row per distinct value, and pre-aggregated
count tables (e.g. a rollup's ``n_rows``) re-aggregate losslessly.
The HLL distinct-count sketches live in functions/rollup.py, carried
as ``hll_*`` columns of a time-bucket rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def heavy_hitters(
    df: DataFrame, col: str, min_fraction: float = 0.01,
    weight_col: str | None = None,
) -> DataFrame:
    """Values occurring in more than ``min_fraction`` of rows, with
    exact counts: map-side partial counts shuffle only one row per
    distinct value, and the total rides the plan as a broadcast 1-row
    aggregate (no driver-side count action — the whole thing stays one
    lazy DataFrame). Output: (value, n, fraction), descending.

    ``weight_col`` (r15, guide §2.4): when the input is already a
    partial aggregate carrying a count column (e.g. a time-bucket
    rollup's ``n_rows``), sum that column instead of counting rows —
    counts re-aggregate losslessly, so the result is identical to
    running over raw data while the scan+shuffle run over |buckets|
    rows instead of |raw|."""
    agg_n = F.sum(F.col(weight_col)) if weight_col else F.count(F.lit(1))
    counts = df.groupBy(F.col(col).alias("value")).agg(agg_n.alias("n"))
    total = counts.agg(F.sum("n").alias("_total"))
    out = (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n") > F.col("_total") * min_fraction)
        .withColumn("fraction", F.col("n") / F.col("_total"))
        .drop("_total")
    )
    return out.orderBy(F.col("n").desc(), "value")


