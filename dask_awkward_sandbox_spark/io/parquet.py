"""Parquet IO for nested collections.

Parity: /root/reference/src/dask_awkward/lib/io/parquet.py
(from_parquet/to_parquet). The reference's per-partition awkward
buffers map to Spark's native nested parquet (list/struct groups);
its necessary-columns optimization maps to Catalyst nested-schema
pruning — ``columns=`` projection plus pushed filters reach the
row-group reader, and at 100 TB partition pruning comes free from
directory layout (``partition_by``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from dask_awkward_sandbox_spark.session import scoped_conf


def from_parquet(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    row_group_size_hint: int | None = None,
) -> DataFrame:
    """Read (nested) parquet into a DataFrame.

    ``columns`` projects eagerly so the pruned ReadSchema is visible
    even before downstream ops; Catalyst would also derive it lazily.
    """
    df = spark.read.parquet(path)
    if columns:
        df = df.select(*columns)
    return df


def to_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a (nested) DataFrame to parquet.

    ``max_records_per_file`` bounds file size at scale (the
    reference's rows-per-partition); ``partition_by`` creates the
    directory layout that future scans partition-prune on.
    """
    w = df.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def to_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: str,
    num_buckets: int = 32,
    sort_by: str | Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed managed table: rows hash-partitioned into
    ``num_buckets`` files per partition on ``bucket_by``.

    This is the 100 TB play for the nested build (SURVEY §4): a
    groupBy/collect_list or join on the bucket key against a bucketed
    table needs NO Exchange — the table layout IS the shuffle, paid
    once at write time and amortized over every downstream query.
    tests/test_plans.py asserts the Exchange-free plan.

    r13: ``sort_by`` accepts a column LIST, and a sorted write first
    repartitions on the bucket key so each bucket lands in exactly ONE
    file — the condition under which FileSourceScanExec reports the
    bucket sort as its outputOrdering, letting Catalyst elide the Sort
    under windows/aggregations ordered on a prefix of
    (bucket_by, *sort_by). Multiple files per bucket would interleave,
    so Spark ignores multi-file bucket sort metadata; the repartition
    is what makes "pay the sort once at write" actually true at read.
    """
    if sort_by:
        cols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        df = df.repartition(num_buckets, bucket_by)
        w = df.write.format("parquet").mode(mode).bucketBy(num_buckets, bucket_by)
        w = w.sortBy(cols[0], *cols[1:])
        # r14 (advice): a session-level spark.sql.files.maxRecordsPerFile
        # would silently split buckets into multiple files, and Spark
        # drops sort metadata for multi-file buckets — the advertised
        # Sort elision would quietly disappear. Clear it for this write.
        with scoped_conf(df.sparkSession, "spark.sql.files.maxRecordsPerFile", "0"):
            w.saveAsTable(table)
    else:
        w = df.write.format("parquet").mode(mode).bucketBy(num_buckets, bucket_by)
        w.saveAsTable(table)


def from_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a (bucketed) managed table."""
    return spark.table(table)
