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

import os
import threading
import weakref
from collections.abc import Sequence
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from dask_awkward_sandbox_spark.session import _raw_conf_get, scoped_conf

# Session confs that change the schema Spark infers from parquet
# footers: how physical types and annotations convert (binary, INT96,
# timestamp NTZ and nanos, variant and UNKNOWN annotations, field ids),
# whether the footers of all files merge, and how partition-directory
# values are typed.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# session -> {path: ((disk signature, conf values), inferred schema)}.
# Weak on the session, so a stopped and dropped session takes its
# entries with it.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SCHEMAS_LOCK = threading.Lock()


def _disk_signature(path: str) -> tuple | None:
    """Sorted ``(name, size, mtime_ns)`` of every file under ``path``
    (or of the single file), or None when ``path`` is not a local file
    or directory: another URI scheme, a glob, or nothing there."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    local = url.path if url.scheme else path
    try:
        if os.path.isfile(local):
            st = os.stat(local)
            return (("", st.st_size, st.st_mtime_ns),)
        if not os.path.isdir(local):
            return None
        sig = []
        for root, _, files in os.walk(local):
            for name in files:
                full = os.path.join(root, name)
                st = os.stat(full)
                sig.append((os.path.relpath(full, local), st.st_size, st.st_mtime_ns))
    except FileNotFoundError:  # a file vanished mid-listing: a writer is busy here
        return None
    return tuple(sorted(sig))


def from_parquet(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    row_group_size_hint: int | None = None,
) -> DataFrame:
    """Read (nested) parquet into a DataFrame.

    ``columns`` projects eagerly so the pruned ReadSchema is visible
    even before downstream ops; Catalyst would also derive it lazily.

    Reading parquet without a schema runs a Spark job that reads the
    footers and infers one. The inferred schema of each local ``path``
    is memoized per session, so a repeat read plans from metadata alone
    (``spark.read.schema(memoized).parquet(path)``). An entry is used
    only while the files under ``path`` (names, sizes, mtimes) and the
    session confs that change inference (``_SCHEMA_CONFS``) are what
    they were when it was inferred; otherwise the read infers again and
    replaces it. Other URI schemes are not memoized. Only the schema is
    kept, never a DataFrame: each read is a fresh relation with its own
    file listing and attribute IDs, so two reads of one table still
    self-join correctly.
    """
    sig = _disk_signature(path)
    if sig is None:
        df = spark.read.parquet(path)
    else:
        stamp = (sig, tuple(_raw_conf_get(spark, k) for k in _SCHEMA_CONFS))
        with _SCHEMAS_LOCK:
            memo = _SCHEMAS.get(spark, {}).get(path)
        if memo is not None and memo[0] == stamp:
            df = spark.read.schema(memo[1]).parquet(path)
        else:
            df = spark.read.parquet(path)
            memo = (stamp, df.schema)
            with _SCHEMAS_LOCK:
                _SCHEMAS.setdefault(spark, {})[path] = memo
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

    A local, unpartitioned overwrite leaves exactly the files this
    write made, all in the written schema. So such a write hands that
    schema to :func:`from_parquet`'s memo, stamped with the files as
    written, and a read-back plans without a schema-inference job.
    Spark's file source makes a given read schema all-nullable, as its
    inference does for files Spark wrote, so the read-back schema is
    the inferred one. Appends and partitioned writes leave the memo
    alone: the directory then holds other files, or typed partition
    columns.
    """
    w = df.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    if partition_by or mode != "overwrite":
        return
    sig = _disk_signature(path)
    if sig is not None:
        spark = df.sparkSession
        stamp = (sig, tuple(_raw_conf_get(spark, k) for k in _SCHEMA_CONFS))
        with _SCHEMAS_LOCK:
            _SCHEMAS.setdefault(spark, {})[path] = (stamp, df.schema)


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
