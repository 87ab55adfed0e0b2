"""Collection-level API: the Spark face of the reference's lazy
Array/Record/Scalar collections (reference: lib/core.py).

The mapping is intentionally thin — a partitioned nested collection IS
a DataFrame with complex-typed columns, so the reference's
collection verbs become DataFrame verbs:

- ``map_partitions``  -> ``mapInArrow`` (Arrow record batches, the
  zero-copy path) or ``mapInPandas`` (pandas convenience);
- ``repartition``     -> ``repartition`` / ``coalesce`` (coalesce when
  shrinking: no shuffle);
- ``persist``         -> ``cache``; ``compute`` -> ``collect``;
- ``visualize``       -> the Catalyst plan (``explain`` string) — the
  task graph the reference would draw;
- ``to_list``         -> collected plain-Python rows (ak.to_list).

Scale notes: ``map_partitions`` user functions run once per Arrow
batch, not per row; memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``. ``compute``/
``to_list`` pull to the driver — summaries only, never the corpus.
"""

from __future__ import annotations

from collections.abc import Callable
from enum import IntEnum

from pyspark.sql import DataFrame


def map_partitions(
    df: DataFrame,
    fn: Callable,
    schema: str,
    arrow: bool = True,
) -> DataFrame:
    """Arbitrary per-partition transformation (dak.map_partitions,
    reference lib/core.py).

    ``fn`` receives an iterator of ``pyarrow.RecordBatch`` (arrow=True)
    or ``pandas.DataFrame`` (arrow=False) and yields the same type
    conforming to ``schema``. Prefer Column expressions for anything
    they can express — this is the escape hatch, and it pays the
    JVM<->Python Arrow transfer.
    """
    if arrow:
        return df.mapInArrow(fn, schema)
    return df.mapInPandas(fn, schema)


def repartition(
    df: DataFrame,
    num_partitions: int | None = None,
    shuffle: bool | None = None,
    rows_per_partition: int | None = None,
    one_to_n: int | None = None,
    n_to_one: int | None = None,
    divisions: tuple | list | None = None,
) -> DataFrame:
    """Restructure partitioning (reference Array.repartition,
    lib/core.py:979 — npartitions / rows_per_partition / one_to_n /
    n_to_one schemes; exactly one may be given).

    - ``num_partitions`` (the reference's ``npartitions``): rows split
      as evenly as possible. ``shuffle=False`` coalesces (narrow, no
      shuffle — only valid when shrinking), ``shuffle=True`` forces a
      round-robin exchange; the default inspects the DataFrame's
      ACTUAL partition count and coalesces only when provably
      shrinking — coalesce cannot grow, so guessing from session conf
      could silently return the original count. The inspection plans
      (not runs) the query via ``df.rdd``; pass ``shuffle`` explicitly
      to skip it.
    - ``rows_per_partition``: target rows per output partition. Like
      the reference, this requires the row count — ONE eager count job
      (cheap on parquet: footer metadata) — then an even round-robin
      split into ``ceil(total / rows_per_partition)`` partitions.
    - ``one_to_n``: n output partitions per input partition
      (round-robin exchange to ``current * n``).
    - ``n_to_one``: every n adjacent input partitions merge into one —
      a NARROW coalesce, no shuffle, exactly the reference's adjacent-
      merge semantics.

    The ``divisions`` scheme (exact row-offset boundaries, reference
    lib/core.py:982) has no faithful Spark mapping: DataFrames are
    unordered multisets, so row offsets are only meaningful under an
    explicit order. Passing ``divisions`` raises a DIRECTED error (the
    akcompat keyword-surface contract — a ported script gets pointed
    at the equivalents, never a bare TypeError): use
    ``df.repartitionByRange(n, order_col)`` for the order-aware
    equivalent, or ``operators.structure.unflatten`` machinery when
    exact counts per partition matter.
    """
    import math

    if divisions is not None:
        raise NotImplementedError(
            "repartition(divisions=...) assigns rows to partitions by "
            "exact row-offset boundaries, which presumes dask's ordered-"
            "partition model; Spark DataFrames are unordered multisets. "
            "Use repartition(num_partitions=...) / rows_per_partition=... "
            "for size-based splits, or df.repartitionByRange(n, order_col) "
            "when the boundaries follow an explicit order column."
        )

    given = [
        num_partitions is not None,
        rows_per_partition is not None,
        one_to_n is not None,
        n_to_one is not None,
    ]
    if sum(given) != 1:
        raise ValueError(
            "give exactly one of num_partitions, rows_per_partition, "
            "one_to_n, n_to_one"
        )
    if rows_per_partition is not None:
        if rows_per_partition < 1:
            raise ValueError(f"rows_per_partition must be >= 1, got {rows_per_partition}")
        total = df.count()
        return df.repartition(max(1, math.ceil(total / rows_per_partition)))
    if one_to_n is not None:
        return df.repartition(df.rdd.getNumPartitions() * one_to_n)
    if n_to_one is not None:
        current = df.rdd.getNumPartitions()
        return df.coalesce(max(1, math.ceil(current / n_to_one)))
    if shuffle is None:
        current = df.rdd.getNumPartitions()
        shuffle = num_partitions > current
    if not shuffle:
        return df.coalesce(num_partitions)
    return df.repartition(num_partitions)


def _scan_files(df: DataFrame) -> list[str] | None:
    """Sorted input files when ``df`` is a pure parquet scan, else None."""
    plan = df._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
    if (
        plan.children().size() == 0
        and "parquet" in plan.toString().lower()
        and df.inputFiles()
    ):
        return sorted(df.inputFiles())
    return None


def npartitions(df: DataFrame) -> int:
    """Partition count of the collection (reference Array.npartitions).

    For a pure file scan this is the INPUT FILE count — the same index
    space :func:`partitions` slices (dask's parquet partitions are
    file/row-group chunks). Spark's runtime scan tasks bin-pack or
    split files, so ``rdd.getNumPartitions()`` would disagree with the
    slicing contract; it remains the answer for derived frames, where
    ``partitions`` also falls back to runtime partition ids.
    """
    files = _scan_files(df)
    if files is not None:
        return len(files)
    return df.rdd.getNumPartitions()


def _common_base(files: list[str]) -> str:
    """Dataset root = deepest directory common to every input file,
    computed URI-safely: the common prefix is taken on the PATH
    component of each parsed URI and the scheme://authority is
    reassembled afterwards. ``os.path.commonpath`` on raw URIs would
    collapse the ``//`` after the scheme ("s3://bucket/…" ->
    "s3:/bucket/…", authority lost) — harmless under local Hadoop
    paths, wrong on every object store."""
    import posixpath
    from urllib.parse import urlsplit, urlunsplit

    parts = [urlsplit(f) for f in files]
    dirs = [posixpath.dirname(p.path) for p in parts]
    common = posixpath.commonpath(dirs) if len(dirs) > 1 else dirs[0]
    # one dataset has one scheme+authority; reassemble the first's
    return urlunsplit((parts[0].scheme, parts[0].netloc, common, "", ""))


def partitions(df: DataFrame, start: int, stop: int | None = None) -> DataFrame:
    """Partition-wise getitem: ``Array.partitions[start:stop]``
    (reference lib/core.py, the ``.partitions`` accessor).

    For a pure file scan (the overwhelmingly common case — the
    reference's accessor is used to peek at a slice of a parquet
    dataset), the selected partitions map to input FILES and the
    result is a re-read of only those files: the other files are never
    opened, matching the reference's graph-slicing efficiency. Files
    are sorted by path, mirroring the deterministic partition order of
    ``from_parquet``.

    For a derived DataFrame (joins/aggs upstream), partition identity
    only exists at runtime, so the fallback filters on
    ``spark_partition_id()`` — every partition is computed but only the
    selected ones survive. Callers who need the fast path should slice
    straight after the read, like reference users do.

    Index space: ``range(npartitions(df))`` — input files on the fast
    path (hive partition-column values are recovered via ``basePath``,
    the files' common root), runtime partition ids on the fallback.

    Negative indices follow Python semantics against ``npartitions``
    (the reference accessor supports ``partitions[-1]`` as the
    peek-at-the-last-chunk idiom): single-index form raises on
    out-of-range, slice form clamps like a Python slice.
    """
    from pyspark.sql import functions as F

    files = _scan_files(df)
    single = stop is None
    if single and start >= 0 and files is None:
        # common positive-single-index fallback path: avoid forcing
        # plan conversion just to learn n
        lo, hi = start, start + 1
    else:
        n = len(files) if files is not None else df.rdd.getNumPartitions()
        if single:
            lo = start + n if start < 0 else start
            if not 0 <= lo < n:
                raise IndexError(f"partition {start} out of range for {n} partitions")
            hi = lo + 1
        else:
            lo, hi, _ = slice(start, stop).indices(n)
            if hi < lo:
                hi = lo

    if files is not None:
        sel = files[lo:hi]
        if not sel:
            from dask_awkward_sandbox_spark.io.io import from_lists

            return from_lists(df.sparkSession, [], df.schema)
        # basePath = the dataset root (common dir of ALL files, not
        # just the slice): without it a partitionBy-layout read would
        # silently null every partition-column value
        return (
            df.sparkSession.read.schema(df.schema)
            .option("basePath", _common_base(files))
            .parquet(*sel)
        )
    pid = F.spark_partition_id()
    return df.filter((pid >= F.lit(lo)) & (pid < F.lit(hi)))


def persist(df: DataFrame) -> DataFrame:
    """Materialize-on-first-use caching (dask persist)."""
    return df.cache()


def compute(df: DataFrame, *more: DataFrame) -> list | tuple[list, ...]:
    """Eager evaluation to driver rows (dask compute).

    Multi-collection form ``compute(a, b, ...)`` (reference
    tests/test_optimize.py multiple-computes) returns a tuple of row
    lists. Dask optimizes the collections' graphs JOINTLY, executing
    shared ancestry once; Spark's unit of optimization is the single
    action, so the analogue here is (1) concurrent job submission —
    the scheduler interleaves the jobs' stages across executors — and
    (2) explicit sharing via :func:`persist` on a common ancestor,
    which is also how dask users pin expensive shared subgraphs.
    Within ONE query Catalyst already reuses identical subplans
    (ReusedExchange), so a genuinely shared scan+shuffle costs once
    when expressed as one DataFrame."""
    if not more:
        return df.collect()
    from concurrent.futures import ThreadPoolExecutor

    dfs = (df, *more)
    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        return tuple(pool.map(lambda d: d.collect(), dfs))


def to_list(df: DataFrame) -> list[dict]:
    """ak.to_list: plain-Python nested values."""
    return [row.asDict(recursive=True) for row in df.collect()]


def head(df: DataFrame, nrow: int = 10, compute: bool = True):
    """First ``nrow`` rows of the FIRST partition (parity: reference
    Array.head, lib/core.py:1771 — intentionally partition-local so a
    peek never scans past partition 0; the result may hold fewer than
    ``nrow`` rows when that partition is short)."""
    out = partitions(df, 0, 1).limit(nrow)
    return out.collect() if compute else out


def visualize(df: DataFrame, extended: bool = False) -> str:
    """The query plan as text — the engine's task graph."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "extended" if extended else "formatted"
    )


def copy(df: DataFrame) -> DataFrame:
    """ak.copy: DataFrames are immutable — identity. Parity:
    structure.py:copy."""
    return df


def to_packed(df: DataFrame) -> DataFrame:
    """ak.to_packed: Spark/Tungsten rows carry no unreachable buffers
    to strip — identity. Parity: structure.py:to_packed."""
    return df


class PartitionCompatibility(IntEnum):
    """Partition-compatibility sum type (reference lib/core.py:2716
    ``PartitionCompatibility``): can these collections be combined
    partition-wise (zip-like ops) without a realignment?

    NO    — provably incompatible: differing partition counts, or both
            sides are known file scans over different file lists.
    MAYBE — counts agree but at least one side is a derived frame whose
            per-partition row boundaries are unknowable without compute
            (the reference's unknown-divisions case).
    YES   — both sides are pure file scans over the IDENTICAL file
            list: same partition index space, same boundaries.
    """

    NO = 0
    MAYBE = 1
    YES = 2


def partition_compatibility(*dfs: DataFrame) -> PartitionCompatibility:
    """Check partition compatibility across collections (reference
    lib/core.py:2784 ``partition_compatibility``).

    The Spark mapping of the reference's divisions logic: a pure
    parquet scan has KNOWN divisions (its sorted file list — the index
    space :func:`partitions` slices); any derived frame has unknown
    divisions but a knowable partition COUNT. Mirroring the
    reference's ``_check``: unequal counts -> NO; all scans with equal
    file lists -> YES; equal counts with any unknown-division frame ->
    MAYBE; two known-but-different file lists of the same length -> NO.
    """
    if len(dfs) < 2:
        return PartitionCompatibility.YES
    scans = [_scan_files(d) for d in dfs]
    counts = [
        len(s) if s is not None else d.rdd.getNumPartitions()
        for s, d in zip(scans, dfs)
    ]
    if len(set(counts)) > 1:
        return PartitionCompatibility.NO
    known = [s for s in scans if s is not None]
    if not known:
        return PartitionCompatibility.MAYBE
    ref = known[0]
    if any(s != ref for s in known[1:]):
        return PartitionCompatibility.NO
    if len(known) == len(dfs):
        return PartitionCompatibility.YES
    return PartitionCompatibility.MAYBE


def compatible_partitions(
    *dfs: DataFrame,
    how_strict: int | PartitionCompatibility = PartitionCompatibility.MAYBE,
) -> bool:
    """Boolean form (reference lib/core.py:2845
    ``compatible_partitions``): at the default strictness MAYBE passes
    (counts agree, boundaries unverifiable without compute); pass
    ``PartitionCompatibility.YES`` to require provably identical
    divisions."""
    got = partition_compatibility(*dfs)
    if got == PartitionCompatibility.NO:
        return False
    if got == PartitionCompatibility.MAYBE:
        return how_strict == PartitionCompatibility.MAYBE
    return True
