"""Shared helpers for query plans."""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_awkward_sandbox_spark.io.parquet import from_parquet
from dask_awkward_sandbox_spark.session import scoped_conf

ITEM_FIELDS = [
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
]


# Item order within a list: FULL lexicographic struct order (Spark's
# array_sort over structs). l_linenumber is NOT unique per order in the
# testdata, so oracles must tiebreak on every field to match.
ITEM_ORDER_SQL = (
    "l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, "
    "l_returnflag, l_linestatus"
)


def parquet_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of ``{sf_dir}/{name}.parquet`` from the parquet
    FOOTER metadata — no Spark job, no data read. Sizing decisions
    that only need |table| (e.g. adaptive IVF cell counts) should not
    cost a cluster-wide scan: at 100 TB this is O(files) driver-side
    footer reads (the number any catalog/manifest already carries),
    where ``df.count()`` is a full job per call."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    files = (
        sorted(glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The ``{sf_dir}/{name}.parquet`` source table, through
    ``io.parquet.from_parquet``: the first read in a session infers the
    schema (one Spark job), and later reads of unchanged files under
    the same parquet confs reuse it and launch no job. Each call still
    returns a fresh relation, so reading a table twice and joining the
    two reads is sound. ``events`` gets its ``ts`` normalized to a
    session-tz TIMESTAMP (below)."""
    if name == "events":
        # events.parquet's ``ts`` precision varies by generator run:
        # timestamp[ns] (Spark reads nanos only as long, legacy conf) or
        # timestamp[us] without tz (Spark reads TIMESTAMP_NTZ). Normalize
        # both to a session-tz TIMESTAMP at microsecond precision — the
        # session tz is pinned UTC (session.py), so epoch values match
        # DuckDB's naive-as-UTC reading of the same file. The conf is
        # SCOPED: captured into the DataFrame at read time, then
        # restored so unrelated reads on the shared session are
        # untouched (verified: execution after restore stays correct).
        with scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
            df = from_parquet(spark, f"{sf_dir}/events.parquet")
        from pyspark.sql.types import LongType, TimestampNTZType

        if isinstance(df.schema["ts"].dataType, LongType):
            # integer div: ns values exceed 2**53, double division would
            # lose precision
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            # naive wall time -> instant in the UTC session tz: exact,
            # and what epoch_us(ts) computes on the oracle side
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        from pyspark.sql.types import TimestampType

        # fail loudly if a generator/config change hands us a dtype the
        # dispatch above didn't normalize (e.g. inferTimestampNTZ off):
        # a silent pass-through would shift every windowed oracle
        actual = df.schema["ts"].dataType
        if not isinstance(actual, TimestampType):
            raise TypeError(
                f"events.ts normalized to {actual.simpleString()}, expected timestamp; "
                "update the dispatch in plans/common.py:read"
            )
        return df
    return from_parquet(spark, f"{sf_dir}/{name}.parquet")


def cents(col: Column) -> Column:
    """Exact integer money units: round(x*100) as long.

    Sums of these stay exact (< 2**53) in either engine regardless of
    accumulation order — the backbone of the oracle determinism
    contract (see registry.py docstring).
    """
    return F.round(col * 100).cast("long")


def order_items(
    spark: SparkSession,
    sf_dir: str,
    fields: list[str] | None = None,
    where: Column | None = None,
) -> DataFrame:
    """The awkward-style nested collection: one row per order with an
    ``items: array<struct>`` column, list-ordered by l_linenumber.

    ``l_linenumber`` leads the struct so ``array_sort``'s lexicographic
    struct ordering matches the oracle's ORD prefix. NOTE: linenumber
    REPEATS within an order in this testdata, so determinism comes
    from the full struct being the sort key, not from any single
    field; pruned builds are only safe when tie groups on the pruned
    prefix are value-indistinguishable in every exposed output.

    ``fields`` is the necessary-columns hook: pass the subset a query
    actually touches and only those bytes reach the shuffle. With a
    subset, list order among linenumber ties differs from the full
    struct order — only order-INSENSITIVE queries (reductions,
    value-sorts) may prune; positional ops must take full ITEM_FIELDS.

    Scale note: this groupBy is the single shuffle of the nested
    pipeline; every downstream axis=1 operator is shuffle-free. On a
    real cluster the lineitem table would be bucketed by l_orderkey
    (``bucketBy``) making even this build shuffle-free.

    ``where`` filters lineitem BEFORE the groupBy (scan-side, so only
    matching rows reach the shuffle) — the r11 bounded-HOF-leg hook:
    gate slots run the retained HOF composition over a deterministic
    subsample so the driver hash executes the operator code paths at
    ~0.5% of the full-build cost.
    """
    fields = fields or ITEM_FIELDS
    assert fields[0] == "l_linenumber", "linenumber must lead for deterministic sort"
    li = read(spark, sf_dir, "lineitem")
    if where is not None:
        li = li.filter(where)
    return li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list(F.struct(*fields))).alias("items")
    )


def fld(arr: Column, name: str) -> Column:
    """Project one field out of an array<struct> -> array<field type>.

    Uses ``getField`` (GetArrayStructFields), NOT a ``transform``
    lambda: Catalyst's nested-schema pruning sees through the former
    and narrows the parquet ReadSchema to the one leaf, but cannot
    prune through a lambda body — a transform here silently reads
    every struct field off disk (verified in tests/test_plans.py)."""
    return arr.getField(name)


def fld_map(arr: Column, name: str, f) -> Column:
    """Extract ``name`` from each struct, then map ``f`` over the
    values — the pruning-friendly spelling of
    ``transform(arr, s -> f(s[name]))``."""
    return F.transform(arr.getField(name), f)


def staged_stream_dir(path: str, key: str, build) -> None:
    """Build a DETERMINISTIC stream-input directory once and reuse it
    across invocations (r14, verdict item 2): the streaming gate slots
    used to re-write their json input files (a full events/documents
    table, repartition(1)) on EVERY call — pure fixed cost, since the
    staged bytes are a function of the source table alone. ``key``
    must encode everything the staging depends on (a format-version
    tag + the source identity, e.g. its footer row count); a sibling
    marker file records the key, and any mismatch — new staging code,
    different dataset under the same path — rebuilds from scratch.
    The marker lives NEXT TO the dir, never inside it: the json file
    source reads every file in its directory regardless of extension,
    and a stray marker would parse as a corrupt-record row.

    Reuse is sound for the replay contracts because each run still
    starts its stream from a FRESH checkpoint (the slots rmtree their
    checkpoint/store dirs per call); only the input bytes — and their
    backdated mtime ordering, which persists on disk — are shared."""
    import hashlib
    import os
    import shutil

    marker = path.rstrip("/") + ".staged_" + hashlib.md5(
        key.encode()
    ).hexdigest()[:16]
    if os.path.isfile(marker) and os.path.isdir(path):
        return
    # drop stale markers for this path (old keys) before rebuilding
    import glob

    for m in glob.glob(path.rstrip("/") + ".staged_*"):
        os.unlink(m)
    shutil.rmtree(path, ignore_errors=True)
    build()
    with open(marker, "w") as f:
        f.write(key)


def backdate_files(path: str, seconds: float = 30.0) -> None:
    """Push every file currently under ``path`` ``seconds`` into the
    past (os.utime). The file stream source orders files by mtime, so
    a later append lands in a strictly later micro-batch WITHOUT the
    wall-clock sleep the gate slots used to pay (late r11 — three
    1.2s sleeps per q_stream_dedup run, one per q_ann_ivf_assign):
    backdating what's already on disk is deterministic regardless of
    how fast the second write follows."""
    import os
    import time

    past = time.time() - seconds
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            os.utime(p, (past, past))
