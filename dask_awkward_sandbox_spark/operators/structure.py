"""Structure operations over nested (array / struct) columns.

Spark-first re-expression of the reference's structure surface
(``/root/reference/src/dask_awkward/lib/structure.py``): every
function here is Column -> Column built from JVM higher-order
functions, so it runs inside whole-stage codegen with zero Python in
the row path and zero shuffles. Table-level variants (explode,
concatenate, unflatten) take/return DataFrames.

ANSI-safety: Spark 4 defaults to ANSI mode, so all element accesses
use ``F.get`` (null on out-of-bounds) and casts from strings use
``try_cast`` — semantics match awkward's option-type behavior
(missing, not error).

Reference parity notes cite file:line of the reference.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# list shape
# ---------------------------------------------------------------------------


def let(*cols: Column, body) -> Column:
    """Bind each expression ONCE and hand them to ``body`` as lambda
    variables (a singleton-array ``transform``).

    Catalyst has no CSE across higher-order-function lambdas (fresh
    lambda-variable ids make identical subtrees unequal) and HOFs run
    interpreted, so a subtree referenced k times re-evaluates k times —
    and one referenced inside a per-ELEMENT lambda re-evaluates n
    times, turning an O(n) operator into O(n²) per list. Lambda-variable
    reads are O(1), so routing shared subtrees through this bind makes
    composite operators single-evaluation. Arithmetic is untouched
    (same expressions, same order) — only evaluation count drops, so
    oracle bit-exactness is preserved.
    """
    bound = F.array(F.struct(*[c.alias(f"_b{i}") for i, c in enumerate(cols)]))
    return F.get(
        F.transform(bound, lambda s: body(*[s[f"_b{i}"] for i in range(len(cols))])), 0
    )


def num(arr: Column) -> Column:
    """Length of each list. Null list -> null.

    Parity: structure.py:num (ak.num axis=1).
    """
    return F.size(arr).cast("long")


def flatten(arr: Column) -> Column:
    """Remove one level of nesting from array<array<T>> -> array<T>.

    For flattening a list column into rows (awkward axis=1 flatten of
    the outermost list), use :func:`explode_flatten` at table level.
    Parity: structure.py:flatten.
    """
    return F.flatten(arr)


def explode_flatten(df: DataFrame, arr_col: str, keep: Sequence[str] = ()) -> DataFrame:
    """Table-level flatten: one output row per list element.

    Parity: ak.flatten(axis=1) on the collection; Spark expresses it
    as a generator (explode) which Catalyst pipelines with the scan —
    no shuffle.
    """
    cols = [F.col(c) for c in keep]
    return df.select(*cols, F.explode(F.col(arr_col)).alias(arr_col))


def ravel(df: DataFrame, arr_col: str) -> DataFrame:
    """Fully flatten a (possibly doubly-nested) list column to rows."""
    c = F.col(arr_col)
    return df.select(F.explode(c).alias("_v")).select(F.col("_v").alias(arr_col))


def local_index(arr: Column) -> Column:
    """0-based index of each element within its list.

    Parity: structure.py:local_index.
    """
    return F.transform(arr, lambda _, i: i.cast("long"))


def run_lengths(arr: Column) -> Column:
    """Lengths of runs of consecutive equal values within each list.

    Parity: structure.py:run_lengths. Elements are compared in their
    NATIVE type with null-safe equality (``<=>`` semantics): a run of
    consecutive nulls counts as one run, and Spark's NaN-self-equality
    makes consecutive NaNs one run too — no stringification, so
    ``1.0`` vs ``"1"`` cross-type accidents cannot happen and struct /
    decimal elements compare exactly.

    Two O(n) JVM passes per list: (1) collect run-START indices (i==0
    or a[i] <=> a[i-1] fails), (2) pairwise-diff the starts against
    their successors (last run ends at size(a)).
    """

    def build(a: Column) -> Column:
        n = F.size(a)
        starts = F.filter(
            F.transform(a, lambda _, i: i),
            lambda i: (i == F.lit(0)) | ~F.get(a, i).eqNullSafe(F.get(a, i - 1)),
        )
        nexts = F.concat(
            F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
            F.array(n),
        )
        lengths = F.zip_with(starts, nexts, lambda s, e: (e - s).cast("long"))
        # empty input: zip_with([], [0]) would pad to one null-start row
        return F.when(n == 0, F.array().cast("array<long>")).otherwise(lengths)

    # let-bound: `a` is referenced inside its own per-element lambdas
    return let(arr, body=build)


# ---------------------------------------------------------------------------
# zip / unzip / record fields
# ---------------------------------------------------------------------------


def zip(named: dict[str, Column]) -> Column:  # noqa: A001 - mirrors ak.zip
    """Zip equal-length list columns into one array<struct>.

    Parity: structure.py:zip. ``arrays_zip`` keeps it JVM-side and
    names struct fields after the dict keys.
    """
    return F.arrays_zip(*[v.alias(k) for k, v in named.items()])


def unzip(arr: Column, fields: Sequence[str]) -> list[Column]:
    """Inverse of :func:`zip`: array<struct> -> one array per field.

    Parity: structure.py:unzip. ``getField`` (GetArrayStructFields)
    rather than a transform lambda, so parquet nested-schema pruning
    narrows the scan to the extracted leaves.
    """
    return [arr.getField(f).alias(f) for f in fields]


def with_field(arr: Column, name: str, value_fn) -> Column:
    """Add/replace a field on each struct element of array<struct>.

    ``value_fn`` maps the element struct Column to the new field.
    Parity: structure.py:with_field.
    """
    return F.transform(arr, lambda s: s.withField(name, value_fn(s)))


def without_field(arr: Column, name: str) -> Column:
    """Drop a field from each struct element. Parity: structure.py:without_field."""
    return F.transform(arr, lambda s: s.dropFields(name))


# ---------------------------------------------------------------------------
# cartesian / combinations
# ---------------------------------------------------------------------------


def cartesian(a: Column, b: Column) -> Column:
    """All (x, y) pairs from two parallel lists, nested=False.

    Parity: structure.py:cartesian — fields named "0"/"1" in awkward;
    here ``_0``/``_1`` for SQL-identifier friendliness.

    Inputs are ``let``-bound: ``b`` sits inside ``a``'s per-element
    lambda, so an unbound complex expression would re-derive per
    element (O(n²) re-evaluation, see :func:`let`).
    """
    return let(
        a,
        b,
        body=lambda aa, bb: F.flatten(
            F.transform(
                aa,
                lambda x: F.transform(
                    bb, lambda y: F.struct(x.alias("_0"), y.alias("_1"))
                ),
            )
        ),
    )


def argcartesian(a: Column, b: Column) -> Column:
    """Index pairs version of :func:`cartesian`. Parity: structure.py:argcartesian."""
    return let(
        a,
        b,
        body=lambda aa, bb: F.flatten(
            F.transform(
                aa,
                lambda _, i: F.transform(
                    bb,
                    lambda __, j: F.struct(
                        i.cast("long").alias("_0"), j.cast("long").alias("_1")
                    ),
                ),
            )
        ),
    )


def combinations(a: Column) -> Column:
    """All unordered element pairs (i < j) within each list.

    Parity: structure.py:combinations (n=2, replacement=False).
    ``a`` is ``let``-bound — it appears inside its own per-element
    lambda (the tail slice), see :func:`let`.
    """

    def build(aa: Column) -> Column:
        n = F.size(aa)
        return F.flatten(
            F.transform(
                aa,
                lambda x, i: F.transform(
                    F.slice(aa, i + 2, F.greatest(n - i - 1, F.lit(0))),
                    lambda y: F.struct(x.alias("_0"), y.alias("_1")),
                ),
            )
        )

    return let(a, body=build)


def argcombinations(a: Column) -> Column:
    """Index-pair version of :func:`combinations`."""

    def build(aa: Column) -> Column:
        n = F.size(aa)
        return F.flatten(
            F.transform(
                aa,
                lambda _, i: F.transform(
                    F.sequence(i + 1, n - 1),
                    lambda j: F.struct(
                        i.cast("long").alias("_0"), j.cast("long").alias("_1")
                    ),
                ),
            )
        )

    return let(a, body=build)


# ---------------------------------------------------------------------------
# sorting
# ---------------------------------------------------------------------------


def _nan_flag(x: Column) -> Column:
    """Type-safe "is NaN" for comparator branches: exact on float /
    double (``try_cast`` is the identity there), constant-false on
    ints / decimals / non-numeric strings (cast fails -> null ->
    coalesce false). Known edge, documented: a STRING element that
    itself parses as NaN ("nan"/"NaN") takes the NaN sort rank.
    ``F.isnan`` alone cannot be used — on a string column Catalyst
    inserts an implicit ANSI cast that THROWS on the first
    non-numeric value."""
    return F.coalesce(F.isnan(x.try_cast("double")), F.lit(False))


def sort(arr: Column, ascending: bool = True) -> Column:
    """Sort each list. Parity: structure.py:sort — None last in BOTH
    directions, and NaN after all non-null values (before the Nones)
    in BOTH directions, matching numpy/awkward nan-last.

    awkward places None last in BOTH directions, so descending cannot be
    ``reverse(array_sort(...))`` (that would move nulls first).  Ascending
    stays on the built-in ``array_sort``, which is already nulls-last AND
    NaN-before-nulls (Spark orders NaN greater than every other double).
    Descending needs explicit NaN branches: Spark's NaN-greatest total
    order would otherwise put NaN FIRST when the value comparison is
    flipped.
    """
    if ascending:
        return F.array_sort(arr)

    def cmp(l: Column, r: Column) -> Column:  # noqa: E741
        ln, rn = _nan_flag(l), _nan_flag(r)
        return (
            F.when(l.isNull() & r.isNull(), F.lit(0))
            .when(l.isNull(), F.lit(1))
            .when(r.isNull(), F.lit(-1))
            .when(ln & rn, F.lit(0))
            .when(ln, F.lit(1))
            .when(rn, F.lit(-1))
            .when(l > r, F.lit(-1))
            .when(l < r, F.lit(1))
            .otherwise(F.lit(0))
        ).cast("int")

    return F.array_sort(arr, cmp)


def argsort(arr: Column, ascending: bool = True) -> Column:
    """Indices that would sort each list. Parity: structure.py:argsort.

    Stable: ties keep original order (comparator falls back to index).
    NaN ranks after all non-null values, before nulls, in BOTH
    directions (numpy parity). Ascending needs no NaN branch — Spark's
    comparison order already places NaN greatest, and NaN-vs-NaN falls
    through to the stable index tiebreak; descending flips the value
    comparison so NaN must be pinned explicitly (see :func:`sort`).
    """
    pairs = F.transform(arr, lambda x, i: F.struct(x.alias("v"), i.cast("long").alias("i")))

    if ascending:

        def cmp(l: Column, r: Column) -> Column:  # noqa: E741
            return (
                F.when(l["v"].isNull() & r["v"].isNull(), l["i"] - r["i"])
                .when(l["v"].isNull(), F.lit(1))
                .when(r["v"].isNull(), F.lit(-1))
                .when(l["v"] < r["v"], F.lit(-1))
                .when(l["v"] > r["v"], F.lit(1))
                .otherwise(l["i"] - r["i"])
            ).cast("int")

    else:

        def cmp(l: Column, r: Column) -> Column:  # noqa: E741
            ln, rn = _nan_flag(l["v"]), _nan_flag(r["v"])
            return (
                F.when(l["v"].isNull() & r["v"].isNull(), l["i"] - r["i"])
                .when(l["v"].isNull(), F.lit(1))
                .when(r["v"].isNull(), F.lit(-1))
                .when(ln & rn, l["i"] - r["i"])
                .when(ln, F.lit(1))
                .when(rn, F.lit(-1))
                .when(l["v"] > r["v"], F.lit(-1))
                .when(l["v"] < r["v"], F.lit(1))
                .otherwise(l["i"] - r["i"])
            ).cast("int")

    return F.transform(F.array_sort(pairs, cmp), lambda s: s["i"])


# ---------------------------------------------------------------------------
# option-type (missing value) handling
# ---------------------------------------------------------------------------


def firsts(arr: Column) -> Column:
    """First element of each list, null if empty. Parity: structure.py:firsts."""
    return F.get(arr, 0)


def singletons(x: Column) -> Column:
    """Wrap non-null scalars in 1-element lists, nulls in empty lists.

    Parity: structure.py:singletons.
    """
    return F.when(x.isNotNull(), F.array(x)).otherwise(F.slice(F.array(x), 1, 0))


def pad_none(arr: Column, target: int, clip: bool = False) -> Column:
    """Pad each list with nulls up to ``target`` length.

    Parity: structure.py:pad_none. ``clip`` truncates to exactly
    ``target``.
    """
    def build(a: Column) -> Column:
        padded = F.concat(
            a,
            F.array_repeat(
                _null_like(a), F.greatest(F.lit(target) - F.size(a), F.lit(0))
            ),
        )
        return F.slice(padded, 1, target) if clip else padded

    # let-bound: the input is referenced four times (concat, repeat
    # count, null-element typing); see :func:`let`
    return let(arr, body=build)


def _null_like(arr: Column) -> Column:
    # A null element of the same type as arr's elements: F.get on an
    # empty slice is out-of-bounds -> typed null, no schema knowledge needed.
    return F.get(F.slice(arr, 1, 0), 0)


def fill_none(arr: Column, value) -> Column:
    """Replace null elements with ``value``. Parity: structure.py:fill_none."""
    v = value if isinstance(value, Column) else F.lit(value)
    return F.transform(arr, lambda x: F.coalesce(x, v))


def drop_none(arr: Column) -> Column:
    """Remove null elements. Parity: structure.py:drop_none."""
    return F.filter(arr, lambda x: x.isNotNull())


def is_none(arr: Column) -> Column:
    """Per-element null flag. Parity: structure.py:is_none (axis=1)."""
    return F.transform(arr, lambda x: x.isNull())


def mask(arr: Column, cond: Column, valid_when: bool = True) -> Column:
    """Element-wise mask: keep value where cond==valid_when else null.

    ``cond`` is a parallel array<boolean>. Parity: structure.py:mask.
    """
    flag = (lambda m: m) if valid_when else (lambda m: ~m)
    return F.zip_with(arr, cond, lambda x, m: F.when(flag(m), x))


def where(cond: Column, x: Column, y: Column) -> Column:
    """Element-wise select from parallel lists. Parity: structure.py:where."""
    pair = F.zip_with(x, y, lambda a, b: F.struct(a.alias("a"), b.alias("b")))
    return F.zip_with(cond, pair, lambda c, p: F.when(c, p["a"]).otherwise(p["b"]))


# ---------------------------------------------------------------------------
# elementwise numerics / casts
# ---------------------------------------------------------------------------


def values_astype(arr: Column, dtype: str) -> Column:
    """Cast each element. Parity: structure.py:values_astype."""
    return F.transform(arr, lambda x: x.cast(dtype))


def strings_astype(arr: Column, dtype: str) -> Column:
    """Parse string elements to ``dtype``; unparseable -> null (option
    type), matching awkward's missing-value semantics under ANSI mode.
    Parity: structure.py:strings_astype.
    """
    return F.transform(arr, lambda x: x.try_cast(dtype))


def full_like(arr: Column, value) -> Column:
    """Same-shape list filled with ``value``. Parity: structure.py:full_like."""
    v = value if isinstance(value, Column) else F.lit(value)
    return F.transform(arr, lambda _: v)


def ones_like(arr: Column) -> Column:
    return full_like(arr, F.lit(1.0))


def zeros_like(arr: Column) -> Column:
    return full_like(arr, F.lit(0.0))


def isclose(a: Column, b: Column, rtol: float = 1e-05, atol: float = 1e-08) -> Column:
    """Element-wise approximate equality of parallel lists.

    Parity: structure.py:isclose (numpy semantics).
    """
    return F.zip_with(
        a,
        b,
        lambda x, y: F.abs(x - y) <= (F.lit(atol) + F.lit(rtol) * F.abs(y)),
    )


def nan_to_num(arr: Column, nan: float = 0.0) -> Column:
    """Replace NaN elements. Parity: structure.py:nan_to_num."""
    return F.transform(arr, lambda x: F.when(F.isnan(x), F.lit(nan)).otherwise(x))


def _coerce(col: Column, src_t, tgt_t) -> Column:
    """Recursively coerce ``col`` from ``src_t`` to ``tgt_t``."""
    from pyspark.sql import types as T

    if src_t == tgt_t:
        return col
    if isinstance(tgt_t, T.StructType):
        if not isinstance(src_t, T.StructType):
            raise TypeError(f"cannot enforce {src_t.simpleString()} -> struct")
        src_fields = {f.name: f.dataType for f in src_t.fields}
        out = []
        for f in tgt_t.fields:
            if f.name in src_fields:
                out.append(_coerce(col[f.name], src_fields[f.name], f.dataType).alias(f.name))
            else:
                # new field: all-missing option type, like ak.enforce_type
                out.append(F.lit(None).cast(f.dataType).alias(f.name))
        # guard: F.struct() alone would materialize a MISSING record
        # into a present all-null-fields record, breaking option-type
        # parity (a null struct must stay null)
        return F.when(col.isNotNull(), F.struct(*out))
    if isinstance(tgt_t, T.ArrayType):
        if not isinstance(src_t, T.ArrayType):
            raise TypeError(f"cannot enforce {src_t.simpleString()} -> array")
        return F.transform(col, lambda x: _coerce(x, src_t.elementType, tgt_t.elementType))
    if isinstance(tgt_t, T.MapType):
        if not isinstance(src_t, T.MapType):
            raise TypeError(f"cannot enforce {src_t.simpleString()} -> map")
        # KEYS use a strict cast: maps cannot hold null keys, so an
        # unparseable key must raise (ANSI cast error), not become the
        # null option a try_cast would produce (runtime map crash)
        m = F.transform_keys(
            col, lambda k, _: k if src_t.keyType == tgt_t.keyType
            else k.cast(tgt_t.keyType.simpleString())
        )
        return F.transform_values(m, lambda _, v: _coerce(v, src_t.valueType, tgt_t.valueType))
    # atomic: try_cast so unconvertible values become null (option
    # type), matching awkward's missing-value packing under ANSI mode
    return col.try_cast(tgt_t.simpleString())


def with_parameter(df: DataFrame, column: str, key: str, value) -> DataFrame:
    """ak.with_parameter: attach a layout parameter to a column.

    Spark analogue: column METADATA on the schema field — it rides the
    plan, survives ``parquet`` write/read (Spark serializes field
    metadata into the file's schema JSON), and is readable back via
    :func:`parameters`. Parity: reference lib/structure.py
    ``with_parameter``. Behavior DISPATCH (awkward's class registry
    keyed on ``__record__``) lives in :mod:`.behaviors` — this stores
    and transports the tags; ``behaviors.behavior_from_parameters``
    rehydrates mixin dispatch from them after a parquet roundtrip.
    """
    md = dict(df.schema[column].metadata or {})
    md[key] = value
    return df.withColumn(column, F.col(column).alias(column, metadata=md))


def with_name(df: DataFrame, column: str, name: str) -> DataFrame:
    """ak.with_name: set the record name (the ``__record__``
    parameter). Parity: reference lib/structure.py ``with_name``."""
    return with_parameter(df, column, "__record__", name)


def parameters(df: DataFrame, column: str) -> dict:
    """Read a column's layout parameters (ak ``.layout.parameters``)."""
    return dict(df.schema[column].metadata or {})


def without_parameters(df: DataFrame, column: str) -> DataFrame:
    """ak.without_parameters: strip all layout parameters."""
    return df.withColumn(column, F.col(column).alias(column, metadata={}))


def enforce_type(df: DataFrame, target) -> DataFrame:
    """Coerce a whole collection to a target schema.

    Parity: structure.py:enforce_type (ak.enforce_type via
    map_partitions in the reference). Spark-first: the coercion is a
    single Project of recursively-built cast expressions — no Python
    in the row path, fully codegen'd, and column pruning still reaches
    the scan because every expression is rooted at a named column.

    Rules (mirroring ak.enforce_type's structural coercions):
    - atomic -> atomic: ``try_cast`` (unparseable -> null option)
    - array -> array / map -> map: recurse on element/key/value
    - struct -> struct: recurse per target field; fields missing from
      the source become all-null (option) columns; source fields not
      in the target are dropped (projection)
    - top level: same add/drop semantics over df.columns

    ``target`` is a ``StructType`` or a DDL string like
    ``"a bigint, items array<struct<x: int, y: string>>"``.
    """
    from pyspark.sql import types as T

    if isinstance(target, str):
        target = T.StructType.fromDDL(target)
    src = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for f in target.fields:
        if f.name in src:
            cols.append(_coerce(F.col(f.name), src[f.name], f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


# ---------------------------------------------------------------------------
# concatenate / unflatten / broadcast
# ---------------------------------------------------------------------------


def concatenate(dfs: Sequence[DataFrame]) -> DataFrame:
    """axis=0 concatenation of partitioned collections.

    Parity: operations.py:concatenate. ``unionByName`` is a pure
    metadata operation — no shuffle, partitions append.
    """
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def concatenate_axis1(arrs: Sequence[Column]) -> Column:
    """axis=1 concatenation: element-wise list append. Parity:
    operations.py:concatenate(axis=1)."""
    return F.concat(*arrs)


def unflatten(df: DataFrame, value_col: str, order_col: str, counts: Sequence[int]) -> DataFrame:
    """Re-nest a flat column into lists of the given ``counts``,
    taking elements in ``order_col`` order (``order_col`` must be a
    unique key for the ranks to be well-defined).

    Parity: structure.py:unflatten — including ak's edge semantics: a
    count of 0 yields an empty list for that group, and a counts sum
    that does not equal the row count raises ``ValueError`` instead of
    silently dropping rows.

    Distributed strategy (NO global-window rank — a
    ``Window.orderBy`` with no partition funnels every row through one
    task): range-partition + sort by ``order_col``, persist that
    layout, then (1) one tiny job collects per-partition row counts to
    the driver, (2) a narrow ``mapInArrow`` pass assigns each row
    global_rank = partition_offset + local_index and its group id by
    binary search over the counts prefix sums — all partitions rank in
    parallel. One groupBy(gid) shuffle re-nests. The global sort is
    the honest cost of unflatten's ordered semantics; everything after
    it is parallel.
    """
    import numpy as np
    import pyarrow as pa

    starts: list[int] = [0]
    for c in counts:
        starts.append(starts[-1] + int(c))
    total = starts[-1]
    ends = np.asarray(starts[1:], dtype=np.int64)

    spark = df.sparkSession
    vtype = df.schema[value_col].dataType.simpleString()
    nparts = max(1, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    prep = (
        df.select(F.col(order_col).alias("_ord"), F.col(value_col).alias("_v"))
        .repartitionByRange(nparts, F.col("_ord"))
        .sortWithinPartitions("_ord")
        .select(F.spark_partition_id().alias("_pid"), "_v")
        .persist()
    )
    try:
        # pass 1: per-partition counts -> cumulative offsets (driver-side,
        # |partitions| rows). Persisting `prep` pins the range boundaries so
        # pass 2 sees the identical layout.
        sizes = dict(prep.groupBy("_pid").count().collect())
        nrows = sum(sizes.values())
        if nrows != total:
            raise ValueError(
                f"unflatten: counts sum to {total} but the column has {nrows} rows"
            )
        offsets = {}
        acc = 0
        for pid in sorted(sizes):
            offsets[pid] = acc
            acc += sizes[pid]

        # pass 2: narrow rank + group assignment, all partitions parallel
        def assign(batches):
            consumed: dict[int, int] = {}
            for b in batches:
                if b.num_rows == 0:
                    continue
                pid = b.column("_pid")[0].as_py()
                base = offsets[pid] + consumed.get(pid, 0)
                consumed[pid] = consumed.get(pid, 0) + b.num_rows
                ranks = np.arange(base, base + b.num_rows, dtype=np.int64)
                gids = np.searchsorted(ends, ranks, side="right")
                yield pa.record_batch(
                    [pa.array(gids), pa.array(ranks), b.column("_v")],
                    names=["gid", "_rank", "_v"],
                )

        ranked = prep.mapInArrow(assign, f"gid long, _rank long, _v {vtype}")
        grouped = ranked.groupBy("gid").agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_rank").alias("r"), F.col("_v").alias("v")))
            ).alias("_p")
        )
        # left join from the full group table: zero-count groups emit []
        out = (
            spark.range(len(counts)).toDF("gid")
            .join(grouped, "gid", "left")
            .select(
                "gid",
                F.coalesce(
                    F.transform("_p", lambda s: s["v"]),
                    F.array().cast(f"array<{vtype}>"),
                ).alias(value_col),
            )
        )
        # materialize before unpersisting the sorted layout
        out = out.localCheckpoint(eager=True)
    finally:
        prep.unpersist()
    return out


def broadcast_arrays(scalar: Column, arr: Column) -> tuple[Column, Column]:
    """Broadcast a per-row scalar against a per-row list: the scalar
    becomes a list of the same length (ak.broadcast_arrays for the
    scalar-vs-list case — the only shape Spark's type system admits).
    Inside HOF lambdas the scalar can instead be referenced directly,
    which is what the fused operators do; this exists for the explicit
    collection-level form. Parity: structure.py:broadcast_arrays."""
    return F.transform(arr, lambda _: scalar), arr


def to_regular(arr: Column) -> Column:
    """No-op: Spark arrays are always variable-length; regularity is a
    property awkward tracks in the type, with no Spark analogue.
    Parity: structure.py:to_regular."""
    return arr


def from_regular(arr: Column) -> Column:
    """No-op counterpart of ``to_regular``. Parity:
    structure.py:from_regular."""
    return arr


# ---------------------------------------------------------------------------
# awkward keyword-surface compatibility (r6; see operators/akcompat.py)
# ---------------------------------------------------------------------------
from dask_awkward_sandbox_spark.operators.akcompat import apply_surface as _aks  # noqa: E402

_aks(globals(), {
    "flatten": {}, "num": {},
    "local_index": {"axis": (-1, 1), "axis_default": -1},
    "run_lengths": {"axis": None},
    "zip": {"axis": None, "fixed": {"depth_limit": None, "with_name": None,
                                    "right_broadcast": False}},
    "with_field": {"axis": None},
    # ak.cartesian/argcartesian take a LIST of arrays; ours unpacks it
    "cartesian": {"fixed": {"nested": (None, False)}, "unpack_first_sequence": True},
    "argcartesian": {"fixed": {"nested": (None, False)}, "unpack_first_sequence": True},
    # ak.combinations(array, n, ...) — n rides positionally in ported
    # code; only pairs are implemented
    "combinations": {"fixed": {"replacement": False},
                     "fixed_pos": [(1, "n", 2)]},
    "argcombinations": {"fixed": {"replacement": False},
                        "fixed_pos": [(1, "n", 2)]},
    "sort": {"axis": (-1, 1), "axis_default": -1, "fixed": {"stable": True}},
    "argsort": {"axis": (-1, 1), "axis_default": -1, "fixed": {"stable": True}},
    "firsts": {},
    "singletons": {"axis": (0,), "axis_default": 0},
    "pad_none": {},
    "fill_none": {"axis": (-1, 1, None), "axis_default": -1},
    "drop_none": {"axis": (-1, 1, None), "axis_default": None},
    "mask": {"axis": None},
    "where": {"axis": None, "fixed": {"mergebool": True}},
    "values_astype": {"axis": None},
    "full_like": {"axis": None, "fixed": {"dtype": None}},
    "ones_like": {"axis": None, "fixed": {"dtype": None}},
    "zeros_like": {"axis": None, "fixed": {"dtype": None}},
    "nan_to_num": {"axis": None, "fixed": {"posinf": None, "neginf": None}},
    "isclose": {"axis": None, "fixed": {"equal_nan": False}},
    # ak.concatenate(arrays, axis=0): ours is the DataFrame-level
    # axis=0 union; axis=1 has the dedicated concatenate_axis1
    "concatenate": {"axis": (0,), "axis_default": 0},
    "broadcast_arrays": {"axis": None},
    "to_regular": {"axis": (-1, 1, None), "axis_default": -1},
    "from_regular": {"axis": (-1, 1, None), "axis_default": -1},
})
