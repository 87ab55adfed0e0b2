"""Awkward-style ``__getitem__`` dispatch over nested list columns.

Spark-first re-expression of the reference's getitem surface
(reference lib/core.py ``Array.__getitem__`` dispatch, exercised by
reference tests/test_getitem.py): single/multi/layered string field
selection, per-list integer pick (incl. negatives), full Python slice
semantics (negative endpoints, step, negative step), jagged boolean
masks, Ellipsis, and tuple (multi-axis) indexing — with the same
error surface for the unsupported forms (lists of ints, boolean
arrays inside tuples, more sliced axes than the array has).

Axis mapping: the reference's axis 0 is our DataFrame row axis
(:func:`rows` below); axes >=1 live inside a nested column and every
form lowers to Catalyst expressions (``getField`` / ``element_at`` /
``sequence`` + ``transform`` / ``filter``) — whole-stage codegen,
zero Python in the row path, so a slice over 100 TB is a scan-side
projection.

Divergence (documented, option-type instead of error): awkward raises
IndexError when an integer pick is out of range for SOME list;
``element_at`` under non-ANSI SQL yields null, so here an
out-of-range pick is an option-type value — the distributed-friendly
contract (a raise would abort a 1000-executor job for one short
list).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .structure import let

__all__ = ["getitem", "rows", "list_slice", "boolean_mask", "select_fields"]


def _is_int(x) -> bool:
    # covers Python ints and numpy integer scalars, but NOT bools
    # (True is an instance of int; awkward treats it as unsupported)
    if isinstance(x, bool):
        return False
    if isinstance(x, int):
        return True
    return hasattr(x, "dtype") and getattr(x, "ndim", None) == 0 and x.dtype.kind in "iu"


def select_fields(arr: Column, names: list[str]) -> Column:
    """Project a subset of struct fields: ``a[["x", "y"]]``.

    Built from per-field ``getField`` legs zipped back together
    (``arrays_zip`` over GetArrayStructFields) rather than a
    ``transform`` struct-rebuild: Catalyst prunes the parquet
    ReadSchema through the former but not through a lambda body (same
    reasoning as plans/common.py:fld).
    """
    if not names:
        raise ValueError("empty field selection")
    return F.arrays_zip(*[arr.getField(n).alias(n) for n in names])


def boolean_mask(arr: Column, mask: Column) -> Column:
    """Jagged boolean compaction: keep elements where ``mask`` is true.

    ``a[a > 2]`` semantics at axis>=1 (reference
    tests/test_getitem.py:test_boolean_array): both sides are
    per-row lists of equal length; the result drops the false/null
    slots (compaction, unlike :func:`structure.mask` which nulls
    them).
    """
    zipped = F.arrays_zip(arr.alias("v"), mask.alias("m"))
    return F.transform(F.filter(zipped, lambda s: s["m"]), lambda s: s["v"])


def element_pick(arr: Column, i: int) -> Column:
    """Per-list integer pick with negative support: ``a[:, i]``.

    Out-of-range yields null (see module docstring divergence note).
    """
    i = int(i)
    # F.get is 0-based and null-on-out-of-range; try_element_at is the
    # negative-index form that stays null-safe under ANSI SQL
    return F.get(arr, i) if i >= 0 else F.try_element_at(arr, F.lit(i))


def list_slice(arr: Column, sl: slice) -> Column:
    """Full Python slice semantics per list: negatives, step, negative
    step — exactly ``slice.indices`` lowered to Catalyst.

    Plain ``F.slice`` covers only (start, length); this builds the
    0-based index sequence per row and picks through it, all JVM-side.
    The common step==1 forms short-circuit to ``F.slice`` so the
    simple cases stay single-expression.
    """
    step = 1 if sl.step is None else int(sl.step)
    if step == 0:
        raise ValueError("slice step cannot be zero")
    start, stop = sl.start, sl.stop

    # fast paths: step 1 maps onto F.slice directly
    if step == 1:
        if start is None and stop is None:
            return arr  # a[:] — identity
        if (start is None or start >= 0) and stop is None:
            return F.slice(arr, (start or 0) + 1, 2147483647)
        if start is None and stop is not None and stop >= 0:
            return F.slice(arr, 1, stop)
        if start is not None and start >= 0 and stop is not None and stop >= 0:
            if stop <= start:
                return F.slice(arr, 1, 0)
            return F.slice(arr, start + 1, stop - start)
        if start is not None and start < 0 and stop is None:
            # last -start elements (fewer if the list is shorter)
            def _tail(a: Column) -> Column:
                return F.slice(a, F.greatest(F.size(a) + start + 1, F.lit(1)), -start)

            return let(arr, body=_tail)

    # general path: slice.indices(n) per row
    def build(a: Column) -> Column:
        n = F.size(a)
        if step > 0:
            lower, upper = F.lit(0), n
        else:
            lower, upper = F.lit(-1), n - 1

        def norm(e, default):
            if e is None:
                return default
            e = int(e)
            ec = F.lit(e) + n if e < 0 else F.lit(e)
            return F.greatest(lower, F.least(ec, upper))

        s = norm(start, upper if step < 0 else lower)
        e = norm(stop, lower if step < 0 else upper)
        nonempty = (s < e) if step > 0 else (s > e)
        # sequence is inclusive of its end; pull the end one step in
        seq_end = e - 1 if step > 0 else e + 1
        idxs = F.when(nonempty, F.sequence(s, seq_end, F.lit(step))).otherwise(
            F.array().cast("array<int>")
        )
        # a NULL list must slice to null, not [] (the otherwise-branch
        # above would swallow the option)
        return F.when(a.isNotNull(), F.transform(idxs, lambda i: F.get(a, i)))

    return let(arr, body=build)


def _apply_at_depth(expr: Column, depth: int, fn) -> Column:
    """Apply ``fn`` to the value ``depth`` list-levels below ``expr``."""
    if depth <= 0:
        return fn(expr)
    return F.transform(expr, lambda x: _apply_at_depth(x, depth - 1, fn))


def getitem(arr: Column, index, ndim: int | None = None) -> Column:
    """The dispatcher: ``a[index]`` for a nested list/struct Column.

    ``index`` forms (reference ``Array.__getitem__`` parity at
    axis>=1):

    - ``str`` — field selection (pruning-friendly ``getField``)
    - ``list[str]`` — multi-field struct projection
    - ``int`` — per-list element pick, negatives supported
    - ``slice`` — full Python slice semantics incl. step
    - ``Column`` — jagged boolean mask (compaction)
    - ``...`` — identity alone; inside a tuple, aligns the remaining
      indices to the DEEPEST axes (requires ``ndim``)
    - ``tuple`` — multi-axis: each element applies one level deeper
      (ints consume an axis, slices keep it, strings are free)

    Error parity: ``list[int]`` raises RuntimeError ("Lists containing
    integers..."), a boolean mask inside a tuple raises
    NotImplementedError ("tuple style input boolean..."), and an
    Ellipsis that leaves more sliced axes than the array has raises
    ValueError ("...sliced axes is greater than...").

    ``ndim`` (count of list levels) is only needed for the
    Ellipsis-in-tuple form; pass the field's list depth or let
    :class:`~..operators.elementwise.NestedArray` carry it.
    """
    if isinstance(index, tuple):
        return _getitem_tuple(arr, index, ndim)
    if isinstance(index, str):
        return arr.getField(index)
    if isinstance(index, list):
        if all(isinstance(x, str) for x in index):
            return select_fields(arr, index)
        raise RuntimeError(
            "Lists containing integers or other non-string values are not "
            "supported by getitem; use a Column index or a slice "
            "(parity: reference Array.__getitem__)"
        )
    if index is Ellipsis:
        return arr
    if _is_int(index):
        return element_pick(arr, int(index))
    if isinstance(index, slice):
        return list_slice(arr, index)
    if isinstance(index, Column):
        return boolean_mask(arr, index)
    # NestedArray without importing it circularly
    col = getattr(index, "col", None)
    if isinstance(col, Column):
        return boolean_mask(arr, col)
    raise TypeError(f"unsupported getitem index: {type(index).__name__}")


def _getitem_tuple(arr: Column, index: tuple, ndim: int | None) -> Column:
    items = list(index)
    for it in items:
        if isinstance(it, Column) or isinstance(getattr(it, "col", None), Column):
            raise NotImplementedError(
                "tuple style input boolean arrays are not supported "
                "(parity: reference DaskAwkwardNotImplemented)"
            )

    def axis_like(it) -> bool:
        return _is_int(it) or isinstance(it, slice)

    expr = arr
    depth = 0  # list-levels between expr's top and the axis being indexed
    i = 0
    while i < len(items):
        it = items[i]
        if it is Ellipsis:
            rest = items[i + 1 :]
            if any(x is Ellipsis for x in rest):
                raise ValueError("an index can only have a single ellipsis ('...')")
            axes_rest = sum(1 for x in rest if axis_like(x))
            if axes_rest == 0:
                i += 1
                continue
            if ndim is None:
                raise ValueError(
                    "Ellipsis followed by axis indices needs ndim= (the "
                    "number of list levels of the column)"
                )
            target = ndim - axes_rest  # 0-based axis for the first rest index
            if target < depth:
                raise ValueError(
                    "the number of sliced axes is greater than the depth of "
                    "the array (parity: reference DaskAwkwardNotImplemented)"
                )
            depth = target
            i += 1
            continue
        if isinstance(it, str):
            fn = lambda c, name=it: c.getField(name)  # noqa: E731
            expr = _apply_at_depth(expr, depth, fn)
        elif isinstance(it, list) and all(isinstance(x, str) for x in it):
            fn = lambda c, names=it: select_fields(c, names)  # noqa: E731
            expr = _apply_at_depth(expr, depth, fn)
        elif _is_int(it):
            fn = lambda c, j=int(it): element_pick(c, j)  # noqa: E731
            expr = _apply_at_depth(expr, depth, fn)
            # the axis at `depth` is consumed; the next axis slides up
        elif isinstance(it, slice):
            fn = lambda c, sl=it: list_slice(c, sl)  # noqa: E731
            expr = _apply_at_depth(expr, depth, fn)
            depth += 1  # axis survives; move to the next one
        else:
            raise TypeError(
                f"unsupported tuple getitem element: {type(it).__name__}"
            )
        i += 1
    return expr


# ---------------------------------------------------------------------------
# axis 0 — the DataFrame row axis
# ---------------------------------------------------------------------------


def rows(df: DataFrame, index):
    """Axis-0 getitem on the row axis: ``daa[i]`` / ``daa[mask]`` /
    ``daa[start:stop]`` of the reference become row operations here.

    - boolean Column — ``df.filter`` (fully distributed; the mask must
      be an expression over THIS frame — cross-frame masks need
      :func:`core.partition_compatibility` first, mirroring the
      reference's IncompatiblePartitions check)
    - int (incl. negative) — one row as a 1-row DataFrame via
      offset/limit. Row order is the scan order (file order, then
      within-file order) — stable for narrow plans over sources, the
      same contract as ``core.partitions``. Driver-side count only for
      negative indices.
    - slice (step 1, non-negative bounds) — offset/limit window.
    """
    if isinstance(index, Column):
        return df.filter(index)
    if _is_int(index):
        i = int(index)
        if i < 0:
            i += df.count()
            if i < 0:
                raise IndexError("row index out of range")
        return df.offset(i).limit(1)
    if isinstance(index, slice):
        if index.step not in (None, 1):
            raise NotImplementedError("row slicing supports step=1 only")
        start = index.start or 0
        if start < 0 or (index.stop is not None and index.stop < 0):
            raise NotImplementedError("row slicing supports non-negative bounds")
        out = df.offset(start) if start else df
        if index.stop is not None:
            n = index.stop - start
            out = out.limit(max(n, 0))
        return out
    raise TypeError(f"unsupported row index: {type(index).__name__}")
