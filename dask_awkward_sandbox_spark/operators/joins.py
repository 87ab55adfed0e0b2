"""Join strategies for skewed keys.

AQE's skew-join splitting (on in session.py) handles most sort-merge
skew at runtime; explicit salting remains the tool when one hot key
dominates an aggregation-after-join or when the skewed side must
stay hash-partitioned. The pattern: explode the small side into
``salts`` replicas, scatter the big side's hot keys across the same
salt space, join on (key, salt) — the hot key's rows land on
``salts`` partitions instead of one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _check_reserved(op: str, reserved: set, *col_lists) -> None:
    """Refuse input columns that collide with an operator's internal
    scratch names — a silent drop or duplicate struct field otherwise
    (r7 ADVICE; matches the explicit-error style of the direction
    check)."""
    bad = sorted({c for cols in col_lists for c in cols if c in reserved})
    if bad:
        raise ValueError(
            f"{op}: input column(s) {bad} collide with reserved internal "
            f"names {sorted(reserved)}; rename them before the join"
        )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``big`` ⋈ ``small`` on ``key`` with salt-scattered
    partitioning.

    ``big`` gets a random-but-deterministic salt per row (hash of the
    whole row modulo ``salts``); ``small`` is exploded ``salts``-fold
    so every (key, salt) pair finds its match. Correct for any key
    distribution; worth the ``salts``x small-side duplication exactly
    when a hot key would otherwise pin one reducer.

    Only inner and left joins are valid: an outer-preserved SMALL side
    would emit one null-padded row per unmatched salt replica.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left joins, not {how!r}: the "
            "exploded small side would duplicate its unmatched rows "
            "once per salt under right/full outer semantics"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salts))
    b = big.withColumn("_salt", salt.cast("int"))
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)).cast("array<int>"))
    )
    out = b.join(s, [key, "_salt"], how)
    return out.drop("_salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | list[str] | None = None,
    tolerance=None,
    suffix: str = "_r",
    direction: str = "backward",
) -> DataFrame:
    """As-of join: each left row picks up the LATEST right row with
    ``right.on <= left.on`` (default backward direction — the
    quote-at-trade-time / dimension-state-at-event-time operator
    Spark has no built-in for).

    ``direction`` follows pandas merge_asof: ``"backward"`` (latest
    right at-or-before), ``"forward"`` (earliest right at-or-after),
    ``"nearest"`` (closer of the two; exact-distance ties resolve
    backward, pandas-identical — property-tested against merge_asof
    for all three). Forward/nearest add a second window frame over
    the SAME keyed sort with the tie order flipped (right rows sort
    after left at equal ``on`` so an exactly-simultaneous right row
    is still an at-or-after match) — one Exchange either way; with
    ``nearest`` the plan is Exchange -> Sort -> Window -> Sort ->
    Window, never a second shuffle.

    Spark-first via the union trick, NOT a range join (a theta-join
    on ``r.ts <= l.ts`` is a nested-loop product): tag and union both
    sides, then one window per ``by`` key ordered by (on, side-rank)
    carries the most recent right-side values forward with
    ``last(..., ignorenulls=True)``. Right rows sort BEFORE left rows
    at equal timestamps, so an exactly-simultaneous right row is
    visible to the left row (pandas merge_asof semantics). ONE shuffle
    on the by-key; at 100 TB this is the same shape as any keyed
    window — salt upstream if one key dominates.

    ``tolerance`` (in ``on``'s units, e.g. seconds for numeric
    timestamps) nulls matches outside the direction's window
    (backward: older than ``left.on - tolerance``; forward: beyond
    ``left.on + tolerance``; nearest: either bound on its side).
    Right's payload columns come back suffixed; its ``on`` value
    returns as ``on + suffix`` (also the staleness witness).

    Null ``on`` rows: pandas refuses null keys; here they stay inert
    — a null-ts right row never matches anything (filtered before the
    union), a null-ts left row stays in the
    output with null match columns in EVERY direction (r7: forward/
    nearest previously let the null-ts left row — which sorts first
    under asc — see every right row in its following frame).

    Each direction carries ONE struct of (on, payload...) rather than
    independent per-column carries, so all matched columns come from
    the SAME right row (r7: per-column ``last(..., ignorenulls)``
    silently substituted a null payload cell with the value from an
    older/newer right row, where merge_asof returns NaN).
    """
    if direction not in ("backward", "forward", "nearest", "all"):
        raise ValueError(
            f"direction must be backward/forward/nearest/all, got {direction!r}"
        )
    # reserved internal names (r7 ADVICE): a right payload literally
    # named `_asof_on` would duplicate the carry-struct field, and
    # left/right columns named `_b`/`_n`/`_side` would be silently
    # dropped by the keep filter — refuse loudly instead.
    _check_reserved(
        "asof_join", {"_side", "_b", "_n", "_asof_on"}, left.columns, right.columns
    )
    by_cols = [by] if isinstance(by, str) else list(by or [])
    payload = [c for c in right.columns if c not in {*by_cols, on}]
    overlap = set(payload) & set(left.columns)

    def rname(c: str) -> str:
        return c + suffix if c in overlap or c == on else c

    l_tag = left.withColumn("_side", F.lit(1))
    r_tag = (
        right.select(
            *by_cols,
            F.col(on),
            *[F.col(c).alias(rname(c)) for c in payload],
        )
        .withColumn("_side", F.lit(0))
        # a null-`on` right row can never be evidence for a match —
        # drop it before the union so its payload cannot attach to
        # any carry (r7 ADVICE)
        .filter(F.col(on).isNotNull())
    )
    allc = l_tag.unionByName(r_tag, allowMissingColumns=True)

    from pyspark.sql import Window

    w_b = (
        Window.partitionBy(*by_cols)
        .orderBy(F.col(on).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # flipped tie order: right rows AFTER left at equal `on`, so an
    # exactly-simultaneous right row sits in the following frame
    w_f = (
        Window.partitionBy(*by_cols)
        .orderBy(F.col(on).asc(), F.col("_side").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = [rname(c) for c in payload]
    # ONE struct per direction: the whole matched right row travels
    # atomically through the carry (r7 ADVICE — see docstring)
    _ON = "_asof_on"
    r_row = F.when(
        F.col("_side") == 0,
        F.struct(F.col(on).alias(_ON), *[F.col(c) for c in carried]),
    )
    cols = ["*"]
    if direction in ("backward", "nearest", "all"):
        cols.append(F.last(r_row, ignorenulls=True).over(w_b).alias("_b"))
    if direction in ("forward", "nearest", "all"):
        cols.append(F.first(r_row, ignorenulls=True).over(w_f).alias("_n"))
    filled = allc.select(*cols).filter(F.col("_side") == 1)

    def _valid(match, dist) -> Column:
        # a null-`on` LEFT row matches nothing in any direction (its
        # forward frame would otherwise contain every right row —
        # nulls sort first under asc)
        v = F.col(on).isNotNull() & match.isNotNull()
        if tolerance is not None:
            v &= F.coalesce(dist <= F.lit(tolerance), F.lit(False))
        return v

    b_on, n_on = F.col("_b")[_ON], F.col("_n")[_ON]
    valid_b = _valid(F.col("_b"), F.col(on) - b_on)
    valid_f = _valid(F.col("_n"), n_on - F.col(on))
    fname = lambda c: _ON if c == on else c  # noqa: E731
    pick_b = lambda c: F.when(valid_b, F.col("_b")[fname(c)])  # noqa: E731
    pick_f = lambda c: F.when(valid_f, F.col("_n")[fname(c)])  # noqa: E731
    use_b = valid_b & (
        ~valid_f | ((F.col(on) - b_on) <= (n_on - F.col(on)))
    )
    pick_n = lambda c: F.when(use_b, F.col("_b")[fname(c)]).otherwise(  # noqa: E731
        F.when(valid_f, F.col("_n")[fname(c)])
    )

    keep = [c for c in filled.columns
            if c not in ("_side", "_b", "_n") and c not in carried]
    if direction == "all":
        # all three directions off the ONE keyed window pass — the
        # carries are already both computed, so three separate joins
        # (three shuffles + two re-joins) collapse into zero extra
        # exchanges; forward/nearest columns carry fwd_/near_ prefixes
        return filled.select(
            *keep,
            pick_b(on).alias(on + suffix),
            *[pick_b(c).alias(c) for c in carried],
            pick_f(on).alias("fwd_" + on + suffix),
            *[pick_f(c).alias("fwd_" + c) for c in carried],
            pick_n(on).alias("near_" + on + suffix),
            *[pick_n(c).alias("near_" + c) for c in carried],
        )
    pick = {"backward": pick_b, "forward": pick_f, "nearest": pick_n}[direction]
    return filled.select(
        *keep,
        pick(on).alias(on + suffix),
        *[pick(c).alias(c) for c in carried],
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    point: str,
    lo: str,
    hi: str,
    by: str | list[str] | None = None,
    bin_width: int = 1000,
) -> DataFrame:
    """Interval-containment join: left rows against right intervals
    with ``lo <= point <= hi`` (+ optional equi keys).

    Written naively (`l.p between r.lo and r.hi`) Spark plans a
    nested-loop product. The scale path is bin bucketing: points map
    to ``floor(point / bin_width)``, each interval EXPLODES to every
    bin it touches (``sequence(floor(lo/w), floor(hi/w))``), and the
    join becomes an equi-join on (by, bin) with an exact residual
    filter. Candidate work is |right| * avg_interval/bin_width +
    true matches — pick ``bin_width`` near the typical interval
    length. Two shuffles (one per side), no product, AQE-compatible.
    """
    by_cols = [by] if isinstance(by, str) else list(by or [])
    w = F.lit(bin_width)
    lbin = left.withColumn("_bin", F.floor(F.col(point) / w))
    rbin = right.withColumn(
        "_bin",
        F.explode(F.sequence(F.floor(F.col(lo) / w), F.floor(F.col(hi) / w))),
    )
    out = lbin.join(rbin, [*by_cols, "_bin"]).filter(
        (F.col(point) >= F.col(lo)) & (F.col(point) <= F.col(hi))
    )
    return out.drop("_bin")


def interval_join(
    left: DataFrame,
    right: DataFrame,
    lo: str = "lo",
    hi: str = "hi",
    right_lo: str | None = None,
    right_hi: str | None = None,
    by: str | list[str] | None = None,
    bin_width: int = 1000,
    suffix: str = "_r",
) -> DataFrame:
    """Interval-OVERLAP join: pairs where ``[l.lo, l.hi]`` and
    ``[r.lo, r.hi]`` intersect (closed ends), + optional equi keys —
    :func:`range_join`'s sibling for interval×interval workloads
    (sessions × campaigns, time-range conflict detection, genomic
    intervals).

    Scale path: BOTH sides explode to the bins they touch and
    equi-join on (by, bin) with the exact overlap residual
    ``l.lo <= r.hi and r.lo <= l.hi``. A pair whose overlap spans k
    bins would surface k times; instead of a distinct (a full extra
    shuffle on the whole output) each pair is emitted ONLY in the
    first bin of its overlap — ``bin == floor(max(l.lo, r.lo)/w)`` —
    a pure per-row predicate, so the join's two shuffles are the
    whole plan. Candidate volume is sum(len/bin_width) per side +
    true matches; pick ``bin_width`` near the typical interval
    length. No product join at any size.

    Right's columns come back ``suffix``-renamed where they collide.
    """
    by_cols = [by] if isinstance(by, str) else list(by or [])
    rlo, rhi = right_lo or lo, right_hi or hi
    w = F.lit(bin_width)

    def binned(df, a, b):
        return df.withColumn(
            "_bin",
            F.explode(F.sequence(F.floor(F.col(a) / w), F.floor(F.col(b) / w))),
        )

    rren = {
        c: c + suffix
        for c in right.columns
        if c in left.columns and c not in by_cols
    }
    r = right.select(
        *by_cols,
        *[
            F.col(c).alias(rren.get(c, c))
            for c in right.columns
            if c not in by_cols
        ],
    )
    rlo2, rhi2 = rren.get(rlo, rlo), rren.get(rhi, rhi)
    lb, rb = binned(left, lo, hi), binned(r, rlo2, rhi2)
    out = lb.join(rb, [*by_cols, "_bin"]).filter(
        (F.col(lo) <= F.col(rhi2))
        & (F.col(rlo2) <= F.col(hi))
        & (
            F.col("_bin")
            == F.floor(F.greatest(F.col(lo), F.col(rlo2)) / w)
        )
    )
    return out.drop("_bin")


