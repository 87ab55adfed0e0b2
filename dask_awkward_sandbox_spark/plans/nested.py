"""Nested (awkward-style) structure + reducer queries with DuckDB oracles.

Each query builds the per-order ``items: array<struct>`` nested
collection (plans.common.order_items — the Spark analogue of a
dask-awkward partitioned Array of lists-of-records), applies
structure/reducer operators from ``operators/``, and flattens back to
scalar columns for the oracle comparison. The oracle SQL computes the
same answer relationally — it does NOT mirror the nested mechanics,
which is the point: two independent routes to the same result.

Queries are consolidated (several operators per query, one output
column each) so the whole §2 surface fits the driver's correctness
gate; per-operator unit tests live in tests/test_structure*.py and
tests/test_reducers.py.

Determinism contract: see plans.registry docstring (integer cents,
identical arithmetic expressions for derived floats).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_awkward_sandbox_spark.operators import reducers as red
from dask_awkward_sandbox_spark.operators import structure as st
from dask_awkward_sandbox_spark.plans.common import (
    cents,
    fld,
    fld_map,
    order_items,
    read,
)
from dask_awkward_sandbox_spark.plans.registry import query

# SQL fragments for exact integer units (see common.cents).
QC = "cast(round(l_quantity*100) as bigint)"   # quantity cents
PC = "cast(round(l_extendedprice*100) as bigint)"  # price cents
DC = "cast(round(l_discount*100) as bigint)"   # discount cents
# full-struct lexicographic item order (see plans.common.ITEM_ORDER_SQL)
ORD = "l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus"

# r11 (verdict item 1 — gate/HOF re-coupling): each codegen-rewritten
# slot re-runs its retained HOF composition over this deterministic
# ~0.5% order subsample and exposes aggregate hof_* legs in the
# registered output, so the driver's per-round value hash EXECUTES the
# nested-operator code paths (sort/argsort/cartesian/combinations/
# struct-accumulator reducers/axis-None folds) at every scale — not
# just their closed-form flat algebra. The filter lands before the
# build's groupBy, so only sampled rows shuffle into the twin.
#
# r12 (verdict item 1): the sample is a fixed FRACTION (~0.5%, r13: modulus 50 -> 200), so the
# twin's output grows LINEARLY with the data — any hint-forced
# broadcast of it is a 100x-scale OOM. The leg joins therefore carry
# NO broadcast hint: AQE broadcasts while the side is small and falls
# back to a sort-merge co-clustered on the same l_orderkey the flat
# side already shuffles on. (Bounding the sample by COUNT instead
# would keep broadcasts legal forever but changes the sampled keys
# with input size, breaking the fixed modulus oracle replay — the
# hint drop is the value-stable fix.)
_HOF_SAMPLE_MOD = 200
_HOF_SAMPLE_SQL = f"l_orderkey % {_HOF_SAMPLE_MOD} = 0"


def _HOF_SAMPLE():
    # lazy: building a Column needs an active SparkContext, and this
    # module imports before any session exists
    return F.col("l_orderkey") % _HOF_SAMPLE_MOD == 0


def _qty_c(items):
    return fld_map(items, "l_quantity", cents)


def _price_c(items):
    return fld_map(items, "l_extendedprice", cents)


def _disc_c(items):
    return fld_map(items, "l_discount", cents)


# ---------------------------------------------------------------------------
# structure
# ---------------------------------------------------------------------------


@query(
    "q_flatten_softmax",
    f"""
    with v as (select l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                      row_number() over (partition by l_orderkey order by {ORD}) - 1 as idx
               from lineitem),
    m as (select *, max(l_quantity) over (partition by l_orderkey) as mx from v),
    e as (select *, exp(l_quantity - mx) as ex from m),
    s as (select *, sum(ex) over (partition by l_orderkey) as sm from e),
    seq as (
      select l_orderkey, l_returnflag,
             row_number() over (partition by l_orderkey order by {ORD}) as rn,
             row_number() over (partition by l_orderkey, l_returnflag
                                order by {ORD}) as rnf
      from lineitem),
    runs as (
      select l_orderkey, min(rn) as mn, count(*) as c
      from seq group by l_orderkey, l_returnflag, rn - rnf),
    r2 as (
      select l_orderkey,
             cast(row_number() over (partition by l_orderkey order by mn) - 1
                  as bigint) as idx,
             cast(c as bigint) as run_len
      from runs)
    select s.l_orderkey, cast(s.idx as bigint) as idx,
           cast(l_linenumber as bigint) as ln,
           {QC} as qty_c, {PC} as price_c,
           round(ex/sm, 6) as softmax,
           r2.run_len,
           case when s.l_orderkey % {_HOF_SAMPLE_MOD} = 0 then cast(s.idx as bigint) end
             as hof_idx,
           case when s.l_orderkey % {_HOF_SAMPLE_MOD} = 0 then round(ex/sm, 6) end
             as hof_softmax,
           case when s.l_orderkey % {_HOF_SAMPLE_MOD} = 0 then r2.run_len end as hof_run_len
    from s left join r2 on r2.l_orderkey = s.l_orderkey and r2.idx = s.idx
    """,
)
def q_flatten_softmax(spark, sf_dir):
    """ak.local_index + ak.softmax (axis=1, numerically stable) +
    ak.run_lengths + flatten, per order.

    r11 (verdict item 3 — the codegen template applied to the last
    full-HOF slots): the registered form runs FLAT — ONE exchange on
    l_orderkey feeds a row_number window (local_index), full-frame
    max/sum windows (the stable softmax), the gaps-and-islands
    groupBy + rank for run_lengths (both reuse the okey clustering),
    and an okey-clustered left join pads the runs exactly like the
    zip-pad — the oracle's own relational shape, all whole-stage
    codegen. The r10 nested form shuffled every column into
    collect_list structs and folded four interpreted HOF passes per
    list (sf10 37.7s, growth 7.51x). The HOF composition stays in
    :func:`q_flatten_softmax_hof`, pinned row-identical, AND runs
    under the driver hash per-element for the ~0.5% sampled orders.

    r12 (verdict item 1): the leg join carries NO broadcast hint —
    the sampled side is a fixed FRACTION of the data, so a hint-forced
    broadcast would OOM at 100x while AQE broadcasts while small and
    degrades to a co-clustered sort-merge on the l_orderkey the flat
    side already shuffles on. The twin keeps its OWN second scan: the
    verdict-5 single-scan cache form (both legs off one persisted
    projection) was built and MEASURED — isolated min-of-2 shows the
    forms within ~10%, but in the 48-slot panel's long JVM session the
    cache form collapsed 2-3x (q_cartesian_combinations sf10 10.2s
    two-scan vs 22.5s cache-in-panel: cache materialization +
    eviction under accumulated heap pressure), so the robust two-scan
    shape ships; the A/B is recorded in SCALE_SF10.json (hof_form_ab)."""
    from pyspark.sql import Window

    ord_cols = [
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus",
    ]
    li = read(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(*ord_cols)
    wf = Window.partitionBy("l_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # after idx exists, every downstream order rides the NUMERIC rank
    # (idx IS the ORD order), so only the first sort pays the 7-column
    # string-bearing comparator
    wi = Window.partitionBy("l_orderkey").orderBy("idx")
    wif = wi.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    b = li.select(
        "l_orderkey",
        *ord_cols,
        (F.row_number().over(w) - 1).cast("long").alias("idx"),
        F.max("l_quantity").over(wf).alias("_mx"),
    )
    # run-lengths WITHOUT a self-join: a run boundary is rf != lag(rf)
    # in ORD order; the running boundary count labels each row's run,
    # a (okey, run_id) window gives each run's start + length, and
    # each run's first row contributes its length to an ordered
    # per-order collect — row idx then reads runs[idx], the zip-pad
    # semantics (null past the end). Every window clusters on
    # l_orderkey, so the whole plan is ONE exchange.
    b = b.select(
        "*",
        F.exp(F.col("l_quantity") - F.col("_mx")).alias("_ex"),
        F.sum(
            (
                F.lag("l_returnflag").over(wi).isNull()
                | (F.lag("l_returnflag").over(wi) != F.col("l_returnflag"))
            ).cast("int")
        ).over(wi).alias("_run_id"),
    )
    wrun = Window.partitionBy("l_orderkey", "_run_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    b = b.select(
        "*",
        F.min("idx").over(wrun).alias("_rstart"),
        F.count(F.lit(1)).over(wrun).cast("long").alias("_rlen"),
    ).select(
        "*",
        F.sum("_ex").over(wf).alias("_sm"),
        F.collect_list(
            F.when(F.col("idx") == F.col("_rstart"), F.col("_rlen"))
        ).over(wif).alias("_runs"),
    )
    joined = b.select(
        "*",
        F.when(
            F.col("idx") < F.size("_runs"),
            F.get("_runs", F.col("idx").cast("int")),
        ).alias("run_len"),
    )
    flat = joined.select(
        "l_orderkey",
        F.col("idx"),
        F.col("l_linenumber").cast("long").alias("ln"),
        cents(F.col("l_quantity")).alias("qty_c"),
        cents(F.col("l_extendedprice")).alias("price_c"),
        F.round(F.col("_ex") / F.col("_sm"), 6).alias("softmax"),
        "run_len",
    )
    hof = q_flatten_softmax_hof(spark, sf_dir, where=_HOF_SAMPLE())
    hof_legs = hof.select(
        "l_orderkey",
        "idx",
        F.col("idx").alias("hof_idx"),
        F.col("softmax").alias("hof_softmax"),
        F.col("run_len").alias("hof_run_len"),
    )
    return flat.join(hof_legs, ["l_orderkey", "idx"], "left")


def q_flatten_softmax_hof(spark, sf_dir, where=None):
    """The nested-HOF composition of the q_flatten_softmax contract —
    build nested, ak.local_index + ak.softmax + ak.run_lengths via
    arrays_zip (whose null-padding IS the oracle's left join), then
    explode_flatten. Retained as the operator-exercising reference
    after the r11 flat-window rewrite of the registered slot; pinned
    row-identical in tests/test_nested_fast_forms.py."""
    it = order_items(spark, sf_dir, where=where)
    z = F.arrays_zip(
        st.local_index(F.col("items")).alias("idx"),
        F.col("items").alias("item"),
        red.softmax(fld(F.col("items"), "l_quantity")).alias("sm"),
        st.run_lengths(fld(F.col("items"), "l_returnflag")).alias("run_len"),
    )
    ex = st.explode_flatten(it.select("l_orderkey", z.alias("zi")), "zi", keep=["l_orderkey"])
    e = F.col("zi")
    return ex.select(
        "l_orderkey",
        e["idx"].cast("long").alias("idx"),
        e["item"]["l_linenumber"].cast("long").alias("ln"),
        cents(e["item"]["l_quantity"]).alias("qty_c"),
        cents(e["item"]["l_extendedprice"]).alias("price_c"),
        F.round(e["sm"], 6).alias("softmax"),
        e["run_len"].alias("run_len"),
    )


@query(
    "q_sort_argsort",
    f"""
    with r as (select l_orderkey, {QC} as qc,
                      row_number() over (partition by l_orderkey order by {QC} desc) as rn
               from lineitem),
    t1 as (select l_orderkey, qc as top1_qty_c from r where rn = 1),
    t2 as (select l_orderkey, qc as top2_qty_c from r where rn = 2),
    a as (select l_orderkey, cast(l_linenumber as bigint) as min_ln, {QC} as min_qty_c
          from lineitem
          qualify row_number() over (partition by l_orderkey
                                     order by l_quantity asc, {ORD}) = 1),
    m as (select l_orderkey, max(case when l_linenumber <> 1 then {QC} end) as top1_masked_qty_c
          from lineitem group by l_orderkey),
    b as (
      select l_orderkey,
             cast(count(*) as bigint) as n_items,
             cast(count(case when {QC} > 4500 then 1 end) as bigint) as n_high,
             cast(coalesce(sum(case when l_returnflag = 'R' then {QC} end), 0) as bigint)
               as masked_sum,
             cast(count(case when l_returnflag = 'R' then 1 end) as bigint) as n_kept,
             cast(sum(case when l_returnflag = 'R' then {QC} else -{QC} end) as bigint)
               as signed_sum
      from lineitem group by l_orderkey),
    f as (
      select l_orderkey, cast(l_linenumber as bigint) as first_ln, {QC} as first_qty_c
      from lineitem
      qualify row_number() over (partition by l_orderkey order by {ORD}) = 1),
    rr as (
      select a.l_orderkey, t1.top1_qty_c, t2.top2_qty_c, a.min_ln, a.min_qty_c,
             m.top1_masked_qty_c,
             b.n_items, b.n_high, b.masked_sum, b.n_kept, b.signed_sum,
             f.first_ln, f.first_qty_c
      from a join t1 using (l_orderkey) left join t2 using (l_orderkey)
             join m using (l_orderkey) join b using (l_orderkey)
             join f using (l_orderkey))
    select rr.* from rr
    """,
)
def q_sort_argsort(spark, sf_dir):
    """ak.sort (descending + list slice: top-2 values per list) and
    ak.argsort (stable first index of the minimum, then fetch that
    record), PLUS (r7 gate surgery) ak.num (incl. length after
    elementwise filter), ak.firsts, and ak.mask / ak.drop_none /
    ak.where / ak.is_none.

    r10 (verdict item 3, the simhash codegen-aggregate template): the
    registered form computes every leg as whole-stage-codegen HASH
    AGGREGATES over the flat lineitem scan instead of building the
    nested lists and folding ~12 interpreted HOF passes over them —
    argmin/firsts become min(struct(sort-key, exposed-fields)) (the
    struct-min trick: lexicographic min IS the stable first element of
    the sorted list), the mask/where/num legs become conditional
    sums/counts, and only the top-2 leg still touches a per-group
    array (collect_list of bare longs + one sort_array — no built-in
    top-k aggregate exists). The exchange carries partial aggregates
    (plus the narrow qc lists), not full item structs; at sf10 the
    old form was interpretation-bound at 8.81x. Value-identical by
    construction: min over (qc, ln, rf) picks the same exposed
    (ln, qc) as position-0 of the (ln, qty, rf)-sorted list under the
    same tie-indistinguishability argument the pruned nested build
    used. The HOF composition itself stays in
    :func:`_sort_argsort_leg_exprs`; its full-build twin
    (tests/nested_twins.py) is pinned row-identical to this form in
    tests/test_nested_fast_forms.py (the test_dedup_edges simhash-pin
    move).

    r11 (verdict item 1): the slot ALSO runs the HOF twin itself over
    the deterministic ~0.5% subsample and left-joins its legs (hof_*)
    onto the flat output by l_orderkey — null for unsampled orders,
    per-order equality with the flat twin for sampled ones, all under
    the driver hash. (The first r11 shape — conditional collect_list
    inside the main aggregate — taxed EVERY input row through the
    ObjectHashAggregate and measured 7.63x sf10 growth.)

    r12 (verdict item 1): the leg join carries NO broadcast hint —
    the sampled side is a fixed FRACTION of the data, so a hint-forced
    broadcast is a 100x OOM; AQE broadcasts while small and falls
    back to sort-merge on the same l_orderkey clustering at scale.
    The twin keeps its own second scan (the single-scan cache form
    was measured and reverted — see the q_flatten_softmax note and
    SCALE_SF10.json hof_form_ab)."""
    li = read(spark, sf_dir, "lineitem")
    qc = cents(F.col("l_quantity"))
    is_r = F.col("l_returnflag") == "R"
    # stable argmin in item order == lexicographic min of (qc, ln);
    # item[0] == lexicographic min of (ln, qty). The structs stop at
    # the EXPOSED fields: rows tying on them are value-
    # indistinguishable in every output (the same argument that let
    # the nested build prune), and keeping strings out of the min
    # state keeps the aggregate cheap.
    amin = F.min(
        F.struct(qc.alias("qc"), F.col("l_linenumber").alias("ln"))
    )
    fst = F.min(
        F.struct(
            F.col("l_linenumber").alias("ln"), F.col("l_quantity").alias("qty")
        )
    )
    agg = li.groupBy("l_orderkey").agg(
        F.slice(F.sort_array(F.collect_list(qc), asc=False), 1, 2).alias("_top2"),
        amin.alias("_amin"),
        fst.alias("_first"),
        F.max(F.when(F.col("l_linenumber") != 1, qc)).alias("top1_masked_qty_c"),
        F.count(F.lit(1)).alias("n_items"),
        F.count(F.when(qc > 4500, 1)).alias("n_high"),
        F.coalesce(F.sum(F.when(is_r, qc)), F.lit(0).cast("long")).alias(
            "masked_sum"
        ),
        F.count(F.when(is_r, 1)).alias("n_kept"),
        F.sum(F.when(is_r, qc).otherwise(-qc)).alias("signed_sum"),
    )
    flat = agg.select(
        "l_orderkey",
        F.get("_top2", 0).alias("top1_qty_c"),
        F.get("_top2", 1).alias("top2_qty_c"),
        F.col("_amin")["ln"].cast("long").alias("min_ln"),
        F.col("_amin")["qc"].alias("min_qty_c"),
        "top1_masked_qty_c",
        "n_items",
        "n_high",
        "masked_sum",
        "n_kept",
        "signed_sum",
        F.col("_first")["ln"].cast("long").alias("first_ln"),
        cents(F.col("_first")["qty"]).alias("first_qty_c"),
    )
    # r13 (verdict item 7): the sampled HOF twin legs moved to the
    # non-baseline-mapped host q_parquet_roundtrip (hof_sort_* columns
    # there) — this slot maps to r01's q_sort row, and the twin was
    # ~45% of its wall while belonging to no baseline row
    return flat


def _sort_argsort_leg_exprs(items, q, is_r):
    """The q_sort_argsort HOF composition — ak.sort/argsort/num/firsts/
    mask/drop_none/where/is_none — as column expressions over a bound
    (items, qty-cents array, is-returnflag array) triple. The SINGLE
    source of truth executed by both the full-build twin
    (tests/nested_twins.py, pinned row-identical to the flat form) and
    q_parquet_roundtrip's sampled per-order hof_sort_* legs."""
    top2 = F.slice(st.sort(q, ascending=False), 1, 2)
    idx = st.argsort(q)
    first_item = F.get(items, F.get(idx, 0).cast("int"))
    # null-bearing descending sort: nulls land LAST, so element 0 is
    # the max of the surviving values (every order has a linenumber-1
    # row, so every list carries at least one null)
    masked_q = F.transform(
        items, lambda s: F.when(s["l_linenumber"] != 1, cents(s["l_quantity"]))
    )
    first = st.firsts(items)
    masked = st.mask(q, is_r)
    n_kept = st.num(st.drop_none(masked)) - F.aggregate(
        st.is_none(q), F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
    )
    signed = st.where(is_r, q, F.transform(q, lambda x: -x))
    return {
        "top1_qty_c": F.get(top2, 0),
        "top2_qty_c": F.get(top2, 1),
        "min_ln": first_item["l_linenumber"].cast("long"),
        "min_qty_c": cents(first_item["l_quantity"]),
        "top1_masked_qty_c": F.get(st.sort(masked_q, ascending=False), 0),
        "n_items": st.num(items),
        "n_high": st.num(F.filter(q, lambda x: x > 4500)),
        "masked_sum": red.sum(masked).cast("long"),
        "n_kept": n_kept,
        "signed_sum": red.sum(signed).cast("long"),
        "first_ln": first["l_linenumber"].cast("long"),
        "first_qty_c": cents(first["l_quantity"]),
    }


def _sort_pre_exprs(items):
    """The arrays :func:`_sort_argsort_leg_exprs` reads more than once
    (qty cents, is-returnflag), to bind in a select before the legs:
    Catalyst cannot CSE across HOF lambdas, so each consumer would
    otherwise re-derive them (see the q_reduce_order_count note)."""
    return {
        "_q": _qty_c(items),
        "_isr": F.transform(items.getField("l_returnflag"), lambda r: r == "R"),
    }


@query(
    "q_cartesian_combinations",
    f"""
    with s as (select l_orderkey, count(*) as n,
                      sum({QC}) as sq, sum({QC}*{QC}) as sqq, sum({DC}) as sd,
                      sum({QC} * {PC}) as dot,
                      sum({PC} * (100 - {DC})) as dpu
               from lineitem group by l_orderkey),
    rr as (
      select l_orderkey,
             cast(n*n as bigint) as n_pairs_cart,
             cast(sq*sd as bigint) as cross_sum,
             cast(n*(n-1)/2 as bigint) as n_pairs_comb,
             cast((sq*sq - sqq)/2 as bigint) as pair_sum,
             cast(dot as bigint) as dot_c,
             cast(dpu as bigint) as sum_disc_price_u
      from s)
    select rr.* from rr
    """,
)
def q_cartesian_combinations(spark, sf_dir):
    """ak.cartesian / ak.combinations / ak.zip+unzip+dot /
    ak.with_field+without_field semantics per order.

    r10 (late; the codegen template): the oracle is ALREADY the
    closed-form algebra (sum_ij x_i y_j == sum(x)sum(y); sum_{{i<j}}
    x_i x_j == (S²-SS)/2), so the registered form computes exactly
    those flat whole-stage-codegen aggregates — five exact-integer
    sums and a count per order, no nested build, no pair
    materialization (which is also the only 100 TB-sane plan: the
    explicit pair arrays grow quadratically in list length). The
    operator compositions themselves stay exercised in
    q_parquet_roundtrip's hof_cart_* legs and in a full-build twin
    (tests/nested_twins.py) pinned row-identical in
    tests/test_nested_fast_forms.py, plus their own unit tests. sf10
    growth was 7.18x on the nested form (interpretation-bound).

    r12 (verdict item 1): the leg join carries no broadcast hint —
    AQE decides (the sampled side is a fixed fraction of the data;
    see the q_sort_argsort note). Two scans by measurement: this
    pure-hash-agg slot collapsed WORST under the single-scan cache
    form in the panel's long session (sf10 22.5s vs 10.2s two-scan;
    isolated the forms are within 10% — the q_flatten_softmax note
    has the attribution)."""
    li = read(spark, sf_dir, "lineitem")
    qc = cents(F.col("l_quantity"))
    pc = cents(F.col("l_extendedprice"))
    dc = cents(F.col("l_discount"))
    agg = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qc).alias("sq"),
        F.sum(qc * qc).alias("sqq"),
        F.sum(dc).alias("sd"),
        F.sum(qc * pc).alias("dot"),
        F.sum(pc * (F.lit(100) - dc)).alias("dpu"),
    )
    n, sq, sqq, sd = F.col("n"), F.col("sq"), F.col("sqq"), F.col("sd")
    flat = agg.select(
        "l_orderkey",
        (n * n).alias("n_pairs_cart"),
        (sq * sd).alias("cross_sum"),
        ((n * (n - 1)) / 2).cast("long").alias("n_pairs_comb"),
        ((sq * sq - sqq) / 2).cast("long").alias("pair_sum"),
        F.col("dot").alias("dot_c"),
        F.col("dpu").alias("sum_disc_price_u"),
    )
    # r13 (verdict item 7): the sampled HOF twin legs moved to
    # q_parquet_roundtrip (hof_cart_* columns) — this slot maps to
    # r01's q_combinations row, and the twin belonged to no baseline
    # row
    return flat


def _cart_pre_exprs(items):
    """The q_cartesian_combinations HOF inputs — ak.cartesian,
    ak.combinations, ak.zip + ak.unzip + elementwise product, and
    ak.with_field/ak.without_field — bound once per row (each feeds
    two consumers, and Catalyst cannot CSE across HOF lambdas).
    Shared by the full-build twin (tests/nested_twins.py) and
    q_parquet_roundtrip's sampled hof_cart_* legs."""
    z = st.zip({"q": _qty_c(items), "p": _price_c(items)})
    qs, ps = st.unzip(z, ["q", "p"])
    dot = F.zip_with(qs, ps, lambda a, b: a * b)
    enriched = st.with_field(
        items,
        "disc_price_u",
        lambda s: cents(s["l_extendedprice"]) * (F.lit(100) - cents(s["l_discount"])),
    )
    slim = st.without_field(enriched, "l_tax")
    return {
        "_cart": st.cartesian(_qty_c(items), _disc_c(items)),
        "_comb": st.combinations(_qty_c(items)),
        "_dot": dot,
        "_dpu": fld(slim, "disc_price_u"),
    }


def _cart_leg_exprs(cart, comb, dot, dpu):
    """The q_cartesian_combinations output legs over the pre-bound
    pair/product arrays (see :func:`_cart_pre_exprs`)."""
    return {
        "n_pairs_cart": st.num(cart),
        "cross_sum": F.aggregate(
            cart, F.lit(0.0), lambda a, p: a + p["_0"] * p["_1"]
        ).cast("long"),
        "n_pairs_comb": st.num(comb),
        "pair_sum": F.aggregate(
            comb, F.lit(0.0), lambda a, p: a + p["_0"] * p["_1"]
        ).cast("long"),
        "dot_c": red.sum(dot).cast("long"),
        "sum_disc_price_u": red.sum(dpu).cast("long"),
    }


@query(
    "q_pad_fill_none",
    f"""
    with g as (select distinct l_orderkey from lineitem),
    i as (select cast(unnest([0,1,2,3]) as bigint) as idx),
    v as (select l_orderkey,
                 cast(row_number() over (partition by l_orderkey
                                         order by {ORD}) - 1 as bigint) as idx,
                 {QC} as qty_c
          from lineitem),
    b as (select l_orderkey,
                 cast(count(*) as bigint) as ones_n,
                 cast(7*count(*) as bigint) as full7_sum,
                 cast(0 as bigint) as zeros_sum,
                 cast(count(*) as bigint) as n_close,
                 cast(0 as bigint) as n_far,
                 cast(sum({QC}) - 5 as bigint) as nanfix_sum,
                 cast(sum(2*{QC} + {QC}*{QC}) as bigint) as ew_sum
          from lineitem group by l_orderkey)
    select g.l_orderkey, i.idx, v.qty_c as qty_c,
           coalesce(v.qty_c, -1) as qty_f,
           b.ones_n, b.full7_sum, b.zeros_sum, b.n_close, b.n_far, b.nanfix_sum,
           b.ew_sum,
           case when g.l_orderkey % {_HOF_SAMPLE_MOD} = 0 then v.qty_c end as hof_qty_c,
           case when g.l_orderkey % {_HOF_SAMPLE_MOD} = 0 then coalesce(v.qty_c, -1) end
             as hof_qty_f,
           case when g.l_orderkey % {_HOF_SAMPLE_MOD} = 0 then b.ones_n end as hof_ones_n,
           case when g.l_orderkey % {_HOF_SAMPLE_MOD} = 0 then b.full7_sum end as hof_full7_sum,
           case when g.l_orderkey % {_HOF_SAMPLE_MOD} = 0 then b.zeros_sum end as hof_zeros_sum,
           case when g.l_orderkey % {_HOF_SAMPLE_MOD} = 0 then b.n_close end as hof_n_close,
           case when g.l_orderkey % {_HOF_SAMPLE_MOD} = 0 then b.n_far end as hof_n_far,
           case when g.l_orderkey % {_HOF_SAMPLE_MOD} = 0 then b.nanfix_sum end as hof_nanfix_sum,
           case when g.l_orderkey % {_HOF_SAMPLE_MOD} = 0 then b.ew_sum end as hof_ew_sum
    from g cross join i
    left join v on v.l_orderkey = g.l_orderkey and v.idx = i.idx
    join b on b.l_orderkey = g.l_orderkey
    """,
)
def q_pad_fill_none(spark, sf_dir):
    """ak.pad_none(target=4, clip=True) / ak.fill_none exploded side
    by side, plus the elementwise like/close/nan_to_num/ufunc family
    as per-order legs.

    r11 (verdict item 3): the registered form runs FLAT — the padded
    view is a (idx -> qty) map collected per order off ONE window
    rank, the like/close legs are the oracle's own closed forms over
    codegen hash aggregates (ones_like sums to count, isclose at
    atol 0.6/0.4 against a +0.5 shift is all-true/all-false, the
    nan_to_num sum is sum - 5, the ufunc sum is sum(2q + q^2)), and a
    static sequence(0,3) explode replaces the padded-array generator.
    One exchange; the r10 nested form was interpretation-bound at
    sf10 30.8s / 7.00x. The HOF composition stays in
    :func:`q_pad_fill_none_hof`, pinned row-identical, AND runs under
    the driver hash for the ~0.5% sampled orders (the q_sort_argsort
    note): hof_qty_c/hof_qty_f carry the HOF pad_none/fill_none
    elements and the scalar hof_* legs the genuine
    like/isclose/nan_to_num/NestedArray ops. r12: leg join unhinted
    (AQE decides); twin keeps its own scan (cache form measured and
    reverted — q_flatten_softmax note)."""
    from pyspark.sql import Window

    li = read(spark, sf_dir, "lineitem")
    # rank by the PRUNED (l_linenumber, l_quantity) prefix, not the
    # full 7-column ORD: rows tying on the prefix share l_quantity, so
    # the exposed qty at every idx is identical under any tie
    # permutation (the same argument that lets the HOF twin prune its
    # build) — and a 2-key numeric-ish sort is the cheap one
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_quantity"
    )
    qc = cents(F.col("l_quantity"))
    ranked = li.select(
        "l_orderkey",
        qc.alias("_qc"),
        (F.row_number().over(w) - 1).cast("long").alias("_idx"),
    )
    g1 = ranked.groupBy("l_orderkey").agg(
        F.map_from_entries(
            F.collect_list(
                F.when(
                    F.col("_idx") < 4,
                    F.struct(F.col("_idx").alias("k"), F.col("_qc").alias("v")),
                )
            )
        ).alias("_pad"),
        F.count(F.lit(1)).alias("_n"),
        F.sum("_qc").alias("_s"),
        F.sum(F.lit(2) * F.col("_qc") + F.col("_qc") * F.col("_qc")).alias("_ew"),
    )
    ex = g1.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("_i")
    )
    idx = F.col("_i").cast("long")
    flat = ex.select(
        "l_orderkey",
        idx.alias("idx"),
        F.element_at(F.col("_pad"), idx).alias("qty_c"),
        F.coalesce(
            F.element_at(F.col("_pad"), idx), F.lit(-1).cast("long")
        ).alias("qty_f"),
        F.col("_n").alias("ones_n"),
        (F.lit(7) * F.col("_n")).alias("full7_sum"),
        F.lit(0).cast("long").alias("zeros_sum"),
        F.col("_n").alias("n_close"),
        F.lit(0).cast("long").alias("n_far"),
        (F.col("_s") - 5).alias("nanfix_sum"),
        F.col("_ew").alias("ew_sum"),
    )
    # r11/r12: the HOF twin runs the genuine pad_none/fill_none/
    # ones_like/isclose/nan_to_num/NestedArray composition over the
    # ~0.5% subsample as its OWN second scan (the shared-persisted-scan
    # form was measured and reverted — SCALE_SF10 hof_form_ab); its
    # per-(order, idx) rows left-join onto the flat explode without a
    # broadcast hint
    hof = q_pad_fill_none_hof(spark, sf_dir, where=_HOF_SAMPLE())
    hof_legs = hof.select(
        "l_orderkey",
        "idx",
        F.col("qty_c").alias("hof_qty_c"),
        F.col("qty_f").alias("hof_qty_f"),
        F.col("ones_n").alias("hof_ones_n"),
        F.col("full7_sum").alias("hof_full7_sum"),
        F.col("zeros_sum").alias("hof_zeros_sum"),
        F.col("n_close").alias("hof_n_close"),
        F.col("n_far").alias("hof_n_far"),
        F.col("nanfix_sum").alias("hof_nanfix_sum"),
        F.col("ew_sum").alias("hof_ew_sum"),
    )
    return flat.join(hof_legs, ["l_orderkey", "idx"], "left")


def q_pad_fill_none_hof(spark, sf_dir, where=None):
    """The nested-HOF composition of the q_pad_fill_none contract —
    ak.pad_none/fill_none via arrays_zip + posexplode, the
    like/close/nan_to_num/ufunc legs as per-order JVM folds. Retained
    as the operator-exercising reference after the r11 flat rewrite;
    pinned row-identical in tests/test_nested_fast_forms.py."""
    from dask_awkward_sandbox_spark.operators.elementwise import NestedArray

    it = order_items(
        spark, sf_dir, fields=["l_linenumber", "l_quantity"], where=where,
    )
    q = _qty_c(F.col("items"))
    qd = F.transform(q, lambda x: x.cast("double"))
    padded = st.pad_none(q, 4, clip=True)
    filled = st.fill_none(padded, F.lit(-1).cast("long"))
    z = F.arrays_zip(padded.alias("qty_c"), filled.alias("qty_f"))
    shifted = F.transform(qd, lambda x: x + 0.5)
    n_true = lambda bools: F.size(F.filter(bools, lambda b: b))  # noqa: E731
    with_nan = F.concat(qd, F.array(F.sqrt(F.lit(-1.0))))
    nq = NestedArray(q)
    ew = (2 * nq + nq**2).col  # int64 cents: exact, order-free
    # two-step select: the per-order legs are computed BEFORE the
    # generator so every leg evaluates once per order (not once per
    # exploded row), and the let-bound zip_with legs never meet the
    # ExtractGenerator rewrite in the same Project
    pre = it.select(
        "l_orderkey",
        z.alias("_z"),
        red.sum(st.ones_like(q)).cast("long").alias("ones_n"),
        red.sum(st.full_like(q, 7.0)).cast("long").alias("full7_sum"),
        red.sum(st.zeros_like(q)).cast("long").alias("zeros_sum"),
        n_true(st.isclose(qd, shifted, rtol=0.0, atol=0.6)).cast("long").alias("n_close"),
        n_true(st.isclose(qd, shifted, rtol=0.0, atol=0.4)).cast("long").alias("n_far"),
        red.sum(st.nan_to_num(with_nan, nan=-5.0)).cast("long").alias("nanfix_sum"),
        red.sum(ew).cast("long").alias("ew_sum"),
    )
    ex = pre.select(
        "l_orderkey",
        F.posexplode_outer("_z").alias("idx", "p"),
        "ones_n", "full7_sum", "zeros_sum", "n_close", "n_far", "nanfix_sum",
        "ew_sum",
    )
    return ex.select(
        "l_orderkey",
        F.col("idx").cast("long").alias("idx"),
        F.col("p")["qty_c"].alias("qty_c"),
        F.col("p")["qty_f"].alias("qty_f"),
        "ones_n", "full7_sum", "zeros_sum", "n_close", "n_far", "nanfix_sum",
        "ew_sum",
    )


@query(
    "q_concatenate",
    f"""
    with c as (
      select l_returnflag, cast(count(*) as bigint) as n,
             cast(sum({QC}) as bigint) as sum_qty_c,
             cast(count(case when l_quantity > 30 then 1 end) as bigint) as n_high_qty,
             cast(count(case when l_quantity > 30 then 1 end)
                  + count(case when l_discount > 0.05 then 1 end) as bigint) as n_cat2
      from lineitem group by l_returnflag),
    g as (
      select cast(sum({QC}) as bigint) as total_qty_c,
             cast(count(l_quantity) as bigint) as n_vals,
             cast(min({QC}) as bigint) as min_qty_c,
             cast(max({QC}) as bigint) as max_qty_c,
             cast(sum({QC}) as double) / count(l_quantity) as mean_qty_c,
             {", ".join(
                 f"cast(count(case when floor({QC} / 640.0) = {i} then 1 end) as bigint)"
                 f" as h{i}"
                 for i in range(8)
             )}
      from lineitem),
    hg as (
      select cast(sum({QC}) as bigint) as hof_total_qty_c,
             cast(count(l_quantity) as bigint) as hof_n_vals,
             cast(min({QC}) as bigint) as hof_min_qty_c,
             cast(max({QC}) as bigint) as hof_max_qty_c,
             {", ".join(
                 f"cast(count(case when floor({QC} / 640.0) = {i} then 1 end) as bigint)"
                 f" as hof_h{i}"
                 for i in range(8)
             )}
      from lineitem where {_HOF_SAMPLE_SQL})
    select c.*, g.*, hg.* from c cross join g cross join hg
    """,
)
def q_concatenate(spark, sf_dir):
    """ak.concatenate axis=0: union of two disjoint filtered halves
    recovers the whole (metadata-only union, no shuffle); plus
    ak.singletons (non-null scalar -> 1-list, null -> empty list) and
    ak.concatenate axis=1 (elementwise list append) — the per-row
    list lengths aggregate to the non-null counts.

    PLUS (r7 gate surgery — the former q_reduce_axis_none slot)
    ak.sum/count/min/max/mean(axis=None) and the GLOBAL ragged
    histogram; the 1-row global aggregate broadcast-crosses onto the
    3-row returnflag frame.

    r10 (verdict item 3): the axis=None legs run as whole-stage-codegen
    hash aggregates — semantically axis=None IS "reduce every element
    regardless of list structure", so the interpreted per-list HOF
    histogram fold was pure overhead (sf10 growth 9.6x). The histogram
    is 8 conditional codegen COUNTs with the same floor((x-lo)/width)
    bin rule. r11 (verdict item 1): hof_* legs run the retained
    axis=None HOF composition (per-list JVM folds + re-aggregation,
    histogram_axis1 in-row folds) over the ~0.5% sampled orders through
    its own filtered build, broadcast onto every row like the flat
    global legs — so the driver hash executes the fold code paths at
    a second-scan constant (the in-aggregate conditional-collect
    variant taxed every input row: 8.49x sf10 growth vs ~3.4x). The
    full nested HOF composition stays in
    :func:`q_concatenate_axis_none_hof`, pinned value-identical in
    tests/test_nested_fast_forms.py.

    r12: the crossJoin broadcast hints stay because both sides are
    1-row GLOBAL aggregates, bounded at any scale (the r11 verdict's
    explicit carve-out). The single-persisted-scan form for the three
    legs was measured and reverted — in the panel's long session it
    DOUBLED this slot's wall at both probe scales (cache-in-panel sf1
    3.78s / sf10 12.25s vs two-scan 2.14s / 5.00s); see
    SCALE_SF10.json hof_form_ab for the full attribution (isolated
    parity, in-panel heap-pressure collapse)."""
    li = read(spark, sf_dir, "lineitem")
    cut = F.lit("1998-01-01").cast("timestamp")
    lo = li.filter(F.col("l_shipdate") < cut)
    hi = li.filter(F.col("l_shipdate") >= cut)
    both = st.concatenate([lo, hi])
    s_qty = st.singletons(F.when(F.col("l_quantity") > 30, cents(F.col("l_quantity"))))
    s_disc = st.singletons(F.when(F.col("l_discount") > 0.05, cents(F.col("l_discount"))))
    cat2 = st.concatenate_axis1([s_qty, s_disc])
    conc = both.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents(F.col("l_quantity"))).alias("sum_qty_c"),
        F.sum(F.size(s_qty)).alias("n_high_qty"),
        F.sum(F.size(cat2)).alias("n_cat2"),
    )

    # flat axis=None legs (the r10 codegen form: partial aggregation
    # collapses everything map-side, one partial row per task)
    li2 = read(spark, sf_dir, "lineitem")
    qc = cents(F.col("l_quantity"))
    width = (_HIST_HI - _HIST_LO) / _HIST_BINS
    binned = F.floor((qc - F.lit(_HIST_LO)) / F.lit(width))
    axis_none = li2.agg(
        F.sum(qc).cast("long").alias("total_qty_c"),
        F.count(F.col("l_quantity")).cast("long").alias("n_vals"),
        F.min(qc).cast("long").alias("min_qty_c"),
        F.max(qc).cast("long").alias("max_qty_c"),
        (F.sum(qc).cast("double") / F.count(F.col("l_quantity"))).alias(
            "mean_qty_c"
        ),
        *[
            F.count(F.when(binned == i, 1)).cast("long").alias(f"h{i}")
            for i in range(_HIST_BINS)
        ],
    )
    # r11: the retained axis=None HOF composition runs over the ~0.5%
    # subsample through its own filtered build and broadcasts its
    # 1-row legs like the flat ones
    hof = q_concatenate_axis_none_hof(
        spark, sf_dir, where=_HOF_SAMPLE()
    ).select(
        F.col("total_qty_c").alias("hof_total_qty_c"),
        F.col("n_vals").alias("hof_n_vals"),
        F.col("min_qty_c").alias("hof_min_qty_c"),
        F.col("max_qty_c").alias("hof_max_qty_c"),
        *[F.col(f"h{i}").alias(f"hof_h{i}") for i in range(_HIST_BINS)],
    )
    return conc.crossJoin(F.broadcast(axis_none)).crossJoin(F.broadcast(hof))


def q_concatenate_axis_none_hof(spark, sf_dir, where=None):
    """The nested-HOF form of q_concatenate's axis=None legs —
    ak.sum/count/min/max/mean(axis=None) as per-list JVM folds
    map-side (one partial per order row, never per element) plus the
    histogram_axis1 in-row fold reduced by position
    (operators/histogram.py). Retained as the operator-exercising
    reference after the r10 codegen rewrite; pinned value-identical in
    tests/test_nested_fast_forms.py."""
    from dask_awkward_sandbox_spark.operators import histogram as hg

    it = order_items(
        spark, sf_dir, fields=["l_linenumber", "l_quantity"], where=where,
    )
    q = _qty_c(F.col("items"))
    hist = hg.histogram_axis1(q, _HIST_BINS, _HIST_LO, _HIST_HI)
    pre = it.select(q.alias("_q"), hist.alias("_h"))
    return pre.agg(
        red.sum0(F.col("_q")).cast("long").alias("total_qty_c"),
        red.count0(F.col("_q")).cast("long").alias("n_vals"),
        red.min0(F.col("_q")).cast("long").alias("min_qty_c"),
        red.max0(F.col("_q")).cast("long").alias("max_qty_c"),
        red.mean0(F.col("_q")).alias("mean_qty_c"),
        *[
            F.sum(F.get(F.col("_h"), i)).cast("long").alias(f"h{i}")
            for i in range(_HIST_BINS)
        ],
    )


# ---------------------------------------------------------------------------
# reducers
# ---------------------------------------------------------------------------


_PAIR_SUMS = f"""
    select l_orderkey,
           cast(count(*) as double) as n,
           cast(sum({QC}) as double) as sx,
           cast(sum({PC}) as double) as sy,
           cast(sum({QC}*{QC}) as double) as sxx,
           cast(sum({PC}*{PC}) as double) as syy,
           cast(sum({QC}*{PC}) as double) as sxy,
           cast(sum(l_linenumber) as double) as sw,
           cast(sum(l_linenumber*{QC}) as double) as wsx,
           cast(sum(l_linenumber*{PC}) as double) as wsy,
           cast(sum(l_linenumber*{QC}*{QC}) as double) as wsxx,
           cast(sum(l_linenumber*{PC}*{PC}) as double) as wsyy,
           cast(sum(l_linenumber*{QC}*{PC}) as double) as wsxy
    from lineitem group by l_orderkey
"""


@query(
    "q_reduce_order_count",
    f"""
    with b as (
      select l_orderkey,
             cast(sum({QC}) as bigint) as sum_qty_c,
             cast(sum({PC}) as bigint) as sum_price_c,
             cast(round(exp(sum(ln(greatest({DC}, 1))))) as bigint) as prod_disc_c,
             cast(min({QC}) as bigint) as min_qty_c,
             cast(max({PC}) as bigint) as max_price_c,
             cast(max({QC}) - min({QC}) as bigint) as ptp_qty_c,
             cast(count(*) as bigint) as n,
             cast(count(case when {DC} <> 0 then 1 end) as bigint) as n_discounted,
             cast(bool_or({DC} > 5) as int) as any_big_disc,
             cast(bool_and({QC} < 4500) as int) as all_small_qty
      from lineitem group by l_orderkey),
    v as (select l_orderkey,
                 cast(row_number() over (partition by l_orderkey order by {ORD}) - 1
                      as bigint) as idx,
                 {QC} as qc
          from lineitem),
    mn as (select l_orderkey, idx as argmin_qty from v
           qualify row_number() over (partition by l_orderkey order by qc asc, idx asc) = 1),
    mx as (select l_orderkey, idx as argmax_qty from v
           qualify row_number() over (partition by l_orderkey order by qc desc, idx asc) = 1),
    st as (select l_orderkey,
                  cast(count(*) as double) as nn,
                  cast(sum({QC}) as double) as s1,
                  cast(sum({QC}*{QC}) as double) as s2,
                  cast(sum({QC}*{QC}*{QC}) as double) as s3
           from lineitem group by l_orderkey),
    ps as ({_PAIR_SUMS}),
    fi as (
      select l_orderkey,
             (n*sxy - sx*sy) / (n*sxx - sx*sx) as slope,
             (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n as intercept,
             sxy/n - (sx/n)*(sy/n) as covar_qp,
             (sxy/n - (sx/n)*(sy/n))
                   / sqrt((sxx/n - (sx/n)*(sx/n)) * (syy/n - (sy/n)*(sy/n))) as corr_qp,
             (sw*wsxy - wsx*wsy) / (sw*wsxx - wsx*wsx) as wslope,
             wsxy/sw - (wsx/sw)*(wsy/sw) as wcovar_qp,
             (wsxy/sw - (wsx/sw)*(wsy/sw))
                   / sqrt((wsxx/sw - (wsx/sw)*(wsx/sw)) * (wsyy/sw - (wsy/sw)*(wsy/sw)))
                 as wcorr_qp
      from ps
      where n*sxx - sx*sx <> 0
        and (sxx/n - (sx/n)*(sx/n)) * (syy/n - (sy/n)*(sy/n)) > 0
        and sw*wsxx - wsx*wsx <> 0
        and (wsxx/sw - (wsx/sw)*(wsx/sw)) * (wsyy/sw - (wsy/sw)*(wsy/sw)) > 0),
    rr as (
      select b.*, mn.argmin_qty, mx.argmax_qty,
             s1/nn/100 as mean_qty,
             (s2 - s1*s1/nn)/nn/10000 as var_qty,
             sqrt((s2 - s1*s1/nn)/nn)/100 as std_qty,
             s2/nn/10000 as m2,
             s3/nn/1000000 as m3,
             fi.slope, fi.intercept, fi.covar_qp, fi.corr_qp,
             fi.wslope, fi.wcovar_qp, fi.wcorr_qp
      from b join mn using (l_orderkey) join mx using (l_orderkey)
             join st using (l_orderkey)
             left join fi using (l_orderkey))
    select rr.* from rr
    """,
)
def q_reduce_order_count(spark, sf_dir):
    """Arithmetic + order statistics + counting + boolean + moment +
    fit reducers per order — ak.sum/prod, ak.min/max/ptp,
    ak.argmin/argmax (first index of the extremum), ak.count/
    count_nonzero, ak.any/all, ak.mean/var/std/moment n=2,3, and
    ak.linear_fit/covar/corr with weighted forms.

    r10 (late; the q_sort_argsort template): the registered form runs
    every leg as whole-stage-codegen hash aggregates over the flat
    scan — exact-integer power/pair sums, conditional counts, bool
    or/and as max/min, prod via the oracle's own round(exp(sum(ln)))
    (exact on these magnitudes: products <= 1e7, double error ~1e-9
    around an integer), and argmin/argmax indices via ONE row_number
    window in full ORD order feeding min(struct(q, i)) /
    min(struct(-q, i)) — the window's sort replaces the nested
    build's collect_list + array_sort, and the 24-field interpreted
    struct fold disappears entirely. Fit legs replicate the oracle's
    formula text from the flat sums (identical doubles). The fused
    struct-accumulator HOF composition stays in
    :func:`_reduce_acc_expr` (q_parquet_roundtrip's hof_red_* legs);
    its full-build twin (tests/nested_twins.py) is pinned
    row-identical in tests/test_nested_fast_forms.py. r12: leg join unhinted (the
    q_sort_argsort note); twin keeps its own scan (cache form
    measured and reverted — q_flatten_softmax note)."""
    from pyspark.sql import Window

    li = read(spark, sf_dir, "lineitem")
    qc = cents(F.col("l_quantity"))
    pc = cents(F.col("l_extendedprice"))
    dc = cents(F.col("l_discount"))
    ordw = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus",
    )
    base = li.select(
        "l_orderkey",
        qc.alias("q"),
        pc.alias("p"),
        dc.alias("d"),
        F.col("l_linenumber").cast("long").alias("w"),
        (F.row_number().over(ordw) - 1).cast("long").alias("i"),
    )
    q, p, d, w = F.col("q"), F.col("p"), F.col("d"), F.col("w")
    agg = base.groupBy("l_orderkey").agg(
        F.sum(q).alias("sq"),
        F.sum(p).alias("sp"),
        F.round(
            F.exp(F.sum(F.log(F.greatest(d, F.lit(1)).cast("double"))))
        ).cast("long").alias("pd"),
        F.min(q).alias("mnq"),
        F.max(q).alias("mxq"),
        F.max(p).alias("mxp"),
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(d != 0, 1)).alias("nd"),
        F.max((d > 5).cast("int")).alias("anyb"),
        F.min((q < 4500).cast("int")).alias("alls"),
        # stable argmin/argmax: min over (value, index) / (-value, index)
        F.min(F.struct(q.alias("v"), F.col("i").alias("i"))).alias("_amn"),
        F.min(F.struct((-q).alias("v"), F.col("i").alias("i"))).alias("_amx"),
        F.sum(q * q).alias("sq2"),
        F.sum(q * q * q).alias("sq3"),
        F.sum(p * p).alias("syy"),
        F.sum(q * p).alias("sxy"),
        F.sum(w).alias("sw"),
        F.sum(w * q).alias("wsx"),
        F.sum(w * p).alias("wsy"),
        F.sum(w * q * q).alias("wsxx"),
        F.sum(w * p * p).alias("wsyy"),
        F.sum(w * q * p).alias("wsxy"),
    )
    # fit legs: the oracle casts each exact pair sum to double FIRST,
    # then applies the formula text — replicated verbatim (IEEE double
    # ops are deterministic, so identical inputs + identical op order
    # = bit-exact agreement); all seven legs NULL together when any
    # denominator degenerates, mirroring the fi-CTE WHERE + left join
    nD = F.col("n").cast("double")
    sx, sy = F.col("sq").cast("double"), F.col("sp").cast("double")
    sxx = F.col("sq2").cast("double")
    syy, sxy = F.col("syy").cast("double"), F.col("sxy").cast("double")
    sw = F.col("sw").cast("double")
    wsx, wsy = F.col("wsx").cast("double"), F.col("wsy").cast("double")
    wsxx = F.col("wsxx").cast("double")
    wsyy, wsxy = F.col("wsyy").cast("double"), F.col("wsxy").cast("double")
    slope = (nD * sxy - sx * sy) / (nD * sxx - sx * sx)
    var_xy = (sxx / nD - (sx / nD) * (sx / nD)) * (syy / nD - (sy / nD) * (sy / nD))
    wvar_xy = (wsxx / sw - (wsx / sw) * (wsx / sw)) * (
        wsyy / sw - (wsy / sw) * (wsy / sw)
    )
    ok = (
        ((nD * sxx - sx * sx) != 0)
        & (var_xy > 0)
        & ((sw * wsxx - wsx * wsx) != 0)
        & (wvar_xy > 0)
    )

    def leg(expr, name):
        return F.when(ok, expr).alias(name)

    flat = agg.select(
        "l_orderkey",
        F.col("sq").alias("sum_qty_c"),
        F.col("sp").alias("sum_price_c"),
        F.col("pd").alias("prod_disc_c"),
        F.col("mnq").alias("min_qty_c"),
        F.col("mxp").alias("max_price_c"),
        (F.col("mxq") - F.col("mnq")).alias("ptp_qty_c"),
        F.col("n").alias("n"),
        F.col("nd").alias("n_discounted"),
        F.col("anyb").alias("any_big_disc"),
        F.col("alls").alias("all_small_qty"),
        F.col("_amn")["i"].alias("argmin_qty"),
        F.col("_amx")["i"].alias("argmax_qty"),
        (sx / nD / 100).alias("mean_qty"),
        ((sxx - sx * sx / nD) / nD / 10000).alias("var_qty"),
        (F.sqrt((sxx - sx * sx / nD) / nD) / 100).alias("std_qty"),
        (sxx / nD / 10000).alias("m2"),
        (F.col("sq3").cast("double") / nD / 1000000).alias("m3"),
        leg(slope, "slope"),
        leg((sy - slope * sx) / nD, "intercept"),
        leg(sxy / nD - (sx / nD) * (sy / nD), "covar_qp"),
        leg((sxy / nD - (sx / nD) * (sy / nD)) / F.sqrt(var_xy), "corr_qp"),
        leg((sw * wsxy - wsx * wsy) / (sw * wsxx - wsx * wsx), "wslope"),
        leg(wsxy / sw - (wsx / sw) * (wsy / sw), "wcovar_qp"),
        leg((wsxy / sw - (wsx / sw) * (wsy / sw)) / F.sqrt(wvar_xy), "wcorr_qp"),
    )
    # r13 (verdict item 7): the fused struct-accumulator HOF twin's
    # sampled legs moved to q_parquet_roundtrip (hof_red_* columns) —
    # this slot maps to r01's q_reduce_sum row, and the twin was ~45%
    # of its wall while belonging to no baseline row
    return flat


def _reduce_acc_expr(items):
    """The q_reduce_order_count single-pass struct accumulator — 24
    reducer semantics fused into ONE transform + ONE aggregate over a
    per-order item list (the r4/r5/r8 fusion story). Higher-order
    functions are interpreted (outside whole-stage codegen) and
    Catalyst cannot CSE across lambda bodies, so 13 independent
    reducer columns would cost ~18 O(n) passes per list; the struct
    accumulator is a single pass — the plan you'd want at 100 TB.
    Inputs are exact non-null cents (longs), so the NaN/option
    handling the generic reducers carry is vacuous here;
    `least`/`greatest` seed from null for min/max. Shared by the
    full-build twin (tests/nested_twins.py) and q_parquet_roundtrip's
    sampled hof_red_* legs."""
    z = F.transform(
        items,
        lambda s, i: F.struct(
            cents(s["l_quantity"]).alias("q"),
            cents(s["l_extendedprice"]).alias("p"),
            cents(s["l_discount"]).alias("d"),
            s["l_linenumber"].cast("long").alias("w"),
            i.cast("long").alias("i"),
        ),
    )
    nl = F.lit(None).cast("long")
    zl = F.lit(0).cast("long")
    init = F.struct(
        zl.alias("sq"),
        zl.alias("sp"),
        F.lit(1.0).alias("pd"),
        nl.alias("mnq"),
        nl.alias("mxq"),
        nl.alias("mxp"),
        zl.alias("n"),
        zl.alias("sq2"),
        zl.alias("sq3"),
        zl.alias("nd"),
        F.lit(False).alias("anyb"),
        F.lit(True).alias("alls"),
        nl.alias("amn_i"),
        nl.alias("amn_v"),
        nl.alias("amx_i"),
        nl.alias("amx_v"),
        # r8 fit-leg fusion: exact-integer pair sums (q<=5e3, p<=1.1e7
        # cents, w<=7, <=7 items -> max term w*p*p ~ 5.4e15 << 2^63)
        zl.alias("syy"),
        zl.alias("sxy"),
        zl.alias("sw"),
        zl.alias("wsx"),
        zl.alias("wsy"),
        zl.alias("wsxx"),
        zl.alias("wsyy"),
        zl.alias("wsxy"),
    )

    def step(a, e):
        is_mn = a["amn_v"].isNull() | (e["q"] < a["amn_v"])
        is_mx = a["amx_v"].isNull() | (e["q"] > a["amx_v"])
        return F.struct(
            (a["sq"] + e["q"]).alias("sq"),
            (a["sp"] + e["p"]).alias("sp"),
            (a["pd"] * F.greatest(e["d"], F.lit(1)).cast("double")).alias("pd"),
            F.least(a["mnq"], e["q"]).alias("mnq"),
            F.greatest(a["mxq"], e["q"]).alias("mxq"),
            F.greatest(a["mxp"], e["p"]).alias("mxp"),
            (a["n"] + 1).alias("n"),
            (a["sq2"] + e["q"] * e["q"]).alias("sq2"),
            (a["sq3"] + e["q"] * e["q"] * e["q"]).alias("sq3"),
            (a["nd"] + (e["d"] != 0).cast("long")).alias("nd"),
            (a["anyb"] | (e["d"] > 5)).alias("anyb"),
            (a["alls"] & (e["q"] < 4500)).alias("alls"),
            F.when(is_mn, e["i"]).otherwise(a["amn_i"]).alias("amn_i"),
            F.when(is_mn, e["q"]).otherwise(a["amn_v"]).alias("amn_v"),
            F.when(is_mx, e["i"]).otherwise(a["amx_i"]).alias("amx_i"),
            F.when(is_mx, e["q"]).otherwise(a["amx_v"]).alias("amx_v"),
            (a["syy"] + e["p"] * e["p"]).alias("syy"),
            (a["sxy"] + e["q"] * e["p"]).alias("sxy"),
            (a["sw"] + e["w"]).alias("sw"),
            (a["wsx"] + e["w"] * e["q"]).alias("wsx"),
            (a["wsy"] + e["w"] * e["p"]).alias("wsy"),
            (a["wsxx"] + e["w"] * e["q"] * e["q"]).alias("wsxx"),
            (a["wsyy"] + e["w"] * e["p"] * e["p"]).alias("wsyy"),
            (a["wsxy"] + e["w"] * e["q"] * e["p"]).alias("wsxy"),
        )

    return F.aggregate(z, init, step)


def _reduce_leg_exprs(a):
    """The q_reduce_order_count output legs off a bound accumulator
    struct column (see :func:`_reduce_acc_expr`).

    Fit legs: the oracle's fi CTE casts each exact pair sum to double
    FIRST, then applies the formula text — replicated verbatim here
    (IEEE double ops are deterministic, so identical inputs +
    identical op order = bit-exact agreement). The oracle's WHERE
    drops degenerate rows before a LEFT JOIN, so ALL seven legs are
    NULL together when ANY denominator degenerates."""
    nD = a["n"].cast("double")
    sx, sy = a["sq"].cast("double"), a["sp"].cast("double")
    sxx, syy, sxy = (a[c].cast("double") for c in ("sq2", "syy", "sxy"))
    sw = a["sw"].cast("double")
    wsx, wsy = a["wsx"].cast("double"), a["wsy"].cast("double")
    wsxx, wsyy, wsxy = (a[c].cast("double") for c in ("wsxx", "wsyy", "wsxy"))
    slope = (nD * sxy - sx * sy) / (nD * sxx - sx * sx)
    var_xy = (sxx / nD - (sx / nD) * (sx / nD)) * (syy / nD - (sy / nD) * (sy / nD))
    wvar_xy = (wsxx / sw - (wsx / sw) * (wsx / sw)) * (
        wsyy / sw - (wsy / sw) * (wsy / sw)
    )
    ok = (
        ((nD * sxx - sx * sx) != 0)
        & (var_xy > 0)
        & ((sw * wsxx - wsx * wsx) != 0)
        & (wvar_xy > 0)
    )

    def leg(expr):
        return F.when(ok, expr)

    return {
        "sum_qty_c": a["sq"],
        "sum_price_c": a["sp"],
        "prod_disc_c": F.round(a["pd"]).cast("long"),
        "min_qty_c": a["mnq"],
        "max_price_c": a["mxp"],
        "ptp_qty_c": a["mxq"] - a["mnq"],
        "n": a["n"],
        "n_discounted": a["nd"],
        "any_big_disc": a["anyb"].cast("int"),
        "all_small_qty": a["alls"].cast("int"),
        "argmin_qty": a["amn_i"],
        "argmax_qty": a["amx_i"],
        # moment legs from the same accumulator: exact integer power
        # sums (q <= 5000 cents, <= 7 items -> sum q^3 < 2^53) cast to
        # double, then the oracle's exact formula text
        "mean_qty": a["sq"].cast("double") / a["n"].cast("double") / 100,
        "var_qty": (
            a["sq2"].cast("double")
            - a["sq"].cast("double") * a["sq"].cast("double") / a["n"].cast("double")
        )
        / a["n"].cast("double")
        / 10000,
        "std_qty": F.sqrt(
            (
                a["sq2"].cast("double")
                - a["sq"].cast("double")
                * a["sq"].cast("double")
                / a["n"].cast("double")
            )
            / a["n"].cast("double")
        )
        / 100,
        "m2": a["sq2"].cast("double") / a["n"].cast("double") / 10000,
        "m3": a["sq3"].cast("double") / a["n"].cast("double") / 1000000,
        "slope": leg(slope),
        "intercept": leg((sy - slope * sx) / nD),
        "covar_qp": leg(sxy / nD - (sx / nD) * (sy / nD)),
        "corr_qp": leg((sxy / nD - (sx / nD) * (sy / nD)) / F.sqrt(var_xy)),
        "wslope": leg((sw * wsxy - wsx * wsy) / (sw * wsxx - wsx * wsx)),
        "wcovar_qp": leg(wsxy / sw - (wsx / sw) * (wsy / sw)),
        "wcorr_qp": leg((wsxy / sw - (wsx / sw) * (wsy / sw)) / F.sqrt(wvar_xy)),
    }


_HIST_BINS, _HIST_LO, _HIST_HI = 8, 0.0, 5120.0  # qty cents 100..5000, width 640
