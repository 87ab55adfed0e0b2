"""IO-surface queries: parquet/json/text roundtrips, from_lists,
to_dataframe, sample, unflatten.

Roundtrip pattern: the Spark side WRITES derived data to a scratch
dir, reads it back through the io/ module, and computes a summary;
the oracle computes the same summary straight from the source views.
A roundtrip bug (schema drift, lost rows, mangled nesting) breaks the
match.

Queries are consolidated (one slot covers several IO surfaces, one
column-group each) so the whole §2 surface fits the driver's 50-slot
correctness gate.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dask_awkward_sandbox_spark.inspect import sample
from dask_awkward_sandbox_spark.io import (
    from_json,
    from_lists,
    from_parquet,
    from_text,
    to_dataframe,
    to_json,
    to_parquet,
)
from dask_awkward_sandbox_spark.io.text import to_text
from dask_awkward_sandbox_spark.operators import structure as st
from dask_awkward_sandbox_spark.plans.common import (
    cents,
    fld_map,
    order_items,
    parquet_row_count,
    read,
)
from dask_awkward_sandbox_spark.plans.nested import (
    DC,
    ORD,
    PC,
    QC,
    _HOF_SAMPLE,
    _HOF_SAMPLE_MOD,
    _HOF_SAMPLE_SQL,
    _PAIR_SUMS,
    q_cartesian_combinations_hof,
    q_reduce_order_count_hof,
    q_sort_argsort_hof,
)
from dask_awkward_sandbox_spark.plans.registry import query
# SCRATCH stays importable here: perfbench/run.py's redirect_scratch
# reads the scratch root from this module
from dask_awkward_sandbox_spark.session import SCRATCH, scoped_conf, scratch_path  # noqa: F401

# at most one resident roundtrip cache per session (r13 advice: the
# persist previously outlived the query with no unpersist)
import threading

# one persisted roundtrip frame per scratch path (see the r14 note in
# q_parquet_roundtrip: replacing an entry tracks the overwrite of its
# source files, so the old frame was already invalid)
_ROUNDTRIP_CACHE: dict = {}
_ROUNDTRIP_LOCK = threading.Lock()


@query(
    "q_parquet_roundtrip",
    f"""
    with base as (
    select l_orderkey, cast(count(*) as bigint) as n_items,
           cast(sum(cast(round(l_quantity*100) as bigint)) as bigint) as sum_qty_c,
           cast(count(*) as bigint) as flat_n,
           cast(sum(l_linenumber) as bigint) as flat_sum_ln,
           cast(sum(l_linenumber) as bigint) as enf_sum_ln,
           cast(count(*) as bigint) as enf_n_bogus_null,
           case when l_orderkey % {_HOF_SAMPLE_MOD} = 0
                then cast(sum(cast(round(l_quantity*100) as bigint) * 2 + 1) as bigint)
           end as mp_sum_qty2,
           case when l_orderkey % {_HOF_SAMPLE_MOD} = 0
                then cast(sum(l_linenumber * (cast(round(l_quantity*100) as bigint) * 2 + 1))
                as bigint)
           end as mp_dot,
           case when l_orderkey % {_HOF_SAMPLE_MOD} = 0
                then cast(sum(cast(round(l_quantity*100) as bigint)) as bigint)
           end as hof_sum_qty_c,
           case when l_orderkey % {_HOF_SAMPLE_MOD} = 0 then cast(sum(l_linenumber) as bigint)
           end as hof_enf_sum_ln,
           case when l_orderkey % {_HOF_SAMPLE_MOD} = 0 then cast(count(*) as bigint)
           end as hof_enf_n_bogus_null
    from lineitem group by l_orderkey),
    -- r13 (verdict item 7): the three relocated HOF-twin leg sets,
    -- replayed over the SAMPLED orders only and left-joined (null for
    -- unsampled orders). Expression text copied verbatim from the
    -- donor slots' oracles so values are bit-identical.
    li_s as (select * from lineitem where {_HOF_SAMPLE_SQL}),
    sr as (select l_orderkey, {QC} as qc,
                  row_number() over (partition by l_orderkey order by {QC} desc) as rn
           from li_s),
    st1 as (select l_orderkey, qc as top1_qty_c from sr where rn = 1),
    st2 as (select l_orderkey, qc as top2_qty_c from sr where rn = 2),
    sa as (select l_orderkey, cast(l_linenumber as bigint) as min_ln, {QC} as min_qty_c
           from li_s
           qualify row_number() over (partition by l_orderkey
                                      order by l_quantity asc, {ORD}) = 1),
    sm as (select l_orderkey, max(case when l_linenumber <> 1 then {QC} end) as top1_masked_qty_c
           from li_s group by l_orderkey),
    sb as (
      select l_orderkey,
             cast(count(*) as bigint) as n_items,
             cast(count(case when {QC} > 4500 then 1 end) as bigint) as n_high,
             cast(coalesce(sum(case when l_returnflag = 'R' then {QC} end), 0) as bigint)
               as masked_sum,
             cast(count(case when l_returnflag = 'R' then 1 end) as bigint) as n_kept,
             cast(sum(case when l_returnflag = 'R' then {QC} else -{QC} end) as bigint)
               as signed_sum
      from li_s group by l_orderkey),
    sf as (
      select l_orderkey, cast(l_linenumber as bigint) as first_ln, {QC} as first_qty_c
      from li_s
      qualify row_number() over (partition by l_orderkey order by {ORD}) = 1),
    sort_legs as (
      select sa.l_orderkey,
             st1.top1_qty_c as hof_sort_top1_qty_c,
             st2.top2_qty_c as hof_sort_top2_qty_c,
             sa.min_ln as hof_sort_min_ln,
             sa.min_qty_c as hof_sort_min_qty_c,
             sm.top1_masked_qty_c as hof_sort_top1_masked_qty_c,
             sb.n_items as hof_sort_n_items,
             sb.n_high as hof_sort_n_high,
             sb.masked_sum as hof_sort_masked_sum,
             sb.n_kept as hof_sort_n_kept,
             sb.signed_sum as hof_sort_signed_sum,
             sf.first_ln as hof_sort_first_ln,
             sf.first_qty_c as hof_sort_first_qty_c
      from sa join st1 using (l_orderkey) left join st2 using (l_orderkey)
              join sm using (l_orderkey) join sb using (l_orderkey)
              join sf using (l_orderkey)),
    rb as (
      select l_orderkey,
             cast(sum({QC}) as bigint) as sum_qty_c,
             cast(round(exp(sum(ln(greatest({DC}, 1))))) as bigint) as prod_disc_c,
             cast(min({QC}) as bigint) as min_qty_c,
             cast(max({PC}) as bigint) as max_price_c,
             cast(max({QC}) - min({QC}) as bigint) as ptp_qty_c,
             cast(count(case when {DC} <> 0 then 1 end) as bigint) as n_discounted,
             cast(bool_or({DC} > 5) as int) as any_big_disc,
             cast(bool_and({QC} < 4500) as int) as all_small_qty
      from li_s group by l_orderkey),
    rv as (select l_orderkey,
                  cast(row_number() over (partition by l_orderkey order by {ORD}) - 1
                       as bigint) as idx,
                  {QC} as qc
           from li_s),
    rmn as (select l_orderkey, idx as argmin_qty from rv
            qualify row_number() over (partition by l_orderkey order by qc asc, idx asc) = 1),
    rmx as (select l_orderkey, idx as argmax_qty from rv
            qualify row_number() over (partition by l_orderkey order by qc desc, idx asc) = 1),
    rst as (select l_orderkey,
                   cast(count(*) as double) as nn,
                   cast(sum({QC}) as double) as s1,
                   cast(sum({QC}*{QC}*{QC}) as double) as s3
            from li_s group by l_orderkey),
    rps as (select * from ({_PAIR_SUMS}) where {_HOF_SAMPLE_SQL}),
    rfi as (
      select l_orderkey,
             (sxy/n - (sx/n)*(sy/n))
                   / sqrt((sxx/n - (sx/n)*(sx/n)) * (syy/n - (sy/n)*(sy/n))) as corr_qp
      from rps
      where n*sxx - sx*sx <> 0
        and (sxx/n - (sx/n)*(sx/n)) * (syy/n - (sy/n)*(sy/n)) > 0
        and sw*wsxx - wsx*wsx <> 0
        and (wsxx/sw - (wsx/sw)*(wsx/sw)) * (wsyy/sw - (wsy/sw)*(wsy/sw)) > 0),
    red_legs as (
      select rb.l_orderkey,
             rb.sum_qty_c as hof_red_sum_qty_c,
             rb.prod_disc_c as hof_red_prod_disc_c,
             rb.min_qty_c as hof_red_min_qty_c,
             rb.max_price_c as hof_red_max_price_c,
             rb.ptp_qty_c as hof_red_ptp_qty_c,
             rb.n_discounted as hof_red_n_discounted,
             rb.any_big_disc as hof_red_any_big_disc,
             rb.all_small_qty as hof_red_all_small_qty,
             rmn.argmin_qty as hof_red_argmin_qty,
             rmx.argmax_qty as hof_red_argmax_qty,
             rst.s1/rst.nn/100 as hof_red_mean_qty,
             rst.s3/rst.nn/1000000 as hof_red_m3,
             rfi.corr_qp as hof_red_corr_qp
      from rb join rmn using (l_orderkey) join rmx using (l_orderkey)
              join rst using (l_orderkey)
              left join rfi using (l_orderkey)),
    cs as (select l_orderkey, count(*) as n,
                  sum({QC}) as sq, sum({QC}*{QC}) as sqq, sum({DC}) as sd,
                  sum({QC} * {PC}) as dot,
                  sum({PC} * (100 - {DC})) as dpu
           from li_s group by l_orderkey),
    cart_legs as (
      select l_orderkey,
             cast(n*n as bigint) as hof_cart_n_pairs_cart,
             cast(sq*sd as bigint) as hof_cart_cross_sum,
             cast(n*(n-1)/2 as bigint) as hof_cart_n_pairs_comb,
             cast((sq*sq - sqq)/2 as bigint) as hof_cart_pair_sum,
             cast(dot as bigint) as hof_cart_dot_c,
             cast(dpu as bigint) as hof_cart_sum_disc_price_u
      from cs)
    select base.*, sort_legs.* exclude (l_orderkey),
           red_legs.* exclude (l_orderkey),
           cart_legs.* exclude (l_orderkey)
    from base
    left join sort_legs using (l_orderkey)
    left join red_legs using (l_orderkey)
    left join cart_legs using (l_orderkey)
    """,
)
def q_parquet_roundtrip(spark, sf_dir):
    """Nested array<struct> -> parquet -> read back (with column
    projection) -> reduce; exercises nested parquet write/read and
    read-side schema pruning. The SAME read-back frame then goes
    through ``to_dataframe`` (explode + struct flattening, the
    dd.DataFrame conversion) and re-aggregates — the flat_* columns
    only match if the flatten is lossless.

    r7 gate surgery (registry back to exactly 50): the former
    q_map_partitions slot rides along as the mp_* legs —
    dak.map_partitions ≙ mapInArrow, arbitrary per-partition code,
    Arrow-batched (the one legitimate Python-in-the-path escape
    hatch); the per-row qty2 values it computes aggregate per order,
    incl. a linenumber-weighted dot that is NOT derivable from the
    other columns, so a broken Arrow kernel breaks the hash. r13: the
    mp_* legs run over the SAME sampled l_orderkey subsample as the
    hof legs (modulus _HOF_SAMPLE_MOD, ~0.5% at r13 — the established
    gate-verification precedent) — a
    full-fact-table Arrow transit through Python workers exists
    nowhere else in the engine and §4 forbids it in the hot path; the
    filter sits BEFORE mapInArrow so it reaches the parquet scan and
    the Python workers only ever see the sample."""
    it = order_items(spark, sf_dir, fields=["l_linenumber", "l_quantity"])
    path = scratch_path(sf_dir, "nested_items")
    to_parquet(it, path, max_records_per_file=100_000)
    # r12 (verdict items 1+5): the read-back frame feeds FIVE branches
    # (nested_side, to_dataframe explode, enforce_type explode, and
    # the two sampled hof legs) — persist it so the executed plan
    # scans the roundtrip file ONCE and every branch reads the
    # InMemoryRelation. Unlike the fact-projection caches (measured
    # and reverted — nested.py q_flatten_softmax note), this frame is
    # ORDER-grained (|orders| rows, ~4x smaller than lineitem) with
    # five consumers of an expensive nested-parquet scan: the persist
    # form measured neutral-to-better here (sf10 growth 8.18 -> 7.0)
    # and stays. The hof leg joins drop their broadcast hints (the
    # sampled side is a fixed ~0.5% fraction — linear in the data — so
    # AQE must keep the right to degrade to sort-merge).
    # r13 (advice): cap cache residency at ONE roundtrip frame per
    # sf_dir. r14 (advice): keyed by the scratch path and lock-guarded
    # — replacing the entry is CORRECT, not just economical, because
    # this call just OVERWROTE that path's parquet files, so any frame
    # a caller still holds from an earlier invocation is invalid either
    # way (its source files are gone); the non-blocking unpersist only
    # makes the recompute-on-touch explicit. Different sf_dirs keep
    # independent entries. Long-session callers running many slots
    # between invocations should clearCache() between slots (bench.py
    # does, per rep).
    with _ROUNDTRIP_LOCK:
        prev = _ROUNDTRIP_CACHE.pop(path, None)
        if prev is not None:
            prev.unpersist(blocking=False)
        back = from_parquet(spark, path, columns=["l_orderkey", "items"]).persist()
        _ROUNDTRIP_CACHE[path] = back
    # r11 (verdict item 3): full-data reductions run CODEGEN — n_items
    # is size(), and sum_qty_c rides the to_dataframe explode below
    # (same nested parquet column, flat hash aggregate) instead of an
    # interpreted per-list fold; the fold itself stays under the gate
    # as the sampled hof_sum_qty_c leg, computed on a FILTERED pass
    # (a per-row guarded fold would pay one interpreted expression per
    # order — the q_sort_argsort note)
    samp = F.col("l_orderkey") % _HOF_SAMPLE_MOD == 0
    q = fld_map(F.col("items"), "l_quantity", cents)
    nested_side = back.select(
        "l_orderkey",
        st.num(F.col("items")).alias("n_items"),
    )
    hof_nested = back.filter(samp).select(
        "l_orderkey",
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "hof_sum_qty_c"
        ),
    )
    flat = to_dataframe(back, explode_col="items")
    flat_side = flat.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("flat_n"),
        F.sum(F.col("items_l_linenumber").cast("long")).alias("flat_sum_ln"),
        F.sum(cents(F.col("items_l_quantity"))).alias("sum_qty_c"),
    )
    # enforce_type leg: coerce the read-back frame to a target schema
    # (narrow linenumber, stringify quantity, add an all-null field) and
    # prove the coercion is lossless where it should be: the narrowed
    # linenumbers still sum to the oracle's, and the NEW field is null
    # for every element (counted per order). r11: the reductions run
    # over a codegen explode; the fold/filter HOF forms stay under the
    # gate as sampled hof_enf_* legs off a filtered pass
    enf = st.enforce_type(
        back,
        "l_orderkey bigint, "
        "items array<struct<l_linenumber: smallint, l_quantity: string, l_bogus: double>>",
    )
    enf_ex = enf.select("l_orderkey", F.explode("items").alias("it"))
    enf_side = enf_ex.groupBy("l_orderkey").agg(
        F.sum(F.col("it")["l_linenumber"].cast("long")).alias("enf_sum_ln"),
        F.count(F.when(F.col("it")["l_bogus"].isNull(), 1)).alias(
            "enf_n_bogus_null"
        ),
    )
    hof_enf = enf.filter(samp).select(
        "l_orderkey",
        F.aggregate(
            F.col("items"), F.lit(0).cast("long"),
            lambda a, s: a + s["l_linenumber"].cast("long"),
        ).alias("hof_enf_sum_ln"),
        F.size(
            F.filter(F.col("items"), lambda s: s["l_bogus"].isNull())
        ).cast("long").alias("hof_enf_n_bogus_null"),
    )
    # mp_* legs: map_partitions over the flat lineitem scan
    import pyarrow as pa

    li = (
        read(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .filter(F.col("l_orderkey") % _HOF_SAMPLE_MOD == 0)
    )

    def fn(batches):
        for b in batches:
            qty2 = pa.compute.add(
                pa.compute.multiply(
                    pa.compute.round(
                        pa.compute.multiply(b.column("l_quantity"), 100.0)
                    ).cast(pa.int64()),
                    2,
                ),
                1,
            )
            t = pa.table(
                {
                    "l_orderkey": b.column("l_orderkey"),
                    "l_linenumber": b.column("l_linenumber").cast(pa.int64()),
                    "qty2": qty2,
                }
            )
            for ob in t.to_batches():
                yield ob

    mp = li.mapInArrow(fn, "l_orderkey long, l_linenumber long, qty2 long")
    mp_side = mp.groupBy("l_orderkey").agg(
        F.sum("qty2").alias("mp_sum_qty2"),
        F.sum(F.col("l_linenumber") * F.col("qty2")).alias("mp_dot"),
    )
    # r13 (verdict item 7): the three HOF twins relocated here from
    # their baseline-mapped donors (q_sort_argsort, q_reduce_order_count,
    # q_cartesian_combinations map to r01 rows; this slot does not).
    # Each twin keeps its own sampled scan (the measured two-scan
    # shape) and left-joins per order; the oracle replays each leg
    # from sampled CTEs copied verbatim from the donor oracles.
    sort_twin = q_sort_argsort_hof(spark, sf_dir, where=_HOF_SAMPLE()).select(
        "l_orderkey",
        F.col("top1_qty_c").alias("hof_sort_top1_qty_c"),
        F.col("top2_qty_c").alias("hof_sort_top2_qty_c"),
        F.col("min_ln").alias("hof_sort_min_ln"),
        F.col("min_qty_c").alias("hof_sort_min_qty_c"),
        F.col("top1_masked_qty_c").alias("hof_sort_top1_masked_qty_c"),
        F.col("n_items").cast("long").alias("hof_sort_n_items"),
        F.col("n_high").cast("long").alias("hof_sort_n_high"),
        F.col("masked_sum").alias("hof_sort_masked_sum"),
        F.col("n_kept").alias("hof_sort_n_kept"),
        F.col("signed_sum").alias("hof_sort_signed_sum"),
        F.col("first_ln").alias("hof_sort_first_ln"),
        F.col("first_qty_c").alias("hof_sort_first_qty_c"),
    )
    red_twin = q_reduce_order_count_hof(spark, sf_dir, where=_HOF_SAMPLE()).select(
        "l_orderkey",
        *[
            F.col(k).alias(f"hof_red_{k}")
            for k in (
                "sum_qty_c", "prod_disc_c", "min_qty_c", "max_price_c",
                "ptp_qty_c", "n_discounted", "any_big_disc",
                "all_small_qty", "argmin_qty", "argmax_qty", "mean_qty",
                "m3", "corr_qp",
            )
        ],
    )
    cart_twin = q_cartesian_combinations_hof(
        spark, sf_dir, where=_HOF_SAMPLE()
    ).select(
        "l_orderkey",
        F.col("n_pairs_cart").cast("long").alias("hof_cart_n_pairs_cart"),
        F.col("cross_sum").alias("hof_cart_cross_sum"),
        F.col("n_pairs_comb").cast("long").alias("hof_cart_n_pairs_comb"),
        F.col("pair_sum").alias("hof_cart_pair_sum"),
        F.col("dot_c").alias("hof_cart_dot_c"),
        F.col("sum_disc_price_u").alias("hof_cart_sum_disc_price_u"),
    )
    return (
        nested_side.join(flat_side, "l_orderkey")
        .join(enf_side, "l_orderkey")
        .join(mp_side, "l_orderkey", "left")
        .join(hof_nested, "l_orderkey", "left")
        .join(hof_enf, "l_orderkey", "left")
        .join(sort_twin, "l_orderkey", "left")
        .join(red_twin, "l_orderkey", "left")
        .join(cart_twin, "l_orderkey", "left")
    )


_LISTS_ROWS = [
    (1, [1.0, 2.0, 3.0]),
    (2, []),
    (3, [5.0, None]),
    (4, None),
    (5, [7.5]),
]

# sample(factor) leg: an 11-row single-partition frame, so the
# per-partition every-Nth contract has a closed-form oracle (positions
# 0,3,6,9 -> ids 1,4,7,10)
_SAMPLE_IDS = list(range(1, 12))

# root leg twin: entry i has event = 1_000_000 + i, nMuon = i % 4,
# Muon_pt[j] = ((i*7 + j*3) % 500)/10 + 0.5 — cents are exactly
# x*10 + 50. The Spark side decodes these from REAL ROOT bytes
# (write_root_flat -> from_root(RawRootBackend)); the oracle
# recomputes from the closed-form generator (the
# q_multimodal_features precedent). root_dot is boundary-sensitive:
# values credited to the wrong entry change it even when totals hold.
_ROOT_N = 400

_SMALL_SOURCES_ORACLE = f"""
    with root_ent as (select cast(t.i as bigint) as i from range({_ROOT_N}) t(i)),
    root_vals as (
      select e.i, (((e.i*7 + j.j*3) % 500) * 10 + 50) as pt_c
      from root_ent e, lateral (select unnest(range(e.i % 4)) as j) j
    ),
    root_hits as (
      select e.i, e.i*10 + j.j as hid, (((e.i + 2*j.j) % 31) * 50) as x_c
      from root_ent e, lateral (select unnest(range((e.i*3 + 1) % 5)) as j) j
    ),
    rt as (
      select cast({_ROOT_N} as bigint) as root_n,
             cast((select sum(1000000 + i) from root_ent) as bigint) as root_sum_event,
             cast((select count(*) from root_vals) as bigint) as root_total_pt,
             cast((select sum(pt_c) from root_vals) as bigint) as root_sum_pt_c,
             cast((select sum((i % 97) * pt_c) from root_vals) as bigint) as root_dot,
             cast((select sum(pt_c) from root_vals) as bigint) as root_lz4_sum_pt_c,
             cast((select sum((i % 97) * pt_c) from root_vals) as bigint)
               as root_lz4_dot,
             cast((select sum(pt_c) from root_vals) as bigint) as root_zstd_sum_pt_c,
             cast((select sum((i % 97) * pt_c) from root_vals) as bigint)
               as root_zstd_dot,
             cast((select sum(pt_c) from root_vals) as bigint) as root_lzma_sum_pt_c,
             cast((select sum((i % 97) * pt_c) from root_vals) as bigint)
               as root_lzma_dot,
             cast((select count(*) from root_hits) as bigint) as root_obj_n_hits,
             cast((select sum(hid) from root_hits) as bigint) as root_obj_sum_id,
             cast((select sum(x_c) from root_hits) as bigint) as root_obj_sum_x_c,
             cast((select sum((i % 89) * (hid + x_c)) from root_hits) as bigint)
               as root_obj_dot,
             cast((select sum(5000 + i) from root_ent) as bigint) as root_obj_sum_run,
             cast((select sum((i % 13) * 25) from root_ent) as bigint)
               as root_obj_sum_w_c,
             cast((select sum(1 + (i % 3)) from root_ent) as bigint)
               as root_cstr_len,
             cast((select sum((i % 83) * (65 + (i % 5))) from root_ent) as bigint)
               as root_cstr_dot
    ),
    j as (
      select event_type, cast(count(*) as bigint) as n,
             cast(sum(cast(round(value*100) as bigint)) as bigint) as sum_value_c,
             cast(sum(cast(regexp_extract(props, '"k": ([0-9]+)', 1) as bigint)) as bigint)
               as sum_k,
             cast(sum(try_cast(regexp_extract(props, '([0-9]+)', 1) as bigint)) as bigint)
               as sum_k2,
             cast(count(case when try_cast(regexp_extract(props, '([0-9]+)', 1) as bigint)
                             is null then 1 end) as bigint) as n_unparseable
      from events group by event_type),
    d as (select cast(count(*) as bigint) as n_lines,
                 cast(sum(length(text)) as bigint) as total_chars,
                 cast(min(length(text)) as bigint) as min_len
          from documents),
    l as (select cast(4 as bigint) as n_lists,
                 cast(6 as bigint) as total_items,
                 cast(18.5 as double) as sum_v_total),
    s as (select cast(4 as bigint) as n_sampled, cast(22 as bigint) as sum_sampled),
    lake_base as (select event_id, event_type,
                         cast(round(value*100) as bigint) as value_c
                  from events where event_id % 7 = 0),
    lake_upd as (
      select event_id, event_type, value_c * 2 as value_c, 'u' as src
      from lake_base where event_id % 21 = 0
      union all
      select event_id, event_type,
             cast(round(value*100) as bigint) as value_c, 'u' as src
      from events where event_id % 11 = 0 and event_id % 7 <> 0),
    lake_latest as (
      select * from lake_upd
      union all
      select b.event_id, b.event_type, b.value_c, cast(null as varchar) as src
      from lake_base b where b.event_id % 21 <> 0),
    lk as (
      select cast((select count(*) from lake_latest) as bigint) as lake_n,
             cast((select sum(value_c) from lake_latest) as bigint) as lake_sum_c,
             cast((select count(*) from lake_latest where src = 'u') as bigint)
               as lake_n_src_u,
             cast((select count(*) from lake_latest where src is null) as bigint)
               as lake_n_src_null,
             cast((select count(*) from lake_base) as bigint) as lake_v0_n,
             cast((select sum(value_c) from lake_base) as bigint) as lake_v0_sum_c
    )
    select j.*, d.*, l.*, s.*, rt.*, lk.*
    from j cross join d cross join l cross join s cross join rt cross join lk
"""


@query("q_small_sources", _SMALL_SOURCES_ORACLE)
def q_small_sources(spark, sf_dir):
    """Small-source surface in one slot, per-event-type granularity on
    the meatiest leg:

    - events -> line-delimited JSON -> schema-ed from_json read ->
      aggregate. The semi-structured props column rides through the
      roundtrip and is decoded twice: a real F.from_json (schema'd JVM
      parse) and ak.strings_astype (elementwise try_cast, null on
      failure); the oracle regex-extracts the same numbers straight
      from the source view — independent parses, same values.
    - from_lists with ragged/None edges (empty list, null element,
      null list — the option-type semantics), aggregated to totals.
    - documents.text -> plain text file -> from_text line stats (doc
      texts contain no newlines, so lines == documents).
    - sample(factor=3) per-partition decimation over a single-partition
      from_lists frame (closed-form positions).
    - root_* legs (r9): a flat+leaf-counter-jagged ROOT file is written
      at query time with write_root_flat (real TFile header / TKey
      chain / zlib ZL baskets), read back through
      from_root(backend=RawRootBackend) across basket AND entry-range
      cuts, and aggregated; the oracle recomputes from the closed-form
      per-entry generator. This puts the io/rootfile.py byte decoder
      under the driver's value gate every round. root_lz4_/zstd_/lzma_
      twins re-run the decode under each compression framing, and
      root_obj_* legs (r12) cover the streamer-info path: an unsplit
      user-class branch (struct column) and a member-wise TClonesArray
      (array<struct>) written with a real StreamerInfo key; root_cstr_*
      legs (late r12) cover TLeafC "tag/C" string branches.
    - lake_* legs (late r9): the snapshot-table lakehouse contract
      under the value gate — create a table from an events slice,
      apply ONE upsert that both updates (doubled value_c for
      event_id%21==0) and inserts (event_id%11 rows) while ADDING a
      column (src — schema evolution with NULL backfill), REPLAY the
      same batch_id (must be a metadata no-op: if it returned
      applied=True the n_src_null leg is poisoned and the hash
      breaks), then aggregate the latest version AND the v0 time
      travel (read under v0's own narrower schema). The oracle
      recomputes both versions from the source view.

    The 1-row aggregates broadcast-cross onto the per-event-type frame.
    """
    from dask_awkward_sandbox_spark.operators import reducers as red

    # JSON roundtrip (per-event-type)
    e = read(spark, sf_dir, "events").select(
        "event_id", "event_type", cents(F.col("value")).alias("value_c"), "props"
    )
    path = scratch_path(sf_dir, "events_json")
    to_json(e, path)
    back = from_json(
        spark, path, schema="event_id long, event_type string, value_c long, props string"
    )
    k = F.from_json(F.col("props"), "k long")["k"]
    digits = F.regexp_extract(F.col("props"), "([0-9]+)", 1)
    k2 = F.get(st.strings_astype(F.array(digits), "long"), 0)
    json_side = back.select(
        "event_type", "value_c", k.alias("k"), k2.alias("k2")
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_c").alias("sum_value_c"),
        F.sum("k").alias("sum_k"),
        F.sum("k2").alias("sum_k2"),
        F.count(F.when(F.col("k2").isNull(), 1)).alias("n_unparseable"),
    )

    # from_text line stats (1 row)
    d = read(spark, sf_dir, "documents")
    tpath = scratch_path(sf_dir, "docs_text")
    to_text(d, "text", tpath)
    lines = from_text(spark, tpath)
    text_stats = lines.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.min(F.length("value")).alias("min_len"),
    )

    # from_lists option-type edges (1 row of totals)
    lists = from_lists(spark, _LISTS_ROWS, "id long, v array<double>", num_partitions=2)
    list_stats = lists.agg(
        F.count(F.col("v")).alias("n_lists"),
        F.sum(st.num(F.col("v"))).alias("total_items"),
        F.sum(F.when(F.col("v").isNotNull(), red.sum(F.col("v")))).alias("sum_v_total"),
    )

    # sample(factor) decimation (1 row). spark.range pins ONE ordered
    # partition with no shuffle (from_lists' num_partitions goes
    # through a round-robin repartition, which does not preserve the
    # row order the every-Nth contract is defined over)
    ids = spark.range(_SAMPLE_IDS[0], _SAMPLE_IDS[-1] + 1, 1, 1)
    sample_stats = sample(ids, factor=3).agg(
        F.count(F.lit(1)).alias("n_sampled"), F.sum("id").alias("sum_sampled")
    )

    # root byte-decode roundtrip (1 row): write real ROOT bytes, read
    # them back through the raw backend, 4 baskets x multiple
    # entry-range tasks so slice arithmetic is under the gate too
    import numpy as np

    from dask_awkward_sandbox_spark.io.root import RawRootBackend, from_root
    from dask_awkward_sandbox_spark.io.rootfile import write_root_flat

    i = np.arange(_ROOT_N, dtype=np.int64)
    nmu = (i % 4).astype(np.int32)
    pts = [
        [((int(ii) * 7 + j * 3) % 500) / 10.0 + 0.5 for j in range(int(c))]
        for ii, c in zip(i, nmu)
    ]
    pt_c = F.aggregate(
        F.col("Muon_pt"),
        F.lit(0).cast("long"),
        lambda a, x: a + F.round(x * 100).cast("long"),
    )
    # the SAME data under every basket framing, one file and reader pass
    # each: ZL (zlib), L4 (XXH64 + LZ4 block, ROOT's default since 6.14,
    # decoded by the bundled liblz4), ZS (one RFC 8878 frame per block,
    # pyarrow's bundled libzstd) and XZ (ROOT's kLZMA envelope, a
    # standard .xz stream through the stdlib lzma module). The nMuon
    # (0..3 repeating) and event (arithmetic int64) baskets always
    # shrink, so each decode path genuinely executes under the gate.
    # The zlib leg also carries the entry/event/jagged-length totals.
    legs = []
    for compress, prefix, fname in (
        (True, "root", "events.root"),
        ("lz4", "root_lz4", "events_lz4.root"),
        ("zstd", "root_zstd", "events_zstd.root"),
        ("lzma", "root_lzma", "events_lzma.root"),
    ):
        rpath = scratch_path(sf_dir, "root_gate", fname)
        os.makedirs(os.path.dirname(rpath), exist_ok=True)
        write_root_flat(
            rpath,
            "Events",
            {
                "event": ("L", 1_000_000 + i),
                "nMuon": ("I", nmu),
                "Muon_pt": ("[nMuon]D", pts),
            },
            basket_entries=_ROOT_N // 4,
            compress=compress,
        )
        rdf = from_root(spark, rpath, tree="Events", step_size=_ROOT_N // 3,
                        backend=RawRootBackend())
        cols, totals = ["event", pt_c.alias("pt_c")], []
        if prefix == "root":
            cols.append(F.size("Muon_pt").alias("npt"))
            totals = [
                F.count(F.lit(1)).alias("root_n"),
                F.sum("event").alias("root_sum_event"),
                F.sum("npt").cast("long").alias("root_total_pt"),
            ]
        legs.append(rdf.select(*cols).agg(
            *totals,
            F.sum("pt_c").alias(f"{prefix}_sum_pt_c"),
            F.sum(((F.col("event") - 1_000_000) % 97) * F.col("pt_c")).alias(
                f"{prefix}_dot"
            ),
        ))
    root_stats = legs[0]
    for leg in legs[1:]:
        root_stats = root_stats.crossJoin(F.broadcast(leg))
    # root_obj_* legs (r12): user-class branches via streamer-info —
    # an unsplit object branch (meta: one struct per entry) and a
    # TClonesArray branch (hits: member-wise stream, array<struct>),
    # written with a real StreamerInfo TList key and read back through
    # the same from_root path in the EMBEDDED metadata layout; the
    # oracle replays the closed-form generator. root_obj_dot is
    # boundary-sensitive (entry index times per-entry member sums), so
    # values credited to the wrong entry break the hash even when
    # totals survive.
    rpatho = scratch_path(sf_dir, "root_gate", "events_obj.root")
    hits = [
        [(int(ii) * 10 + j, ((int(ii) + 2 * j) % 31) / 2.0)
         for j in range((int(ii) * 3 + 1) % 5)]
        for ii in i
    ]
    metas = [(5000 + int(ii), (int(ii) % 13) * 0.25) for ii in i]
    # root_cstr_* legs (late r12): a TLeafC "tag/C" string branch in
    # the same file — per-entry TStrings behind the basket
    # entry-offset table; the dot leg is boundary-sensitive
    tags = [chr(65 + int(ii) % 5) * (1 + int(ii) % 3) for ii in i]
    write_root_flat(
        rpatho,
        "Events",
        {
            "event": ("L", 1_000_000 + i),
            "meta": ("obj:EvtMeta", metas),
            "hits": ("clones:Hit", hits),
            "tag": ("C", tags),
        },
        classes={
            "EvtMeta": [("run", "L"), ("w", "D")],
            "Hit": [("id", "I"), ("x", "F")],
        },
        basket_entries=_ROOT_N // 4,
        compress="zstd",
        embed_tree=True,
    )
    rdfo = from_root(spark, rpatho, tree="Events", step_size=_ROOT_N // 3,
                     backend=RawRootBackend())
    hit_sum = F.aggregate(
        F.col("hits"),
        F.lit(0).cast("long"),
        lambda a, h: a + h["id"].cast("long") + F.round(h["x"] * 100).cast("long"),
    )
    root_obj_stats = rdfo.select(
        "event",
        F.size("hits").alias("nh"),
        F.aggregate(
            F.col("hits"), F.lit(0).cast("long"),
            lambda a, h: a + h["id"].cast("long"),
        ).alias("hid_sum"),
        F.aggregate(
            F.col("hits"), F.lit(0).cast("long"),
            lambda a, h: a + F.round(h["x"] * 100).cast("long"),
        ).alias("x_c_sum"),
        hit_sum.alias("hx_sum"),
        F.col("meta")["run"].alias("run"),
        F.round(F.col("meta")["w"] * 100).cast("long").alias("w_c"),
        F.length("tag").cast("long").alias("tag_len"),
        F.ascii(F.substring("tag", 1, 1)).cast("long").alias("tag_c0"),
    ).agg(
        F.sum("nh").cast("long").alias("root_obj_n_hits"),
        F.sum("hid_sum").alias("root_obj_sum_id"),
        F.sum("x_c_sum").alias("root_obj_sum_x_c"),
        F.sum(((F.col("event") - 1_000_000) % 89) * F.col("hx_sum")).alias(
            "root_obj_dot"
        ),
        F.sum("run").alias("root_obj_sum_run"),
        F.sum("w_c").alias("root_obj_sum_w_c"),
        F.sum("tag_len").alias("root_cstr_len"),
        F.sum(((F.col("event") - 1_000_000) % 83) * F.col("tag_c0")).alias(
            "root_cstr_dot"
        ),
    )
    root_stats = root_stats.crossJoin(F.broadcast(root_obj_stats))

    # lakehouse snapshot legs (late r9): deterministic per run — the
    # table is rebuilt from scratch each call
    import shutil

    from dask_awkward_sandbox_spark.io import lakehouse as lh

    lpath = scratch_path(sf_dir, "lake_gate")
    shutil.rmtree(lpath, ignore_errors=True)
    ev = read(spark, sf_dir, "events").select(
        "event_id", "event_type", cents(F.col("value")).alias("value_c")
    )
    base = ev.filter(F.col("event_id") % 7 == 0)
    # r14 optimization: the gate table is an 8-bucket KB-scale slice,
    # but its eager create/upsert jobs planned their groupBy/anti-join
    # shuffles at the session's 64 partitions — pure per-task overhead
    # (the streaming slots' state-partition scoping, applied to the
    # lake legs; guide §2.2 fewer-larger partitions). Scoped to the
    # bucket count: at 100 TB n_buckets (and this conf) are sized to
    # the table, and AQE still coalesces from high counts on a real
    # cluster. Values are partitioning-invariant (groupBy/struct-min
    # and anti-join results do not depend on partition count).
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "8"):
        lh.create_snapshot_table(base, lpath, ["event_id"], n_buckets=8)
        upd = (
            base.filter(F.col("event_id") % 21 == 0)
            .withColumn("value_c", F.col("value_c") * 2)
            .unionByName(
                ev.filter((F.col("event_id") % 11 == 0) & (F.col("event_id") % 7 != 0))
            )
            .withColumn("src", F.lit("u"))
        )
        applied = lh.snapshot_upsert(spark, lpath, upd, batch_id="gate-b1")
        # exactly-once: the replay must be a metadata no-op; poison the
        # n_src_null leg if either flag is wrong so the value hash breaks
        replayed = lh.snapshot_upsert(spark, lpath, upd, batch_id="gate-b1")
    poison = 0 if (applied is True and replayed is False) else 10**9
    latest = lh.read_snapshot_table(spark, lpath)
    v0 = lh.read_snapshot_table(spark, lpath, version=0)
    lake_stats = (
        latest.agg(
            F.count(F.lit(1)).alias("lake_n"),
            F.sum("value_c").alias("lake_sum_c"),
            F.count(F.when(F.col("src") == "u", 1)).alias("lake_n_src_u"),
            (F.count(F.when(F.col("src").isNull(), 1)) + F.lit(poison)).alias(
                "lake_n_src_null"
            ),
        )
        .crossJoin(
            F.broadcast(
                v0.agg(
                    F.count(F.lit(1)).alias("lake_v0_n"),
                    F.sum("value_c").alias("lake_v0_sum_c"),
                )
            )
        )
    )

    return (
        json_side.crossJoin(F.broadcast(text_stats))
        .crossJoin(F.broadcast(list_stats))
        .crossJoin(F.broadcast(sample_stats))
        .crossJoin(F.broadcast(root_stats))
        .crossJoin(F.broadcast(lake_stats))
    )


@query(
    "q_unflatten",
    """
    with r as (select n_chars,
                      (row_number() over (order by doc_id) - 1) // 100 as gid
               from documents)
    select cast(gid as bigint) as gid, cast(count(*) as bigint) as n,
           cast(sum(n_chars) as bigint) as sum_chars
    from r group by gid
    """,
)
def q_unflatten(spark, sf_dir):
    """ak.unflatten: re-nest a flat ordered column into given counts.
    Range-partitioned rank assignment (per-partition offsets, no
    global window) — see operators/structure.py:unflatten. The row
    count comes from the parquet footers (no job); unflatten itself
    raises if the counts do not sum to the rows it sees."""
    d = read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    n = parquet_row_count(sf_dir, "documents")
    counts = [100] * (n // 100) + ([n % 100] if n % 100 else [])
    out = st.unflatten(d, "n_chars", "doc_id", counts)
    from dask_awkward_sandbox_spark.operators import reducers as red

    return out.select(
        "gid",
        st.num(F.col("n_chars")).alias("n"),
        red.sum(F.col("n_chars")).cast("long").alias("sum_chars"),
    ).orderBy("gid")
