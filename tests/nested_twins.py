"""Full-build nested-HOF twins of three codegen-rewritten slots
(q_sort_argsort, q_cartesian_combinations, q_reduce_order_count).

Each runs the slot's contract as one nested build plus JVM
higher-order functions, through the same expression builders that
q_parquet_roundtrip evaluates over its sampled build (the hof_sort_*,
hof_cart_* and hof_red_* legs). test_nested_fast_forms.py pins each
twin row-identical to its registered flat form, so the two
implementations of one contract cannot drift."""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_awkward_sandbox_spark.plans.common import order_items
from dask_awkward_sandbox_spark.plans.nested import (
    _cart_leg_exprs,
    _cart_pre_exprs,
    _reduce_acc_expr,
    _reduce_leg_exprs,
    _sort_argsort_leg_exprs,
    _sort_pre_exprs,
)


def q_sort_argsort_hof(spark, sf_dir):
    """ak.sort/argsort/num/firsts/mask/drop_none/where/is_none over one
    nested build.

    Pruned to the three touched leaves: sorted VALUES are
    order-insensitive, and the argmin/firsts items only expose
    (ln, qty), so items tying on the pruned (ln, qty, rf) prefix are
    value-indistinguishable vs the oracle's full-struct order."""
    it = order_items(
        spark, sf_dir, fields=["l_linenumber", "l_quantity", "l_returnflag"]
    )
    pre = it.select(
        "l_orderkey",
        F.col("items"),
        *[v.alias(k) for k, v in _sort_pre_exprs(F.col("items")).items()],
    )
    legs = _sort_argsort_leg_exprs(F.col("items"), F.col("_q"), F.col("_isr"))
    return pre.select("l_orderkey", *[legs[k].alias(k) for k in legs])


def q_cartesian_combinations_hof(spark, sf_dir):
    """ak.cartesian of (qty, discount) lists, ak.combinations (n=2
    unordered pairs i<j), ak.zip + ak.unzip + elementwise product
    reduce (list dot product) and ak.with_field / ak.without_field,
    off one nested build."""
    it = order_items(
        spark, sf_dir,
        fields=["l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )
    pre = it.select(
        "l_orderkey",
        *[v.alias(k) for k, v in _cart_pre_exprs(F.col("items")).items()],
    )
    legs = _cart_leg_exprs(
        F.col("_cart"), F.col("_comb"), F.col("_dot"), F.col("_dpu")
    )
    return pre.select("l_orderkey", *[legs[k].alias(k) for k in legs])


def q_reduce_order_count_hof(spark, sf_dir):
    """The single-pass struct-accumulator form of q_reduce_order_count.

    Fields are pruned to the four touched leaves. l_linenumber DOES
    repeat within an order, but items tying on the whole pruned
    prefix share l_quantity, so a tie permutation moves only
    equal-qc items between equal positions — argmin/argmax return
    the same index either way, and every other reducer is
    order-insensitive (exact integer sums)."""
    it = order_items(
        spark, sf_dir,
        fields=["l_linenumber", "l_quantity", "l_extendedprice", "l_discount"],
    )
    pre = it.select("l_orderkey", _reduce_acc_expr(F.col("items")).alias("_a"))
    legs = _reduce_leg_exprs(F.col("_a"))
    return pre.select("l_orderkey", *[legs[k].alias(k) for k in legs])
