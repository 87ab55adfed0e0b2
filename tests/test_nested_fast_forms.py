"""Form-parity pins for the r10 codegen-aggregate rewrites (the
test_dedup_edges simhash-pin move): the registered flat hash-aggregate
forms of q_sort_argsort and q_concatenate's axis=None legs must stay
row-identical to the retained nested-HOF compositions — two
implementations of one contract may not drift.

r11: the registered slots ALSO carry per-order hof_* legs — the HOF
composition evaluated over the deterministic fixed-modulus l_orderkey
subsample (plans.nested._HOF_SAMPLE_MOD) inside the same aggregate — so the driver hash executes the
HOF code paths directly. These pins now (a) project the shared
contract columns for the full-data comparison and (b) assert each
sampled row's hof_* leg equals its flat twin (two independent
implementations agreeing per order) and each unsampled row's is null.
"""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def _rows(df, key=None):
    out = [r.asDict() for r in df.collect()]
    if key:
        out.sort(key=lambda d: d[key])
    return out


def _project(rows, cols):
    return [{c: r[c] for c in cols} for r in rows]


def _check_hof_legs(rows, pairs, mod=None):
    if mod is None:
        from dask_awkward_sandbox_spark.plans.nested import _HOF_SAMPLE_MOD

        mod = _HOF_SAMPLE_MOD
    sampled = 0
    for r in rows:
        hit = r["l_orderkey"] % mod == 0
        sampled += hit
        for hof_col, flat_col in pairs.items():
            if hit:
                assert r[hof_col] == r[flat_col], (r["l_orderkey"], hof_col, r)
            else:
                assert r[hof_col] is None, (r["l_orderkey"], hof_col, r)
    assert sampled > 0, "sample predicate matched no orders"


def test_sort_argsort_forms_agree(spark):
    from dask_awkward_sandbox_spark.plans.nested import q_sort_argsort
    from nested_twins import q_sort_argsort_hof

    fast_full = _rows(q_sort_argsort(spark, SF), key="l_orderkey")
    hof = _rows(q_sort_argsort_hof(spark, SF), key="l_orderkey")
    assert len(fast_full) == len(hof) > 0
    cols = list(hof[0])
    assert _project(fast_full, cols) == hof
    # r13: the sampled hof_* gate legs moved to q_parquet_roundtrip
    # (hof_sort_* columns) — cross-slot leg parity pinned in
    # test_relocated_twin_legs_match_donor_flat below


def test_concatenate_axis_none_forms_agree(spark):
    from dask_awkward_sandbox_spark.plans.nested import (
        _HOF_SAMPLE,
        q_concatenate,
        q_concatenate_axis_none_hof,
    )

    hof = _rows(q_concatenate_axis_none_hof(spark, SF))
    assert len(hof) == 1
    # the registered slot broadcasts the same columns onto every
    # returnflag row — project them back out for the comparison
    fast_full = _rows(q_concatenate(spark, SF))
    cols = list(hof[0])
    fast = _project(fast_full, cols)
    assert all(f == hof[0] for f in fast)
    # the hof_* legs must equal the HOF composition run over the
    # sample only (the where= build path)
    hs = _rows(q_concatenate_axis_none_hof(spark, SF, where=_HOF_SAMPLE()))[0]
    for r in fast_full:
        for k in ("total_qty_c", "n_vals", "min_qty_c", "max_qty_c"):
            assert r[f"hof_{k}"] == hs[k], (k, r[f"hof_{k}"], hs[k])
        for i in range(8):
            assert r[f"hof_h{i}"] == hs[f"h{i}"]


def test_reduce_order_count_forms_agree(spark):
    from dask_awkward_sandbox_spark.plans.nested import q_reduce_order_count
    from nested_twins import q_reduce_order_count_hof

    fast_full = _rows(q_reduce_order_count(spark, SF), key="l_orderkey")
    hof = _rows(q_reduce_order_count_hof(spark, SF), key="l_orderkey")
    assert len(fast_full) == len(hof) > 0
    cols = list(hof[0])
    assert _project(fast_full, cols) == hof
    # r13: sampled hof_* legs moved to q_parquet_roundtrip (hof_red_*)


def test_cartesian_combinations_forms_agree(spark):
    from dask_awkward_sandbox_spark.plans.nested import q_cartesian_combinations
    from nested_twins import q_cartesian_combinations_hof

    fast_full = _rows(q_cartesian_combinations(spark, SF), key="l_orderkey")
    hof = _rows(q_cartesian_combinations_hof(spark, SF), key="l_orderkey")
    assert len(fast_full) == len(hof) > 0
    cols = list(hof[0])
    assert _project(fast_full, cols) == hof
    # r13: sampled hof_* legs moved to q_parquet_roundtrip (hof_cart_*)


def test_flatten_softmax_forms_agree(spark):
    """r11: the registered flat-window form (ONE exchange, no joins,
    no interpreted per-element folds) vs the retained nested-HOF
    composition — row-identical on the shared contract columns, and
    the per-element hof_* legs equal their flat twins on sampled
    orders, null elsewhere."""
    from dask_awkward_sandbox_spark.plans.nested import (
        q_flatten_softmax,
        q_flatten_softmax_hof,
    )

    fast_full = _rows(q_flatten_softmax(spark, SF))
    hof = _rows(q_flatten_softmax_hof(spark, SF))
    assert len(fast_full) == len(hof) > 0
    cols = list(hof[0])
    k = lambda d: (d["l_orderkey"], d["idx"])  # noqa: E731
    assert sorted(_project(fast_full, cols), key=k) == sorted(hof, key=k)
    _check_hof_legs(
        fast_full,
        {
            "hof_idx": "idx",
            "hof_softmax": "softmax",
            "hof_run_len": "run_len",
        },
    )


def test_relocated_twin_legs_match_donor_flat(spark):
    """r13 (verdict item 7): the three sampled HOF-twin leg sets moved
    from their baseline-mapped donor slots into q_parquet_roundtrip
    (hof_sort_*/hof_red_*/hof_cart_* columns). The two-implementation
    pin survives the move: every sampled order's relocated legs must
    equal the DONOR slot's flat columns (computed by a codegen plan
    the twin never shares), and unsampled orders' legs must be null."""
    from dask_awkward_sandbox_spark.plans.io_queries import q_parquet_roundtrip
    from dask_awkward_sandbox_spark.plans.nested import (
        _HOF_SAMPLE_MOD,
        q_cartesian_combinations,
        q_reduce_order_count,
        q_sort_argsort,
    )

    rt = {r["l_orderkey"]: r for r in _rows(q_parquet_roundtrip(spark, SF))}
    donors = {
        "hof_sort_": (q_sort_argsort, [
            "top1_qty_c", "top2_qty_c", "min_ln", "min_qty_c",
            "top1_masked_qty_c", "n_items", "n_high", "masked_sum",
            "n_kept", "signed_sum", "first_ln", "first_qty_c",
        ]),
        "hof_red_": (q_reduce_order_count, [
            "sum_qty_c", "prod_disc_c", "min_qty_c", "max_price_c",
            "ptp_qty_c", "n_discounted", "any_big_disc", "all_small_qty",
            "argmin_qty", "argmax_qty", "mean_qty", "m3", "corr_qp",
        ]),
        "hof_cart_": (q_cartesian_combinations, [
            "n_pairs_cart", "cross_sum", "n_pairs_comb", "pair_sum",
            "dot_c", "sum_disc_price_u",
        ]),
    }
    sampled = 0
    for prefix, (donor, legs) in donors.items():
        for d in _rows(donor(spark, SF)):
            r = rt[d["l_orderkey"]]
            hit = d["l_orderkey"] % _HOF_SAMPLE_MOD == 0
            sampled += hit
            for leg in legs:
                if hit:
                    assert r[prefix + leg] == d[leg], (
                        d["l_orderkey"], prefix + leg, r[prefix + leg], d[leg]
                    )
                else:
                    assert r[prefix + leg] is None, (d["l_orderkey"], prefix + leg)
    assert sampled > 0
