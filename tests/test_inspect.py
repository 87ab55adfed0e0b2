"""Tests for inspect.py: decimation and the necessary-columns report."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_sample_factor_every_nth_per_partition(spark):
    from dask_awkward_sandbox_spark import inspect as ins

    df = spark.range(0, 1000, 1, 4)
    out = ins.sample(df, factor=10)
    n = out.count()
    assert n == 100  # 4 partitions of 250 -> every 10th each
    assert ins.sample(df, factor=1).count() == 1000


def test_sample_probability_rough_and_seeded(spark):
    from dask_awkward_sandbox_spark import inspect as ins

    df = spark.range(0, 10_000, 1, 4)
    a = ins.sample(df, probability=0.1, seed=7).count()
    b = ins.sample(df, probability=0.1, seed=7).count()
    assert a == b  # seeded => reproducible
    assert 700 <= a <= 1300


def test_sample_arg_validation(spark):
    from dask_awkward_sandbox_spark import inspect as ins

    df = spark.range(10)
    with pytest.raises(ValueError):
        ins.sample(df)
    with pytest.raises(ValueError):
        ins.sample(df, factor=2, probability=0.5)


def test_report_necessary_columns_flat(spark):
    from dask_awkward_sandbox_spark import inspect as ins

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    rep = ins.report_necessary_columns(li.select("l_orderkey", "l_quantity"))
    (cols,) = rep.values()
    assert cols == frozenset({"l_orderkey", "l_quantity"})


def test_report_necessary_columns_nested_pruned(spark):
    import os

    from dask_awkward_sandbox_spark import inspect as ins
    from dask_awkward_sandbox_spark.plans.common import fld, order_items
    from dask_awkward_sandbox_spark.session import SCRATCH

    path = os.path.join(SCRATCH, "plans", "nested_items")
    if not os.path.exists(path):
        order_items(spark, SF).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    rep = ins.report_necessary_columns(
        back.select("l_orderkey", fld(F.col("items"), "l_quantity").alias("q"))
    )
    (cols,) = rep.values()
    assert cols == frozenset({"l_orderkey", "items.l_quantity"})


def test_fields_and_backend(spark):
    from dask_awkward_sandbox_spark import inspect as ins

    df = spark.createDataFrame([(1, "a")], "id long, s string")
    assert ins.fields(df) == ["id", "s"]
    assert ins.backend(df) == "spark"


def test_report_necessary_buffers_shape_vs_data(spark):
    import os

    from dask_awkward_sandbox_spark import inspect as ins
    from dask_awkward_sandbox_spark.plans.common import fld, order_items
    from dask_awkward_sandbox_spark.session import SCRATCH

    path = os.path.join(SCRATCH, "plans", "nested_items")
    if not os.path.exists(path):
        order_items(spark, SF).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)

    # pure-shape query: only size(items) — whatever leaves the pruned
    # scan keeps are offsets-only, no data buffer is consumed
    (rep,) = ins.report_necessary_buffers(
        back.select(F.size("items").alias("n"))
    ).values()
    assert rep.data_and_shape == frozenset()
    assert rep.shape_only  # at least one leaf read purely for shape

    # mixed query: l_quantity values consumed, size() alongside
    (rep,) = ins.report_necessary_buffers(
        back.select(
            F.size("items").alias("n"),
            F.aggregate(
                fld(F.col("items"), "l_quantity"), F.lit(0.0), lambda a, x: a + x
            ).alias("s"),
        )
    ).values()
    assert "items.l_quantity" in rep.data_and_shape
    assert "items.l_quantity" not in rep.shape_only

    # full-data query: every read leaf is a data buffer
    (rep,) = ins.report_necessary_buffers(
        back.select("l_orderkey", fld(F.col("items"), "l_quantity").alias("q"))
    ).values()
    assert rep.data_and_shape == frozenset({"l_orderkey", "items.l_quantity"})
    assert rep.shape_only == frozenset()


def test_typestr_nested_schema(spark):
    """awkward-style type rendering (reference Array._typestr,
    core.py:1081; dak.type at core.py:2396) from Spark schemas."""
    from pyspark.sql import types as T

    from dask_awkward_sandbox_spark.inspect import shorttypestr, typestr

    schema = T.StructType.fromDDL(
        "k bigint, name string, items array<struct<x: int, w: double>>, "
        "tags array<string>"
    )
    df = spark.createDataFrame([], schema)
    assert typestr(df) == (
        "var * {k: ?int64, name: ?string, "
        "items: option[var * option[{x: ?int32, w: ?float64}]], "
        "tags: option[var * ?string]}"
    )
    assert shorttypestr(df, max=9) == "{k: ?int6"

    # non-null fields drop the option marks
    s2 = T.StructType(
        [
            T.StructField("a", T.LongType(), nullable=False),
            T.StructField(
                "xs",
                T.ArrayType(T.DoubleType(), containsNull=False),
                nullable=False,
            ),
        ]
    )
    assert typestr(s2) == "var * {a: int64, xs: var * float64}"

    # single column type + truncation like the reference (max cut)
    assert typestr(s2["xs"].dataType) == "var * var * float64"
    long_t = typestr(df, max=20)
    assert long_t.startswith("var * {k: ?int64") and long_t.endswith(" ... }")


def test_typestr_atoms_and_map(spark):
    from pyspark.sql import types as T

    from dask_awkward_sandbox_spark.inspect import typestr

    schema = T.StructType.fromDDL(
        "b boolean, bin binary, d date, ts timestamp, dec decimal(12,2), "
        "m map<string, bigint>"
    )
    got = typestr(schema)
    assert "b: ?bool" in got
    assert "bin: ?bytes" in got
    assert "d: ?datetime64[D]" in got
    assert "ts: ?datetime64[us]" in got
    assert "dec: ?decimal(12,2)" in got
    assert "m: option[var * {key: string, value: ?int64}]" in got


def test_typestr_matches_testdata(spark, sf):
    from dask_awkward_sandbox_spark.inspect import typestr

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    t = typestr(emb)
    assert t.startswith("var * {")
    assert "embedding: option[var * ?float" in t


def test_necessary_columns_alias():
    from dask_awkward_sandbox_spark.inspect import (
        necessary_columns,
        report_necessary_columns,
    )

    assert necessary_columns is report_necessary_columns


def test_ndim(spark):
    # reference test_core.py:test_ndim — row axis + list depth
    from dask_awkward_sandbox_spark.inspect import ndim

    df = spark.createDataFrame(
        [(1, [1.0], [[1.0]], {"x": 1.0})],
        "a long, b array<double>, c array<array<double>>, d struct<x: double>",
    )
    assert ndim(df, "a") == 1
    assert ndim(df, "b") == 2
    assert ndim(df, "c") == 3
    assert ndim(df, "d") == 1
    assert ndim(df) == 3
    # nested: list of structs holding lists
    df2 = spark.createDataFrame(
        [([{"p": [1.0]}],)], "e array<struct<p: array<double>>>"
    )
    assert ndim(df2, "e") == 3


def test_fields_nested_column(spark):
    # reference test_describe.py:test_fields — fields(daa.points)
    # pierces the list to the element struct
    from dask_awkward_sandbox_spark.inspect import fields

    df = spark.createDataFrame(
        [([{"x": 1.0, "y": 2.0}], 3)],
        "points array<struct<x: double, y: double>>, n long",
    )
    assert fields(df) == ["points", "n"]
    assert fields(df, "points") == ["x", "y"]
    assert fields(df, "n") == []
