"""Collection-level API tests (core.py — the reference's lib/core.py
surface: map_partitions, repartition, persist/compute, to_list,
visualize) plus the no-op/broadcast structure shims."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_map_partitions_arrow(spark):
    from dask_awkward_sandbox_spark import core

    df = spark.createDataFrame([(i, float(i)) for i in range(100)], "id long, x double")

    def fn(batches):
        for b in batches:
            d = b.to_pydict()
            d["x2"] = [v * 2 for v in d["x"]]
            del d["x"]
            import pyarrow as pa

            yield pa.RecordBatch.from_pydict(d)

    out = core.map_partitions(df, fn, "id long, x2 double")
    rows = {r["id"]: r["x2"] for r in out.collect()}
    assert rows[7] == 14.0 and len(rows) == 100


def test_map_partitions_pandas(spark):
    from dask_awkward_sandbox_spark import core

    df = spark.createDataFrame([(i,) for i in range(10)], "id long")

    def fn(pdfs):
        for pdf in pdfs:
            yield pdf.assign(y=pdf["id"] + 1)

    out = core.map_partitions(df, fn, "id long, y long", arrow=False)
    assert {r["y"] for r in out.collect()} == set(range(1, 11))


def test_repartition_and_persist_compute(spark):
    from dask_awkward_sandbox_spark import core

    df = spark.range(1000)
    up = core.repartition(df, 8)
    assert up.rdd.getNumPartitions() == 8
    down = core.repartition(up, 2)
    assert down.rdd.getNumPartitions() == 2
    p = core.persist(down)
    assert p.is_cached
    assert len(core.compute(p.filter(F.col("id") < 10))) == 10
    p.unpersist()


def test_to_list_nested(spark):
    from dask_awkward_sandbox_spark import core

    df = spark.createDataFrame(
        [(1, [1, 2], {"a": 1})], "id long, v array<long>, s struct<a: long>"
    )
    out = core.to_list(df)
    assert out == [{"id": 1, "v": [1, 2], "s": {"a": 1}}]


def test_visualize_returns_plan(spark):
    from dask_awkward_sandbox_spark import core

    txt = core.visualize(spark.range(10).filter(F.col("id") > 3))
    assert "Range" in txt


def test_broadcast_arrays_and_regular_noops(spark):
    from dask_awkward_sandbox_spark.operators import structure as st_

    df = spark.createDataFrame([(10, [1, 2, 3]), (5, [])], "s long, v array<long>")
    b, a = st_.broadcast_arrays(F.col("s"), F.col("v"))
    got = df.select(b.alias("b"), st_.to_regular(st_.from_regular(a)).alias("a")).collect()
    assert got[0]["b"] == [10, 10, 10] and got[0]["a"] == [1, 2, 3]
    assert got[1]["b"] == [] and got[1]["a"] == []


def test_copy_to_packed_identity(spark):
    from dask_awkward_sandbox_spark import core

    df = spark.range(5)
    assert core.copy(df) is df
    assert core.to_packed(df) is df


def test_partitions_file_sliced(spark, tmp_path):
    """Partition-wise getitem on a pure scan re-reads ONLY the selected
    files (reference Array.partitions graph-slicing)."""
    from dask_awkward_sandbox_spark import core

    path = str(tmp_path / "parts")
    spark.range(0, 1000).repartition(4).write.parquet(path)
    back = spark.read.parquet(path)
    files = sorted(back.inputFiles())
    assert len(files) == 4

    sel = core.partitions(back, 1, 3)
    # plan-level: exactly the two selected files are inputs
    assert sorted(sel.inputFiles()) == files[1:3]
    # value-level: selected partitions' rows, nothing else
    import pyspark.sql.functions as F

    per_file = {
        r["f"]: r["n"]
        for r in back.groupBy(F.input_file_name().alias("f"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    want = sum(n for f, n in per_file.items() if f in files[1:3])
    assert sel.count() == want

    # npartitions + single-partition form
    assert core.npartitions(back) == 4
    one = core.partitions(back, 0)
    assert sorted(one.inputFiles()) == files[0:1]

    # empty slice -> empty frame, same schema
    empty = core.partitions(back, 10, 20)
    assert empty.count() == 0 and empty.schema == back.schema


def test_partitions_derived_fallback(spark):
    """Derived frames fall back to a spark_partition_id filter: the
    union of all slices is the whole collection, slices are disjoint."""
    from dask_awkward_sandbox_spark import core

    df = spark.range(0, 100).repartition(5, "id")
    agg = df.groupBy((df.id % 7).alias("k")).count()
    n = core.npartitions(agg)
    total = sum(core.partitions(agg, i).count() for i in range(n))
    assert total == agg.count()


def test_let_binding_semantics(spark):
    """structure.let: binds once, null-propagates, supports multi-bind
    and nested arrays."""
    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark.operators.structure import let

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, []), (3, None)], "id long, v array<double>"
    )
    # multi-bind: (array, scalar) -> normalized by max
    out = df.select(
        "id",
        let(
            F.col("v"),
            F.array_max(F.col("v")),
            body=lambda v, m: F.transform(v, lambda x: x / m),
        ).alias("r"),
    ).collect()
    rows = {r["id"]: r["r"] for r in out}
    assert rows[1] == [1.0 / 3.0, 2.0 / 3.0, 1.0]
    assert rows[2] == []
    assert rows[3] is None


def test_with_name_parameters_roundtrip(spark, tmp_path):
    """with_name/with_parameter store tags as column metadata that
    survives a parquet roundtrip; without_parameters strips them."""
    from dask_awkward_sandbox_spark.operators import structure as st

    df = spark.createDataFrame(
        [(1, [{"x": 1.0}])], "id long, pts array<struct<x: double>>"
    )
    named = st.with_name(df, "pts", "Point")
    named = st.with_parameter(named, "pts", "units", "cm")
    assert st.parameters(named, "pts") == {"__record__": "Point", "units": "cm"}
    # values untouched
    assert named.collect() == df.collect()

    path = str(tmp_path / "named")
    named.write.parquet(path)
    back = spark.read.parquet(path)
    assert st.parameters(back, "pts") == {"__record__": "Point", "units": "cm"}

    stripped = st.without_parameters(named, "pts")
    assert st.parameters(stripped, "pts") == {}


def test_partitions_hive_layout_keeps_partition_values(spark, tmp_path):
    """File-sliced getitem on a partitionBy layout must recover the
    partition-column values (basePath), and npartitions must match the
    file index space partitions() slices."""
    from dask_awkward_sandbox_spark import core

    path = str(tmp_path / "hive")
    spark.range(0, 100).withColumn("k", (F.col("id") % 4).cast("int")).write.partitionBy(
        "k"
    ).parquet(path)
    back = spark.read.parquet(path)
    n = core.npartitions(back)
    assert n == len(back.inputFiles())
    seen = []
    for i in range(n):
        part = core.partitions(back, i).collect()
        assert part, "each file slice holds rows"
        ks = {r["k"] for r in part}
        assert None not in ks, "partition column must not be nulled"
        seen.extend(r["id"] for r in part)
    assert sorted(seen) == list(range(100))


def test_partitions_negative_indices(spark, tmp_path):
    """Reference Array.partitions supports negative indices
    (partitions[-1] = peek at the last chunk) — r4 ADVICE item."""
    import pytest
    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark import core

    path = str(tmp_path / "neg")
    spark.range(0, 100).withColumn("b", (F.col("id") / 25).cast("int")).repartition(
        4, "b"
    ).write.partitionBy("b").parquet(path)
    df = spark.read.parquet(path)
    n = core.npartitions(df)
    assert n >= 2
    last = core.partitions(df, -1)
    # identical to the explicit positive form
    assert sorted(r["id"] for r in last.collect()) == sorted(
        r["id"] for r in core.partitions(df, n - 1).collect()
    )
    # slice form clamps like a Python slice
    tail2 = core.partitions(df, -2, 10**6)
    assert tail2.count() == core.partitions(df, n - 2, n).count()
    assert core.partitions(df, -10**6, 10**6).count() == df.count()
    with pytest.raises(IndexError):
        core.partitions(df, -(n + 1))


def test_common_base_preserves_uri_authority():
    """os.path.commonpath would collapse 's3://b/…' to 's3:/b/…'
    (authority lost) — the basePath must survive object-store URIs."""
    from dask_awkward_sandbox_spark.core import _common_base

    assert (
        _common_base(
            [
                "s3://bucket/data/ds/p=1/part-0.parquet",
                "s3://bucket/data/ds/p=2/part-0.parquet",
            ]
        )
        == "s3://bucket/data/ds"
    )
    assert (
        _common_base(["file:///x/ds/p=1/a.parquet", "file:///x/ds/p=2/b.parquet"])
        == "file:///x/ds"
    )
    assert _common_base(["/plain/ds/a.parquet", "/plain/ds/b.parquet"]) == "/plain/ds"
    assert _common_base(["hdfs://nn:8020/w/a/x.parquet"]) == "hdfs://nn:8020/w/a"


def test_partition_compatibility(spark, tmp_path):
    """Spark face of reference lib/core.py:2784: YES for identical
    file scans, MAYBE when a derived frame hides its boundaries, NO on
    count mismatch or differing file lists."""
    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark.core import (
        PartitionCompatibility,
        compatible_partitions,
        npartitions,
        partition_compatibility,
    )

    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(0, 40).repartition(4).write.parquet(p1)
    spark.range(0, 40).repartition(2).write.parquet(p2)
    a1, a2 = spark.read.parquet(p1), spark.read.parquet(p1)
    b = spark.read.parquet(p2)

    assert partition_compatibility(a1, a2) == PartitionCompatibility.YES
    assert partition_compatibility(a1, b) == PartitionCompatibility.NO
    derived = a1.withColumn("x", F.col("id") * 2).repartition(npartitions(a1))
    assert partition_compatibility(a1, derived) == PartitionCompatibility.MAYBE
    # same count, different files -> NO (known divisions disagree)
    p3 = str(tmp_path / "c")
    spark.range(100, 140).repartition(4).write.parquet(p3)
    assert (
        partition_compatibility(a1, spark.read.parquet(p3))
        == PartitionCompatibility.NO
    )

    assert compatible_partitions(a1, a2)
    assert compatible_partitions(a1, derived)  # MAYBE passes by default
    assert not compatible_partitions(
        a1, derived, how_strict=PartitionCompatibility.YES
    )
    assert not compatible_partitions(a1, b)


def test_repartition_schemes(spark):
    """Reference Array.repartition's scheme set (lib/core.py:979):
    rows_per_partition, one_to_n, n_to_one (narrow adjacent merge)."""
    import pytest

    from dask_awkward_sandbox_spark import core

    df = spark.range(0, 1000, 1, 8)  # 8 native partitions, no exchange
    out = core.repartition(df, rows_per_partition=100)
    assert out.rdd.getNumPartitions() == 10
    assert out.count() == 1000

    assert core.repartition(df, one_to_n=3).rdd.getNumPartitions() == 24
    n21 = core.repartition(df, n_to_one=4)
    assert n21.rdd.getNumPartitions() == 2
    # n_to_one must stay narrow: no Exchange in the plan
    assert "Exchange" not in core.visualize(n21)

    with pytest.raises(ValueError):
        core.repartition(df)
    with pytest.raises(ValueError):
        core.repartition(df, 4, rows_per_partition=10)
    with pytest.raises(ValueError):
        core.repartition(df, rows_per_partition=0)


def test_flat_namespace_mirrors_reference_exports():
    """Every verb the reference exports at top level (minus the
    documented dask-interop non-goals) resolves on our package root —
    reference src/dask_awkward/__init__.py, line-for-line."""
    import dask_awkward_sandbox_spark as dak

    for name in [
        "compatible_partitions", "map_partitions", "partition_compatibility",
        "backend", "fields", "ndim", "report_necessary_buffers",
        "report_necessary_columns", "sample", "from_lists", "to_dataframe",
        "from_json", "to_json", "from_parquet", "to_parquet", "from_text",
        "concatenate", "all", "any", "argmax", "argmin", "corr", "count",
        "count_nonzero", "covar", "linear_fit", "max", "mean", "min",
        "moment", "prod", "ptp", "softmax", "std", "sum", "var",
        "argcartesian", "argcombinations", "argsort", "broadcast_arrays",
        "cartesian", "combinations", "copy", "drop_none", "fill_none",
        "firsts", "flatten", "from_regular", "full_like", "is_none",
        "isclose", "local_index", "mask", "nan_to_num", "num", "ones_like",
        "pad_none", "ravel", "run_lengths", "singletons", "sort",
        "strings_astype", "to_list", "to_packed", "to_regular", "unflatten",
        "unzip", "values_astype", "where", "with_field", "with_name",
        "with_parameter", "without_field", "without_parameters",
        "zeros_like", "zip", "type", "head", "getitem", "NestedArray",
        "elementwise", "mixin_class", "mixin_class_method", "dask_property",
        "dask_method", "behavior_from_parameters",
    ]:
        assert hasattr(dak, name), name


def test_compute_multiple(spark, sf):
    """Multi-collection compute (reference test_optimize.py multiple
    computes): one call, several collections, results aligned; a
    persisted shared ancestor is computed once and reused by both."""
    from dask_awkward_sandbox_spark import core

    base = spark.read.parquet(f"{sf}/nation.parquet")
    shared = core.persist(base.select("n_nationkey", "n_regionkey"))
    a = shared.groupBy("n_regionkey").count()
    b = shared.agg(F.max("n_nationkey").alias("mx"))
    ra, rb = core.compute(a, b)
    assert sum(r["count"] for r in ra) == base.count()
    assert rb[0]["mx"] == 24
    shared.unpersist()


def test_error_types_parity(spark, sf):
    """Reference docs/api/utils.rst error surface: IncompatiblePartitions
    for partition-wise ops over mismatched collections,
    ConcretizationTypeError when a lazy array meets an eager context."""
    import pytest

    import dask_awkward_sandbox_spark as dak
    from dask_awkward_sandbox_spark.utils import assert_compatible_partitions

    a = spark.read.parquet(f"{sf}/nation.parquet")
    b = spark.read.parquet(f"{sf}/region.parquet").repartition(7)
    with pytest.raises(dak.IncompatiblePartitions, match="incompatibly partitioned"):
        assert_compatible_partitions("zip", a, b)
    # same collection: compatible, no raise
    assert_compatible_partitions("zip", a, a)

    arr = dak.NestedArray(F.col("x"))
    with pytest.raises(dak.ConcretizationTypeError):
        bool(arr)
    with pytest.raises(dak.ConcretizationTypeError):
        int(arr)
    with pytest.raises(dak.ConcretizationTypeError):
        len(arr)


def test_repartition_divisions_directed_error(spark):
    """divisions= (dask's ordered-partition row-offset scheme) must
    raise a DIRECTED NotImplementedError naming the Spark-side
    equivalents, never a bare TypeError on ported scripts."""
    import pytest

    from dask_awkward_sandbox_spark.core import repartition

    df = spark.range(10)
    with pytest.raises(NotImplementedError, match="repartitionByRange"):
        repartition(df, divisions=(0, 5, 10))
