"""``io.from_lists`` builds driver-side row sets through Arrow.

Each case is checked against ``spark.createDataFrame(rows, schema)``
(the pickled-RDD path): same schema, nullability included, and same
rows. The executed plan must carry no ``Scan ExistingRDD[`` leaf,
which is the pickled path's leaf. The guard tests pin the layer that
matters: no slot builds a ``PipelinedRDD`` (whose worker environment
forks a second PySpark daemon), and ``createDataFrame(`` appears in
the package only inside ``from_lists``.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import types as T

from dask_awkward_sandbox_spark.io.io import from_lists
from dask_awkward_sandbox_spark.plans.io_queries import _LISTS_ROWS
from dask_awkward_sandbox_spark.session import DEFAULT_SF_DIR, ROOT, scoped_conf

# a binary payload beside a nullable metadata struct, under a
# non-nullable key
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("kind", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)
MEDIA_ROWS = [
    (0, bytes(range(16)), ("image", 64, 48, None, None)),
    (1, bytearray(b"\x00\xff"), ("audio", None, None, 16000, None)),
    (2, None, None),
    (3, b"", ("video", 16, 12, None, 24)),
]

NESTED_SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField(
            "items",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("a", T.IntegerType()),
                        T.StructField("b", T.DoubleType()),
                    ]
                )
            ),
        ),
        T.StructField("m", T.MapType(T.StringType(), T.LongType())),
    ]
)
NESTED_ROWS = [
    ("x", [(1, 0.5), (None, -2.0)], {"p": 1}),
    ("y", [], None),
    ("z", None, {}),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _same_as_pickled(spark, rows, schema, **kw):
    got = from_lists(spark, rows, schema, **kw)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)
    assert "Scan ExistingRDD[" not in _plan(got)
    return got


@pytest.mark.parametrize(
    "rows, schema",
    [
        (_LISTS_ROWS, "id long, v array<double>"),
        (MEDIA_ROWS, MEDIA_SCHEMA),
        (NESTED_ROWS, NESTED_SCHEMA),
        (NESTED_ROWS, NESTED_SCHEMA.simpleString()[len("struct<") : -1]),
        ([], "id long, v array<double>"),
        ([], MEDIA_SCHEMA),
    ],
    ids=["lists", "media", "nested-struct", "nested-ddl", "empty-ddl", "empty-struct"],
)
def test_from_lists_matches_pickled_path(spark, rows, schema):
    df = _same_as_pickled(spark, rows, schema)
    assert "LocalTableScan" in _plan(df)
    if not rows:
        assert "LocalTableScan <empty>" in _plan(df)


def test_from_lists_num_partitions(spark):
    df = _same_as_pickled(spark, _LISTS_ROWS, "id long, v array<double>", num_partitions=2)
    assert df.rdd.getNumPartitions() == 2


def test_from_lists_past_local_relation_threshold(spark):
    """Past the local-relation threshold the JVM keeps the Arrow
    batches as an RDD (``Scan ExistingRDD arrow[...]``), still with no
    Python worker."""
    rows = [(i, [float(i)] * (i % 3) or None) for i in range(2_000)]
    with scoped_conf(spark, "spark.sql.execution.arrow.localRelationThreshold", "0"):
        df = _same_as_pickled(spark, rows, "id long, v array<double>")
        assert "Scan ExistingRDD arrow[" in _plan(df)


def test_from_lists_rejects_null_in_non_nullable_field(spark):
    with pytest.raises(ValueError, match="media_id"):
        from_lists(spark, [(None, None, None)], MEDIA_SCHEMA)


def test_empty_frame_sites_keep_schemas(spark):
    from dask_awkward_sandbox_spark.functions.similarity import brute_force_topk
    from dask_awkward_sandbox_spark.io.root import necessary_branches
    from dask_awkward_sandbox_spark.plans.common import read

    e = read(spark, DEFAULT_SF_DIR, "embeddings")
    top = brute_force_topk(e, e.limit(0), k=3)
    assert top.schema == T.DataType.fromDDL("q_id long, nb_id long, sim double")
    assert top.count() == 0

    # the zero-row probe parquet reads back every top-level field
    assert necessary_branches(spark, NESTED_SCHEMA, lambda df: df) == ["k", "items", "m"]
    assert necessary_branches(spark, NESTED_SCHEMA, lambda df: df.select("items.a")) == [
        "items"
    ]


def test_slots_build_no_pickled_rdd(spark, monkeypatch):
    """The four slots that used to ship rows as a pickled Python RDD
    (q_kmeans 1, q_lm_perplexity 2, q_data_mixture 1, q_small_sources
    6) build none."""
    from pyspark.core.rdd import PipelinedRDD

    from bench import noop
    from dask_awkward_sandbox_spark.plans import QUERIES

    built = []
    init = PipelinedRDD.__init__

    def counting(self, *args, **kwargs):
        built.append(self)
        init(self, *args, **kwargs)

    monkeypatch.setattr(PipelinedRDD, "__init__", counting)
    counts = {}
    for name in ("q_kmeans", "q_lm_perplexity", "q_data_mixture", "q_small_sources"):
        before = len(built)
        noop(QUERIES[name](spark, DEFAULT_SF_DIR))
        counts[name] = len(built) - before
    assert counts == dict.fromkeys(counts, 0)


def test_create_dataframe_only_in_from_lists():
    pkg = os.path.join(ROOT, "dask_awkward_sandbox_spark")
    hits = []
    for d, _, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path) as fh:
                    text = fh.read()
                hits += [os.path.relpath(path, pkg)] * len(re.findall(r"createDataFrame\(", text))
    assert hits == [os.path.join("io", "io.py")]
