"""IO module tests beyond the oracle-checked roundtrips: JSON schema
inference, multiline JSON, JSON-column parsing, custom text
delimiters, from_map."""

from __future__ import annotations

import json
import os

from dask_awkward_sandbox_spark import session

SCRATCH = os.path.join(session.SCRATCH, "iotest")


def test_from_json_infers_schema(spark):
    from dask_awkward_sandbox_spark.io import from_json, to_json

    src = spark.createDataFrame(
        [(1, "a", [1, 2]), (2, "b", [])], "id long, s string, v array<long>"
    )
    path = os.path.join(SCRATCH, "infer")
    to_json(src, path)
    back = from_json(spark, path)  # no schema: inference scan
    assert {f.name for f in back.schema.fields} == {"id", "s", "v"}
    assert back.count() == 2


def test_from_json_multiline(spark):
    from dask_awkward_sandbox_spark.io import from_json

    path = os.path.join(SCRATCH, "multiline")
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "a.json"), "w") as f:
        json.dump([{"id": 1, "x": 1.5}, {"id": 2, "x": 2.5}], f, indent=2)
    back = from_json(spark, path, schema="id long, x double", line_delimited=False)
    assert sorted(r["id"] for r in back.collect()) == [1, 2]


def test_from_text_custom_delimiter(spark):
    from dask_awkward_sandbox_spark.io.text import from_text

    path = os.path.join(SCRATCH, "delim")
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "a.txt"), "w") as f:
        f.write("alpha|beta|gamma")
    got = sorted(r["value"] for r in from_text(spark, path, delimiter="|").collect())
    assert got == ["alpha", "beta", "gamma"]


def test_from_map_unions_lazily(spark):
    from dask_awkward_sandbox_spark.io.io import from_map

    def builder(s, n):
        return s.range(n).withColumnRenamed("id", "x")

    out = from_map(builder, [3, 4], spark)
    assert out.count() == 7
    assert out.columns == ["x"]


def test_schema_to_jsonschema(spark):
    """Reference io/json.py:818 layout_to_jsonschema parity: JSON
    Schema dict from a Spark schema (object/properties/items trees,
    nullable as [T, 'null'])."""
    from dask_awkward_sandbox_spark.io.json import (
        layout_to_jsonschema,
        schema_to_jsonschema,
    )

    s = schema_to_jsonschema(
        "a bigint, items array<struct<x: int, w: double>>, "
        "m map<string,int>, b binary, ts timestamp",
        title="t",
    )
    assert s["title"] == "t" and s["type"] == "object"
    p = s["properties"]
    assert p["a"]["type"] == ["integer", "null"]
    assert p["items"]["type"] == ["array", "null"]
    assert p["items"]["items"]["type"] == ["object", "null"]
    assert p["items"]["items"]["properties"]["x"]["type"] == ["integer", "null"]
    assert p["items"]["items"]["properties"]["w"]["type"] == ["number", "null"]
    assert p["m"]["additionalProperties"]["type"] == ["integer", "null"]
    assert p["b"]["contentEncoding"] == "base64"
    assert p["ts"]["format"] == "date-time"
    assert layout_to_jsonschema is schema_to_jsonschema

    # non-null fields: bare type names; DataFrame input accepted
    from pyspark.sql import types as T

    st = T.StructType([T.StructField("k", T.LongType(), nullable=False)])
    out = schema_to_jsonschema(spark.createDataFrame([], st), required=True)
    assert out["properties"]["k"]["type"] == "integer"
    assert out["required"] == ["k"]


def test_to_delayed_from_delayed_roundtrip(spark, tmp_path):
    """Reference io.py to_delayed/from_delayed: one lazy collection
    per partition, rebuildable into the whole; on a pure scan each
    element re-reads only its own file."""
    from dask_awkward_sandbox_spark.io.io import from_delayed, to_delayed

    path = str(tmp_path / "d")
    spark.range(0, 100).repartition(4).write.parquet(path)
    back = spark.read.parquet(path)
    parts = to_delayed(back)
    assert len(parts) == 4
    # each delayed element is partition-local (file-sliced)
    assert all(len(p.inputFiles()) == 1 for p in parts)
    rebuilt = from_delayed(parts)
    assert sorted(r["id"] for r in rebuilt.collect()) == list(range(100))
    import pytest
    with pytest.raises(ValueError):
        from_delayed([])
