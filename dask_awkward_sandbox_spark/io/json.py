"""JSON IO for nested collections.

Parity: /root/reference/src/dask_awkward/lib/io/json.py
(from_json/to_json, line-delimited and schema-ed variants). Spark's
JSON source is already partitioned line-delimited JSON; an explicit
schema string replaces the reference's jsonschema path, and
``schema_of_json``/sampling replaces its meta inference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def from_json(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    line_delimited: bool = True,
) -> DataFrame:
    """Read JSON files; ``schema`` (DDL string) skips inference — at
    100 TB inference means an extra full scan, so production callers
    always pass it (the reference takes a jsonschema for the same
    reason)."""
    r = spark.read
    if schema:
        r = r.schema(schema)
    if not line_delimited:
        r = r.option("multiLine", "true")
    return r.json(path)


def to_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write line-delimited JSON (one object per row, nested values
    as JSON structures) — the reference's to_json layout."""
    df.write.mode(mode).json(path)


def _json_type(t: str, add_null: bool) -> str | list[str]:
    return [t, "null"] if add_null else t


def schema_to_jsonschema(
    schema_or_df,
    title: str = "untitled",
    description: str = "Auto generated by dask-awkward-sandbox-spark",
    required: bool = False,
) -> dict:
    """Render a Spark schema as a JSON Schema dict (reference
    io/json.py:818 ``layout_to_jsonschema`` — same output shape:
    object/properties/items trees, nullable types as ["T", "null"]).

    Useful for publishing the contract of a ``to_json`` sink to
    downstream non-Spark consumers. Accepts a DataFrame, StructType,
    or DDL string. Mapping: struct -> object, array -> array, map ->
    object with additionalProperties, integral -> integer,
    fractional/decimal -> number, boolean -> boolean, string ->
    string, binary -> string + contentEncoding base64, timestamp /
    date -> string + format (how Spark's JSON writer emits them).
    """
    from pyspark.sql import types as T

    if isinstance(schema_or_df, DataFrame):
        schema = schema_or_df.schema
    elif isinstance(schema_or_df, str):
        schema = T.StructType.fromDDL(schema_or_df)
    else:
        schema = schema_or_df

    def walk(dt, nullable: bool) -> dict:
        out: dict = {}
        if isinstance(dt, T.StructType):
            out["type"] = _json_type("object", nullable)
            out["properties"] = {
                f.name: walk(f.dataType, f.nullable) for f in dt.fields
            }
            if required:
                out["required"] = [f.name for f in dt.fields]
        elif isinstance(dt, T.ArrayType):
            out["type"] = _json_type("array", nullable)
            out["items"] = walk(dt.elementType, dt.containsNull)
        elif isinstance(dt, T.MapType):
            out["type"] = _json_type("object", nullable)
            out["additionalProperties"] = walk(dt.valueType, dt.valueContainsNull)
        elif isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            out["type"] = _json_type("integer", nullable)
        elif isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
            out["type"] = _json_type("number", nullable)
        elif isinstance(dt, T.BooleanType):
            out["type"] = _json_type("boolean", nullable)
        elif isinstance(dt, T.BinaryType):
            out["type"] = _json_type("string", nullable)
            out["contentEncoding"] = "base64"
        elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            out["type"] = _json_type("string", nullable)
            out["format"] = "date-time"
        elif isinstance(dt, T.DateType):
            out["type"] = _json_type("string", nullable)
            out["format"] = "date"
        else:
            out["type"] = _json_type("string", nullable)
        return out

    root = walk(schema, False)
    root["title"] = title
    root["description"] = description
    return root


# reference export-name parity (dak.layout_to_jsonschema)
layout_to_jsonschema = schema_to_jsonschema
