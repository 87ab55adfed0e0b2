"""Collection construction / conversion.

Parity: /root/reference/src/dask_awkward/lib/io/io.py (from_lists,
from_map, to_dataframe, from_awkward/to_dask_bag analogues). The
Spark-native equivalents: an Arrow table handed to the JVM for
materialized python data (``from_lists``, the package's one
``createDataFrame`` call), flattening selects for to_dataframe.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType


def from_lists(
    spark: SparkSession,
    rows: Iterable,
    schema: str | StructType,
    num_partitions: int | None = None,
) -> DataFrame:
    """Build a nested collection from Python lists-of-records.

    Parity: io.py:from_lists. Explicit schema (like the reference's
    behavior-typed from_lists) — inference over nested python data is
    both slow and lossy. ``schema`` is a DDL string or a StructType;
    each row is a tuple in field order (structs nested as tuples too)
    or a dict keyed by field name.

    The rows become one ``pyarrow.Table`` typed by the schema's Arrow
    form, and the JVM converts it: the plan leaf is a
    ``LocalTableScan`` (``LocalTableScan <empty>`` for no rows), or
    ``Scan ExistingRDD arrow[...]`` once the table outgrows Spark's
    local-relation threshold. No Python worker starts at any size.
    Handing ``createDataFrame`` the rows themselves would ship them as
    a pickled Python RDD instead, whose worker environment differs
    from the SQL UDFs', so Spark forks a second PySpark daemon and
    keeps its worker pool for the rest of the session. The Spark
    schema is ``schema`` exactly, nullability included; a null in a
    non-nullable top-level field raises ValueError. Naive datetimes
    are read as UTC.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    aschema = to_arrow_schema(schema)
    table = pa.Table.from_struct_array(pa.array(list(rows), type=pa.struct(aschema)))
    for field, col in zip(aschema, table.columns):
        if not field.nullable and col.null_count:
            raise ValueError(f"field {field.name}: null in a non-nullable field")
    df = spark.createDataFrame(table, schema)
    if num_partitions:
        df = df.repartition(num_partitions)
    return df


def to_dataframe(df: DataFrame, explode_col: str | None = None) -> DataFrame:
    """Flatten a nested collection to a purely columnar (scalar) frame.

    Parity: io.py:to_dataframe (dask.dataframe conversion). List
    columns explode to rows (one level), struct columns flatten to
    ``parent_child`` scalar columns.
    """
    if explode_col is not None:
        keep = [c for c in df.columns if c != explode_col]
        df = df.select(*keep, F.explode_outer(explode_col).alias(explode_col))
    flat_cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, StructType):
            for sub in f.dataType.fields:
                flat_cols.append(F.col(f"{f.name}.{sub.name}").alias(f"{f.name}_{sub.name}"))
        else:
            flat_cols.append(F.col(f.name))
    return df.select(*flat_cols)


def from_map(df_builder, items: Iterable, spark: SparkSession) -> DataFrame:
    """Union the DataFrames produced by ``df_builder(spark, item)`` —
    the reference's from_map (per-input-partition builder). Each
    builder output stays lazy; the union is metadata-only."""
    dfs = [df_builder(spark, it) for it in items]
    if not dfs:
        raise ValueError("from_map needs at least one item")
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def to_delayed(df: DataFrame) -> list[DataFrame]:
    """One LAZY collection per partition (reference io.py to_delayed:
    a list of dask.delayed objects, one per partition). The Spark
    analogue of a delayed partition is an unevaluated DataFrame
    restricted to that partition (`core.partitions` — a sliced file
    re-read on the scan fast path, a partition-id filter on derived
    frames); nothing computes until an action runs on an element."""
    from dask_awkward_sandbox_spark.core import npartitions, partitions

    return [partitions(df, i) for i in range(npartitions(df))]


def from_delayed(frames: Iterable[DataFrame]) -> DataFrame:
    """Rebuild one collection from per-partition lazy frames
    (reference io.py from_delayed). Metadata-only union; schemas must
    be union-compatible (missing columns null-fill, like the
    reference's divisions-unknown concatenation)."""
    frames = list(frames)
    if not frames:
        raise ValueError("from_delayed needs at least one frame")
    out = frames[0]
    for d in frames[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out
