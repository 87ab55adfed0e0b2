"""io.parquet.from_parquet memoizes each path's inferred schema per
session: a repeat read of unchanged files plans without a Spark job,
and a change to the files, to a parquet conf that changes inference, or
to the session infers again. Every read is a fresh relation."""

from __future__ import annotations

import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dask_awkward_sandbox_spark.io import parquet as pqio
from dask_awkward_sandbox_spark.plans.common import read
from dask_awkward_sandbox_spark.session import DEFAULT_SF_DIR, scoped_conf


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # The status tracker learns of jobs from the FIFO listener bus: once
    # a marker job launched after fn is visible, so is every job of fn.
    marker = group + "-marker"
    sc.setJobGroup(marker, marker)
    try:
        sc.parallelize([1], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "listener bus did not report the marker job"
        time.sleep(0.05)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _copy(tmp_path, *names):
    for n in names:
        shutil.copyfile(f"{DEFAULT_SF_DIR}/{n}.parquet", tmp_path / f"{n}.parquet")
    return str(tmp_path)


def test_repeat_read_launches_no_job(spark, tmp_path):
    sf = _copy(tmp_path, "lineitem")
    first, n_first = _jobs(spark, lambda: read(spark, sf, "lineitem"))
    second, n_second = _jobs(spark, lambda: read(spark, sf, "lineitem"))
    assert n_first >= 1  # schema inference
    assert n_second == 0
    assert second.schema == first.schema


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert read(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    df = read(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(r["b"] for r in df.collect()) == ["x", "y", "z"]


def test_binary_as_string_conf_invalidates(spark, tmp_path):
    pq.write_table(pa.table({"k": pa.array([b"ab", b"cd"], pa.binary())}), tmp_path / "t.parquet")
    sf = str(tmp_path)
    assert read(spark, sf, "t").schema["k"].dataType.simpleString() == "binary"
    with scoped_conf(spark, "spark.sql.parquet.binaryAsString", "true"):
        assert read(spark, sf, "t").schema["k"].dataType.simpleString() == "string"
    assert read(spark, sf, "t").schema["k"].dataType.simpleString() == "binary"


def test_two_reads_self_join(spark, tmp_path):
    """Each read gets its own attribute IDs. Were the second read the
    memoized DataFrame itself, both sides would share one set of
    attributes and Spark could not tell them apart in the condition."""
    sf = _copy(tmp_path, "lineitem")
    a = read(spark, sf, "lineitem")
    b, n_jobs = _jobs(spark, lambda: read(spark, sf, "lineitem"))
    assert n_jobs == 0
    cond = (a["l_orderkey"] == b["l_orderkey"]) & (a["l_linenumber"] < b["l_linenumber"])
    li = pq.read_table(f"{sf}/lineitem.parquet", columns=["l_orderkey", "l_linenumber"])
    pairs = li.to_pandas().merge(li.to_pandas(), on="l_orderkey")
    want = int((pairs["l_linenumber_x"] < pairs["l_linenumber_y"]).sum())
    assert want > 0
    assert a.join(b, cond).count() == want


def test_events_ts_stays_timestamp(spark, tmp_path):
    sf = _copy(tmp_path, "events")
    first = read(spark, sf, "events")
    second, n_jobs = _jobs(spark, lambda: read(spark, sf, "events"))
    assert n_jobs == 0
    for df in (first, second):
        assert df.schema["ts"].dataType.simpleString() == "timestamp"


def test_new_session_infers_again(spark, tmp_path):
    sf = _copy(tmp_path, "region")
    read(spark, sf, "region")
    _, n_jobs = _jobs(spark, lambda: read(spark, sf, "region"))
    assert n_jobs == 0
    other = spark.newSession()
    _, n_jobs = _jobs(other, lambda: read(other, sf, "region"))
    assert n_jobs >= 1


@pytest.mark.parametrize(
    "path, local",
    [("s3a://bucket/t.parquet", False), ("file:{tmp}/t.parquet", True), ("{tmp}/t.parquet", True)],
)
def test_only_local_paths_are_memoized(tmp_path, path, local):
    pq.write_table(pa.table({"a": [1]}), tmp_path / "t.parquet")
    sig = pqio._disk_signature(path.format(tmp=tmp_path))
    assert (sig is not None) == local


def test_overwrite_write_seeds_the_read_back_schema(spark, tmp_path):
    """to_parquet hands the schema it wrote to the memo: reading the
    files back launches no job and gives the schema Spark's own
    inference gives (all-nullable), also for nested and non-nullable
    parts of the written frame."""
    from pyspark.sql import functions as F

    df = spark.range(5).select(
        F.col("id").alias("k"),
        F.array(
            F.struct(F.col("id").cast("int").alias("a"), F.lit("x").alias("b"))
        ).alias("items"),
        F.create_map(F.lit("m"), F.array(F.col("id").cast("int"))).alias("m"),
    )
    assert df.schema.simpleString() == (
        "struct<k:bigint,items:array<struct<a:int,b:string>>,m:map<string,array<int>>>"
    )
    assert not df.schema["k"].nullable
    assert not df.schema["items"].dataType.containsNull
    assert not df.schema["m"].dataType.valueType.containsNull
    path = str(tmp_path / "out")
    pqio.to_parquet(df, path)
    back, n = _jobs(spark, lambda: pqio.from_parquet(spark, path))
    assert n == 0
    assert back.schema == spark.read.parquet(path).schema
    assert sorted(back.collect()) == sorted(df.collect())


def test_partitioned_and_append_writes_do_not_seed(spark, tmp_path):
    from pyspark.sql import functions as F

    df = spark.range(4).select(F.col("id").alias("k"), (F.col("id") % 2).alias("p"))
    part = str(tmp_path / "part")
    pqio.to_parquet(df, part, partition_by=["p"])
    app = str(tmp_path / "app")
    pqio.to_parquet(df, app, mode="append")
    for path in (part, app):
        assert path not in pqio._SCHEMAS.get(spark, {})
        back, n = _jobs(spark, lambda: pqio.from_parquet(spark, path))
        assert n >= 1  # schema inference
        assert back.schema == spark.read.parquet(path).schema
    # an append after a seeding overwrite adds files: the seed's stamp
    # no longer matches, so the read infers again
    pqio.to_parquet(df, app)
    pqio.to_parquet(df, app, mode="append")
    back, n = _jobs(spark, lambda: pqio.from_parquet(spark, app))
    assert n >= 1
    assert back.count() == 8
