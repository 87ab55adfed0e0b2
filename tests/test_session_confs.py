"""Session-wide confs that ``session.get_spark`` sets for speed must
keep the behaviour callers rely on."""

import pytest
from pyspark.errors import AnalysisException


def test_call_site_capture_off_keeps_eager_analysis_errors(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(AnalysisException, match="no_such_column"):
        spark.range(3).select("no_such_column")


def test_codegen_cache_holds_interleaved_working_set(spark, sf):
    """The nested_scan slots interleaved need more generated classes
    (123 at sf0.01) than Spark's default cache of 100 holds, and an LRU
    under a round-robin scan larger than its capacity almost never
    hits. With the cache ``get_spark`` sizes, a warm pass compiles
    nothing."""
    import json
    import os

    import bench

    with open(os.path.join(bench.ROOT, "perfbench", "workloads.json")) as f:
        names = json.load(f)["workloads"]["nested_scan"]["slots"]
    slots = bench._slots(spark, names, sf)
    bench.timed(spark, slots, 1)
    compiles: dict[str, int] = {}
    bench.timed(spark, slots, 1, compiles)
    assert compiles == {name: 0 for name in names}


def test_get_spark_returns_running_session_untouched(spark):
    """A second ``get_spark`` in the process returns the live session
    as it is: ``getOrCreate`` would re-apply the builder's shuffle
    partitions (2x cores) over the value set since."""
    from dask_awkward_sandbox_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        assert get_spark("other") is spark
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, prev)
