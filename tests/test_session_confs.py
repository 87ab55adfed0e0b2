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
