"""Session-wide confs that ``session.get_spark`` sets for speed must
keep the behaviour callers rely on."""

import pytest
from pyspark.errors import AnalysisException


def test_call_site_capture_off_keeps_eager_analysis_errors(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(AnalysisException, match="no_such_column"):
        spark.range(3).select("no_such_column")
