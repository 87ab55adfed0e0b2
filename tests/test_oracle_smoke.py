"""Warm-rebuild value check: five cheap registered slots, one from each
family (relational, nested, window, text, streaming), against their
DuckDB oracles at sf0.001. Each slot is built twice on one session, so
the second build reads its sources through memoized parquet schemas and
a warm-build regression shows up as a value mismatch. The values of all
50 slots (one build each) are checked by test_oracle_parity.py, whose
canonicalisation this module reuses."""

from __future__ import annotations

import pytest

from dask_awkward_sandbox_spark.session import DEFAULT_SF_DIR
from test_oracle_parity import _canon, _duck

SLOTS = [
    "q1_pricing_summary",
    "q_reduce_order_count",
    "q_window_funcs",
    "q_tf_idf",
    "q_stream_sessionize",
]


@pytest.mark.parametrize("name", SLOTS)
def test_slot_matches_oracle(spark, name):
    from dask_awkward_sandbox_spark.plans import ORACLES, QUERIES

    con = _duck(DEFAULT_SF_DIR)
    try:
        want = _canon(con.execute(ORACLES[name]).df())
    finally:
        con.close()
    for build in ("first", "repeat"):
        got = _canon(QUERIES[name](spark, DEFAULT_SF_DIR).toPandas())
        assert got == want, f"{name} ({build} build) differs from its DuckDB oracle"
