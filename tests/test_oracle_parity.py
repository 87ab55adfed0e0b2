"""The local mirror of the driver's correctness gate: every registered
query runs on Spark AND its DuckDB oracle on the same parquet; results
must match as order-insensitive multisets with identical column names.
A default run checks all 50 slots at sf0.001; set ``DWAX_TEST_SF``
(e.g. /root/testdata/sf0.01) to sweep another scale.

Floats are compared EXACTLY (bit-for-bit) — the determinism contract
(integer units + identical expression trees) is designed to make that
hold; a tolerance here would hide contract violations the driver's
value-hash would catch.

The warm-rebuild check (one slot per family built twice on one
session) is test_oracle_smoke.py, which reuses this module's helpers.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from dask_awkward_sandbox_spark.plans import ORACLES, QUERIES

SF_DIR = os.environ.get("DWAX_TEST_SF", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0  # -0.0 -> 0.0
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _canon(df_pandas):
    cols = sorted(df_pandas.columns)
    rows = [
        tuple(_canon_cell(r[c]) for c in cols)
        for r in df_pandas.to_dict("records")
    ]
    return cols, sorted(rows)


NAMES = sorted(QUERIES)


@pytest.fixture(scope="module")
def duck():
    con = _duck(SF_DIR)
    yield con
    con.close()


def _assert_same(name, sdf, want):
    scols, srows = _canon(sdf)
    ocols, orows = want
    assert scols == ocols, f"{name}: columns {scols} != {ocols}"
    assert len(srows) == len(orows), f"{name}: {len(srows)} rows vs {len(orows)}"
    mismatches = [
        (a, b) for a, b in zip(srows, orows) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, duck, name):
    want = _canon(duck.execute(ORACLES[name]).df())
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    _assert_same(name, sdf, want)
