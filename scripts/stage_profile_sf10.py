"""Per-stage wall decomposition of the residual high-growth slots
(r12, verdict item 4 — the embedding-profiler pattern applied to
q_flatten_softmax, q_pad_fill_none, q_parquet_roundtrip).

Each slot's pipeline is re-timed stage by stage at sf1 and sf10
(bench.timed: interleaved min-of-2, cold cache) so the growth constant
gets ATTRIBUTED to a stage instead of hand-waved:

- scan           the narrow projection read (pure IO + decode)
- window_rank    the okey-clustered row_number window — the slot's
                 distribution-defining shuffle + sort (flatten/pad)
- hof_twin       the ~2% sampled HOF build end-to-end
- nested build / read-back / explode stages for the parquet roundtrip
  (the nested frame is written once, untimed, before the read-back)
- full           the registered slot

Writes a ``stage_profile`` block into SCALE_SF10.json.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import timed  # noqa: E402

SF1 = os.path.join(ROOT, ".scaledata", "sf1")
SF10 = os.path.join(ROOT, ".scaledata", "sf10")
ORD_COLS = [
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
    "l_tax", "l_returnflag", "l_linestatus",
]


def _stages_flatten(spark, d):
    from dask_awkward_sandbox_spark.plans import QUERIES
    from dask_awkward_sandbox_spark.plans.common import read
    from dask_awkward_sandbox_spark.plans.nested import (
        _HOF_SAMPLE,
        q_flatten_softmax_hof,
    )

    li = read(spark, d, "lineitem").select("l_orderkey", *ORD_COLS)
    w = Window.partitionBy("l_orderkey").orderBy(*ORD_COLS)
    ranked = li.select(
        "l_orderkey", (F.row_number().over(w) - 1).alias("idx"), "l_quantity"
    )
    return {
        "scan": lambda: li,
        "window_rank": lambda: ranked,
        "hof_twin": lambda: q_flatten_softmax_hof(spark, d, where=_HOF_SAMPLE()),
        "full": lambda: QUERIES["q_flatten_softmax"](spark, d),
    }


def _stages_pad(spark, d):
    from dask_awkward_sandbox_spark.plans import QUERIES
    from dask_awkward_sandbox_spark.plans.common import read
    from dask_awkward_sandbox_spark.plans.nested import (
        _HOF_SAMPLE,
        q_pad_fill_none_hof,
    )

    li = read(spark, d, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_quantity")
    ranked = li.select(
        "l_orderkey", (F.row_number().over(w) - 1).alias("idx"), "l_quantity"
    )
    return {
        "scan": lambda: li,
        "window_rank": lambda: ranked,
        "hof_twin": lambda: q_pad_fill_none_hof(spark, d, where=_HOF_SAMPLE()),
        "full": lambda: QUERIES["q_pad_fill_none"](spark, d),
    }


def _stages_roundtrip(spark, d):
    from dask_awkward_sandbox_spark.io import from_parquet, to_dataframe, to_parquet
    from dask_awkward_sandbox_spark.plans import QUERIES
    from dask_awkward_sandbox_spark.plans.common import order_items
    from dask_awkward_sandbox_spark.plans.io_queries import _scratch

    path = _scratch(d, "nested_items_profile")
    nested = order_items(spark, d, fields=["l_linenumber", "l_quantity"])
    # written once, untimed: the read-back stages below scan it
    to_parquet(nested, path, max_records_per_file=100_000)

    def explode_agg():
        back = from_parquet(spark, path, columns=["l_orderkey", "items"])
        flat = to_dataframe(back, explode_col="items")
        return flat.groupBy("l_orderkey").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("items_l_linenumber").cast("long")).alias("s"),
        )

    def mp_legs():
        import pyarrow as pa

        from dask_awkward_sandbox_spark.plans.common import read

        li = read(spark, d, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity"
        )

        def fn(batches):
            for b in batches:
                yield pa.RecordBatch.from_arrays(
                    [b.column("l_orderkey"),
                     b.column("l_linenumber").cast(pa.int64())],
                    names=["l_orderkey", "l_linenumber"],
                )

        return (
            li.mapInArrow(fn, "l_orderkey long, l_linenumber long")
            .groupBy("l_orderkey").agg(F.sum("l_linenumber").alias("s"))
        )

    return {
        "nested_build": lambda: nested,
        "read_back_scan": lambda: from_parquet(spark, path, columns=["l_orderkey", "items"]),
        "explode_reagg": explode_agg,
        "map_in_arrow_legs": mp_legs,
        "full": lambda: QUERIES["q_parquet_roundtrip"](spark, d),
    }


def main() -> None:
    from dask_awkward_sandbox_spark.session import get_spark

    spark = get_spark("stage-profile")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    for name, fn in (
        ("q_flatten_softmax", _stages_flatten),
        ("q_pad_fill_none", _stages_pad),
        ("q_parquet_roundtrip", _stages_roundtrip),
    ):
        out[name] = {}
        for tag, d in (("sf1", SF1), ("sf10", SF10)):
            samples = timed(spark, fn(spark, d), 2)
            out[name][tag] = {k: round(min(v), 3) for k, v in samples.items()}
            print(f"# {name} {tag}: {out[name][tag]}", file=sys.stderr)
        g = {
            k: round(out[name]["sf10"][k] / out[name]["sf1"][k], 2)
            for k in out[name]["sf1"]
            if out[name]["sf1"][k]
        }
        out[name]["stage_growth"] = g
        print(f"# {name} growth: {g}", file=sys.stderr)
    path = os.path.join(ROOT, "SCALE_SF10.json")
    rec = json.load(open(path))
    rec["stage_profile"] = out
    json.dump(rec, open(path, "w"), indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
