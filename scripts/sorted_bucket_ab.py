"""A/B probe: plain-parquet vs bucketed+SORTED-table forms of the
window-sort-bound slots (r13, verdict item 3).

SCALE_SF10's stage profiles attribute q_flatten_softmax's 6.24x and
q_pad_fill_none's 6.14x sf10 growth to the deterministic-ORD window
Sort (comparator CPU, not spill; partition-count A/B <7%). SURVEY §4
names "bucket + sort at write" as the 100 TB fix; this script measures
it: plans.common.sorted_lineitem builds a lineitem table bucketed on
l_orderkey and sortBy'd on (l_orderkey, *ORD) with one file per
bucket, the legacy bucketed-scan-ordering conf lets the scan advertise
the order, and Catalyst elides the comparator Sort entirely
(tests/test_plans.py::test_sorted_bucket_table_elides_window_sort pins
the plan shape and row parity).

Records per dir: min-of-2 walls for each slot in both forms, the
one-off sorted-table write cost (amortized over every downstream
query at 100 TB), and the sorted-form growth factors. Results merge
into SCALE_SF10.json under ``sorted_bucket_ab``.

Usage: python scripts/sorted_bucket_ab.py [sf_dir ...]
(defaults to /root/testdata/sf0.1, .scaledata/sf1, .scaledata/sf10)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SLOTS = ("q_flatten_softmax", "q_pad_fill_none")


def main() -> None:
    from dask_awkward_sandbox_spark.plans import nested as N
    from dask_awkward_sandbox_spark.plans.common import (
        SORTED_SCAN_CONF,
        sorted_lineitem,
    )
    from dask_awkward_sandbox_spark.session import scoped_conf
    from dask_awkward_sandbox_spark.session import get_spark

    dirs = sys.argv[1:] or [
        d
        for d in (
            "/root/testdata/sf0.1",
            "/root/repo/.scaledata/sf1",
            "/root/repo/.scaledata/sf10",
        )
        if os.path.isdir(os.path.join(d, "lineitem.parquet"))
        or os.path.isfile(os.path.join(d, "lineitem.parquet"))
    ]
    spark = get_spark("sorted-bucket-ab")
    spark.sparkContext.setLogLevel("ERROR")
    fns = {s: getattr(N, s) for s in SLOTS}
    out: dict[str, dict] = {}
    for d in dirs:
        tag = d.rstrip("/").rsplit("/", 1)[-1]
        t0 = time.perf_counter()
        table = sorted_lineitem(spark, d, num_buckets=32)
        build_s = round(time.perf_counter() - t0, 3)
        rec: dict = {"table_build_s": build_s}
        for slot, fn in fns.items():
            walls: dict[str, float] = {}
            for form, base in (("plain", None), ("sorted_table", table)):
                best = None
                for _ in range(2):
                    spark.catalog.clearCache()
                    t0 = time.perf_counter()
                    # r14 (advice): the ordering conf is scoped per
                    # read now, never session-sticky
                    with scoped_conf(spark, SORTED_SCAN_CONF, "true"):
                        fn(spark, d, base=base).write.format("noop").mode(
                            "overwrite"
                        ).save()
                    dt = time.perf_counter() - t0
                    best = dt if best is None else min(best, dt)
                walls[form] = round(best, 3)
            walls["sorted_over_plain"] = round(
                walls["sorted_table"] / walls["plain"], 2
            )
            rec[slot] = walls
            print(f"# {slot} {tag}: {walls}", file=sys.stderr)
        out[tag] = rec
    for slot in SLOTS:
        lo, hi = "sf0.1", "sf10"
        if lo in out and hi in out:
            out.setdefault("growth_sf10_vs_sf0.1", {})[slot] = {
                "plain": round(out[hi][slot]["plain"] / out[lo][slot]["plain"], 2),
                "sorted_table": round(
                    out[hi][slot]["sorted_table"] / out[lo][slot]["sorted_table"],
                    2,
                ),
            }
    print(json.dumps({"slots": list(SLOTS), "walls": out}))
    # merge into the durable record
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "SCALE_SF10.json")
    if os.path.isfile(path):
        rec = json.load(open(path))
        rec["sorted_bucket_ab"] = out
        json.dump(rec, open(path, "w"), indent=1)


if __name__ == "__main__":
    main()
