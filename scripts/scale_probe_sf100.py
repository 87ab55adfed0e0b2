"""sf100 (1000x) probe of the ITERATIVE cluster paths (r6; r5 verdict
item 4). The 100 TB claim for minhash / embedding cluster collapse
rests on iteration-count scaling: each label-propagation round is two
bounded shuffles, so total cost is rounds x linear work — but rounds
were never measured past sf10. This probe derives sf100 (~21 GB, 1000
decorrelated copies of the driver's sf0.1) and records, at sf1 / sf10
/ sf100:

- WALL and ITERATION COUNT, the per-round changed-label and
  contracted-edge traces and the jump-only collapse rounds for the two
  registered cluster collapses (same parameters as the gate slots
  q_dedup_minhash_clusters / q_embedding_neardup). Both run the one
  loop in similarity.connected_components and report the same stats
  keys; minhash ``iterations`` no longer counts a final zero-change
  round (SCALE_SF100.json predates this and still does). Components
  are within-copy by construction (cross-copy shingles are disjoint,
  cross-copy cosines ~0), so component DIAMETER must not grow with
  corpus size and rounds should stay flat — that flatness is the
  measurement.
- q1_pricing_summary / q18_large_orders at sf100 as scan/shuffle-agg
  controls (min-of-2), with growth vs their SCALE_SF10.json numbers.

Derivation: sf100 comes FROM sf10 (10 more decorrelated copies) with
key offset 1e9 (sf10 keys reach ~1e9) and CUMULATIVE file factor 100
(file counts must scale with total copies — a parquet scan cannot
split within a row group; see make_scaled_sf.py).

Writes one JSON line to stdout and SCALE_SF100.json at the repo root.
Cluster ops run one rep per scale (10+ min each at sf100; the
iteration trace, not the wall, is the signal). Every wall goes through
bench.timed, so the cache is cleared before each timed call.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import noop, timed  # noqa: E402

SF1_DIR = os.path.join(ROOT, ".scaledata", "sf1")
SF10_DIR = os.path.join(ROOT, ".scaledata", "sf10")
SF100_DIR = os.path.join(ROOT, ".scaledata", "sf100")


def _ensure_datasets(spark) -> None:
    from scripts.make_scaled_sf import scale

    for d, copies in ((SF1_DIR, 10), (SF10_DIR, 100)):
        if not os.path.isdir(os.path.join(d, "lineitem.parquet")):
            scale("/root/testdata/sf0.1", d, copies, spark=spark)
    if not os.path.isdir(os.path.join(SF100_DIR, "lineitem.parquet")):
        scale(SF10_DIR, SF100_DIR, 10, spark=spark,
              off=1_000_000_000, file_factor=100)


def main() -> None:
    from dask_awkward_sandbox_spark.functions import dedup, similarity
    from dask_awkward_sandbox_spark.plans import QUERIES
    from dask_awkward_sandbox_spark.plans.llm import (
        EMB_DIM,
        LSH_TABLES,
        NUM_PERMS,
        _docs,
        _emb,
    )
    from dask_awkward_sandbox_spark.session import get_spark

    spark = get_spark("sf100-probe")
    spark.sparkContext.setLogLevel("ERROR")
    _ensure_datasets(spark)

    out = {"metric": "sf100_probe", "unit": "sec", "sf100_dir": SF100_DIR}

    # --- iterative cluster ops: wall + iteration counts at 3 scales ---
    def minhash_clusters(d, stats):
        return dedup.minhash_dedup_clusters(
            _docs(spark, d), "text", "doc_id",
            num_perms=NUM_PERMS, bands=4, stats=stats,
        )

    def neardup_clusters(d, stats):
        return similarity.embedding_neardup_clusters(
            _emb(spark, d), dim=EMB_DIM, threshold=0.4, tables=LSH_TABLES,
            stats=stats,
        )

    clusters = {}
    for op_name, build in (("minhash_clusters", minhash_clusters),
                           ("embedding_neardup_clusters", neardup_clusters)):
        # warmup at the driver's sf0.1 (bench.py's policy: the wall
        # should measure plan execution, not first-call codegen/JIT —
        # and, r10, first-ever Python-worker spawn for the Arrow
        # bucket kernel, which read as +4s of fake sf1 wall)
        noop(build("/root/testdata/sf0.1", {}))
        per_scale = {}
        for sf_name, d in (("sf1", SF1_DIR), ("sf10", SF10_DIR),
                           ("sf100", SF100_DIR)):
            stats: dict = {}
            wall = round(timed(spark, {sf_name: lambda: build(d, stats)}, 1)[sf_name][0], 3)
            per_scale[sf_name] = {
                "wall": wall,
                "iterations": stats.get("iterations"),
                "changed_per_round": stats.get("changed"),
                "edges_per_round": stats.get("edges_per_round"),
                "post_collapse_rounds": stats.get("post_collapse_rounds"),
            }
            print(f"# {op_name} @ {sf_name}: {wall}s, "
                  f"iters={stats.get('iterations')}, "
                  f"changed={stats.get('changed')}, "
                  f"edges={stats.get('edges_per_round')}, "
                  f"collapse={stats.get('post_collapse_rounds')}", file=sys.stderr)
        g10 = round(per_scale["sf10"]["wall"] / per_scale["sf1"]["wall"], 2)
        g100 = round(per_scale["sf100"]["wall"] / per_scale["sf10"]["wall"], 2)
        clusters[op_name] = {
            **per_scale,
            "growth_sf10_vs_sf1": g10,
            "growth_sf100_vs_sf10": g100,
            "iterations_flat": (
                per_scale["sf100"]["iterations"] is not None
                and per_scale["sf1"]["iterations"] is not None
                and per_scale["sf100"]["iterations"]
                <= per_scale["sf1"]["iterations"] + 2
            ),
        }
    out["clusters"] = clusters

    # --- r11 (verdict item 2): stage decomposition of the embedding
    # collapse — bucketing / edge build / verify / CC walls at every
    # scale (profiled runs add materialization barriers, so these
    # walls are for ATTRIBUTION; the unprofiled walls above grade) ---
    stage_prof = {}
    for sf_name, d in (("sf1", SF1_DIR), ("sf10", SF10_DIR),
                       ("sf100", SF100_DIR)):
        prof: dict = {}
        stats: dict = {}
        wall = timed(spark, {sf_name: lambda: similarity.embedding_neardup_clusters(
            _emb(spark, d), dim=EMB_DIM, threshold=0.4, tables=LSH_TABLES,
            stats=stats, profile=prof,
        )}, 1)[sf_name][0]
        prof["wall_profiled"] = round(wall, 3)
        prof["iterations"] = stats.get("iterations")
        stage_prof[sf_name] = prof
        print(f"# embedding stages @ {sf_name}: {prof}", file=sys.stderr)
    out["embedding_stage_profile"] = stage_prof

    # plane-cap CONTROL at sf100: re-run with sf10's plane count (the
    # occupancy-capped alternative the r10 verdict proposed) and
    # record wall + how many vectors land in a DIFFERENT cluster —
    # fewer planes = coarser buckets = more candidates verified, so
    # this measures whether plane growth is the superlinearity or a
    # recall-neutral constant
    capped = stage_prof["sf10"].get("planes")
    if capped and capped < stage_prof["sf100"].get("planes", 0):
        base_df = similarity.embedding_neardup_clusters(
            _emb(spark, SF100_DIR), dim=EMB_DIM, threshold=0.4,
            tables=LSH_TABLES,
        ).localCheckpoint(eager=True)
        t0 = time.perf_counter()
        cap_df = similarity.embedding_neardup_clusters(
            _emb(spark, SF100_DIR), dim=EMB_DIM, threshold=0.4,
            tables=LSH_TABLES, planes=capped,
        ).localCheckpoint(eager=True)
        cap_wall = round(time.perf_counter() - t0, 3)
        from pyspark.sql import functions as F

        diff = (
            base_df.select("id", F.col("cluster").alias("c1"))
            .join(cap_df.select("id", F.col("cluster").alias("c2")), "id")
            .filter(F.col("c1") != F.col("c2"))
            .count()
        )
        out["plane_cap_control_sf100"] = {
            "planes": capped,
            "wall": cap_wall,
            "cluster_label_diffs": diff,
        }
        print(f"# plane-cap control @ sf100: planes={capped} "
              f"wall={cap_wall}s diffs={diff}", file=sys.stderr)

    # --- scan/shuffle controls at sf100, min-of-2 ---
    samples = timed(spark, {
        name: (lambda q=QUERIES[name]: q(spark, SF100_DIR))
        for name in ("q1_pricing_summary", "q18_large_orders")
    }, 2)
    controls = {name: round(min(s), 3) for name, s in samples.items()}
    print(f"# controls @ sf100: {controls}", file=sys.stderr)
    out["controls_sf100"] = controls
    sf10_path = os.path.join(ROOT, "SCALE_SF10.json")
    if os.path.exists(sf10_path):
        with open(sf10_path) as f:
            sf10 = json.load(f).get("sf10", {})
        out["controls_growth_sf100_vs_sf10"] = {
            k: round(v / sf10[k], 2) for k, v in controls.items() if k in sf10
        }

    with open(os.path.join(ROOT, "SCALE_SF100.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
