"""``plans.common.stage_replay``: the staged two-file replay input of
the streaming gate slots is built once per key, beside its marker, and
replays its second frame in a later micro-batch than its first."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dask_awkward_sandbox_spark.plans.common import stage_replay


def _frames(spark, calls: list):
    def frames():
        calls.append(1)
        ids = spark.range(0, 20)
        return ids.filter(F.col("id") < 10), ids.filter(F.col("id") >= 10)

    return frames


def test_matching_key_reuses_dir_without_calling_frames(spark, tmp_path):
    path = str(tmp_path / "in")
    calls: list = []
    stage_replay(path, "k1", _frames(spark, calls))
    assert calls == [1]
    files = sorted(os.listdir(path))
    stage_replay(path, "k1", _frames(spark, calls))
    assert calls == [1]
    assert sorted(os.listdir(path)) == files


def test_changed_key_rebuilds_dir(spark, tmp_path):
    path = str(tmp_path / "in")
    calls: list = []
    stage_replay(path, "k1", _frames(spark, calls))
    stray = os.path.join(path, "stray.json")
    with open(stray, "w") as f:
        f.write('{"id": 99}\n')
    stage_replay(path, "k2", _frames(spark, calls))
    assert calls == [1, 1]
    assert not os.path.exists(stray)
    assert spark.read.json(path).count() == 20
    markers = [n for n in os.listdir(tmp_path) if n.startswith("in.staged_")]
    assert len(markers) == 1  # the old key's marker is gone


def test_marker_sits_beside_dir(spark, tmp_path):
    path = str(tmp_path / "in")
    stage_replay(path, "k1", _frames(spark, []))
    entries = set(os.listdir(tmp_path))
    markers = {n for n in entries if n.startswith("in.staged_")}
    assert len(markers) == 1 and entries == {"in"} | markers
    assert not [n for n in os.listdir(path) if "staged" in n]
    assert sorted(r["id"] for r in spark.read.json(path).collect()) == list(range(20))


def test_second_frame_arrives_in_later_micro_batch(spark, tmp_path):
    from dask_awkward_sandbox_spark.streaming.events import (
        drive_batches,
        write_batch_partition,
    )

    path = str(tmp_path / "in")
    stage_replay(path, "k1", _frames(spark, []))
    out = str(tmp_path / "out")
    drive_batches(
        spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).json(path),
        lambda df, batch_id: write_batch_partition(df, batch_id, out),
        "stage_replay_test",
        str(tmp_path / "ckpt"),
    )
    batch_of = {r["id"]: r["batch_id"] for r in spark.read.parquet(out).collect()}
    assert sorted(batch_of) == list(range(20))
    assert max(batch_of[i] for i in range(10)) < min(batch_of[i] for i in range(10, 20))
