"""Snapshot-table MERGE-upsert contract on plain parquet
(io/lakehouse.py — the r5 verdict's item 5; Delta/Iceberg jars are
absent from the container, so the operational contract is proven on
the hash-bucket version-dir + manifest-log implementation): time
travel, exactly-once by batch id, CAS-serialized concurrent writers
and add-column schema evolution."""

from __future__ import annotations

import os

import pytest

from dask_awkward_sandbox_spark.io import lakehouse as lh


def _base(spark):
    return spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(100)], "id long, s string, n long"
    )


def _table(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# snapshot (manifest-log) tables — time travel + exactly-once by id
# ---------------------------------------------------------------------------


def test_snapshot_upsert_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "snap")
    lh.create_snapshot_table(_base(spark), path, ["id"], n_buckets=8)
    updates = spark.createDataFrame(
        [(5, "NEW", 555), (200, "ins", 2000)], "id long, s string, n long"
    )
    assert lh.snapshot_upsert(spark, path, updates, batch_id="b1")
    # latest: update applied
    now = lh.read_snapshot_table(spark, path)
    assert now.count() == 101
    assert now.filter("id = 5").collect()[0]["s"] == "NEW"
    # time travel: version 0 still shows the original row and no insert
    v0 = lh.read_snapshot_table(spark, path, version=0)
    assert v0.count() == 100
    assert v0.filter("id = 5").collect()[0]["s"] == "v5"
    assert lh.list_snapshot_versions(path) == [0, 1]


def test_snapshot_replay_is_metadata_noop(spark, tmp_path):
    path = str(tmp_path / "snap")
    lh.create_snapshot_table(_base(spark), path, ["id"], n_buckets=8)
    updates = spark.createDataFrame([(7, "x", 1)], "id long, s string, n long")
    assert lh.snapshot_upsert(spark, path, updates, batch_id="batch-42") is True
    versions_after_first = lh.list_snapshot_versions(path)
    # replay: same batch id -> no new version, no IO, False
    assert lh.snapshot_upsert(spark, path, updates, batch_id="batch-42") is False
    assert lh.list_snapshot_versions(path) == versions_after_first
    got = _table(lh.read_snapshot_table(spark, path))
    assert [r for r in got if r[0] == 7] == [(7, "x", 1)]


def test_snapshot_merge_touches_only_owned_dirs(spark, tmp_path):
    """A merge writes ONLY its touched buckets into the new version
    dir; untouched buckets keep pointing at their old dirs."""
    import json
    import os

    path = str(tmp_path / "snap")
    lh.create_snapshot_table(_base(spark), path, ["id"], n_buckets=8)
    updates = spark.createDataFrame([(5, "NEW", 555)], "id long, s string, n long")
    lh.snapshot_upsert(spark, path, updates)
    with open(os.path.join(path, "_manifests", "v00000001.json")) as f:
        m = json.load(f)
    owners = set(m["buckets"].values())
    # r8: the new-version data dir carries a writer-unique suffix
    # (concurrent writers must never target the same directory)
    v1 = [d for d in owners if d.startswith("v1")]
    assert len(v1) == 1 and owners == {"v0", v1[0]}, owners
    assert sum(1 for v in m["buckets"].values() if v == v1[0]) == 1
    # the v1 dir holds exactly one bucket directory
    v1_buckets = [d for d in os.listdir(os.path.join(path, v1[0]))
                  if d.startswith(lh.BUCKET_COL)]
    assert len(v1_buckets) == 1


def test_snapshot_publish_is_cas(tmp_path):
    """The manifest publish is an atomic create — a pre-existing
    version file means a concurrent writer won, surfaced as
    SnapshotConflict (never a silent overwrite)."""
    import json
    import os

    path = str(tmp_path / "snap")
    os.makedirs(os.path.join(path, lh.MANIFEST_DIR))
    winner = {"version": 1, "keys": ["id"], "n_buckets": 2,
              "buckets": {}, "applied_batches": ["w"], "schema": None}
    lh._publish_manifest(path, winner)
    loser = dict(winner, applied_batches=["l"])
    with pytest.raises(lh.SnapshotConflict):
        lh._publish_manifest(path, loser)
    # the winner's content is untouched by the losing attempt
    with open(lh._manifest_file(path, 1)) as f:
        assert json.load(f)["applied_batches"] == ["w"]


def test_snapshot_concurrent_writers_serialize(spark, tmp_path, monkeypatch):
    """Two interleaved snapshot_upsert writers: A reads the manifest,
    then B commits first; A's publish loses the CAS, rereads the NEW
    latest (so its merge sees B's buckets), and retries to v2. Both
    writers' rows land; A's orphaned first-attempt data dir is
    removed."""
    import os

    path = str(tmp_path / "snap")
    lh.create_snapshot_table(_base(spark), path, ["id"], n_buckets=8)

    upd_b = spark.createDataFrame([(300, "B", 3)], "id long, s string, n long")
    upd_a = spark.createDataFrame(
        [(5, "A", 5), (301, "A", 4)], "id long, s string, n long"
    )

    stale = lh._read_manifest(path)  # what writer A read before B ran
    assert lh.snapshot_upsert(spark, path, upd_b, batch_id="B")  # B commits v1

    real_read = lh._read_manifest
    calls = {"n": 0}

    def first_read_is_stale(p, version=None):
        calls["n"] += 1
        if calls["n"] == 1:
            return stale  # A's in-flight view from before B's commit
        return real_read(p, version)

    monkeypatch.setattr(lh, "_read_manifest", first_read_is_stale)
    assert lh.snapshot_upsert(spark, path, upd_a, batch_id="A")  # retries to v2
    monkeypatch.setattr(lh, "_read_manifest", real_read)

    assert lh.list_snapshot_versions(path) == [0, 1, 2]
    got = {r[0]: r[1] for r in _table(lh.read_snapshot_table(spark, path))}
    assert got[300] == "B" and got[301] == "A" and got[5] == "A"
    assert len(got) == 102
    # every on-disk data dir is referenced by some manifest (the losing
    # attempt's dir was cleaned up)
    referenced = set()
    for v in lh.list_snapshot_versions(path):
        referenced.update(lh._read_manifest(path, v)["buckets"].values())
    on_disk = {d for d in os.listdir(path)
               if d.startswith("v") and d != lh.MANIFEST_DIR}
    assert on_disk <= referenced, (on_disk, referenced)


def test_snapshot_disjoint_conflict_rebases_without_rewrite(spark, tmp_path, monkeypatch):
    """r14 (logical conflict detection — the Delta commit-protocol
    move the CAS probe motivated): a writer that loses the version
    CAS to a winner on DISJOINT buckets must re-publish its
    already-written data dir at the next version (no re-merge, no
    data rewrite — provable from the dir name keeping its original
    version prefix), while a winner that rewrote one of the loser's
    TOUCHED buckets must force the full re-merge so the winner's rows
    survive."""
    import os

    path = str(tmp_path / "snap")
    lh.create_snapshot_table(_base(spark), path, ["id"], n_buckets=8)
    # map some candidate ids to buckets so the two scenarios are exact
    cand = spark.createDataFrame([(i,) for i in range(400, 440)], "id long")
    b_of = {r["id"]: r[lh.BUCKET_COL] for r in
            lh._with_bucket(cand, ["id"], 8).collect()}
    ids = sorted(b_of)
    a_id = ids[0]
    disjoint_id = next(i for i in ids if b_of[i] != b_of[a_id])
    same_bucket_id = next(i for i in ids[1:] if b_of[i] == b_of[a_id])

    # --- scenario 1: disjoint winner -> rebase, same data dir ---
    stale = lh._read_manifest(path)
    upd_b = spark.createDataFrame([(disjoint_id, "B", 1)], "id long, s string, n long")
    assert lh.snapshot_upsert(spark, path, upd_b, batch_id="B")  # v1

    real_read = lh._read_manifest
    calls = {"n": 0}

    def first_read_is_stale(p, version=None):
        calls["n"] += 1
        return stale if calls["n"] == 1 else real_read(p, version)

    monkeypatch.setattr(lh, "_read_manifest", first_read_is_stale)
    upd_a = spark.createDataFrame([(a_id, "A", 1)], "id long, s string, n long")
    assert lh.snapshot_upsert(spark, path, upd_a, batch_id="A")  # v2 via rebase
    monkeypatch.setattr(lh, "_read_manifest", real_read)

    m2 = lh._read_manifest(path)
    assert m2["version"] == 2
    # the dir owning A's bucket carries the ORIGINAL v1_ prefix: the
    # losing attempt's data was republished, never rewritten
    a_dir = m2["buckets"][str(b_of[a_id])]
    assert a_dir.startswith("v1_"), a_dir
    assert m2["buckets"][str(b_of[disjoint_id])] != a_dir

    # --- scenario 2: same-bucket winner -> full re-merge ---
    stale2 = lh._read_manifest(path)
    upd_c = spark.createDataFrame([(same_bucket_id, "C", 1)], "id long, s string, n long")
    assert lh.snapshot_upsert(spark, path, upd_c, batch_id="C")  # v3

    calls2 = {"n": 0}

    def first_read_is_stale2(p, version=None):
        calls2["n"] += 1
        return stale2 if calls2["n"] == 1 else real_read(p, version)

    monkeypatch.setattr(lh, "_read_manifest", first_read_is_stale2)
    upd_d = spark.createDataFrame([(a_id, "D", 2)], "id long, s string, n long")
    assert lh.snapshot_upsert(spark, path, upd_d, batch_id="D")  # v4, re-merged
    monkeypatch.setattr(lh, "_read_manifest", real_read)

    got = {r[0]: r[1] for r in _table(lh.read_snapshot_table(spark, path))}
    # C's row survived D's retry (a stale republish would have dropped
    # it — the hazard the touched-bucket owner check exists for)
    assert got[same_bucket_id] == "C"
    assert got[a_id] == "D" and got[disjoint_id] == "B"
    # no orphans
    referenced = set()
    for v in lh.list_snapshot_versions(path):
        referenced.update(lh._read_manifest(path, v)["buckets"].values())
    on_disk = {d for d in os.listdir(path)
               if d.startswith("v") and d != lh.MANIFEST_DIR}
    assert on_disk <= referenced, (on_disk, referenced)


# ---------------------------------------------------------------------------
# Schema evolution (r9)
# ---------------------------------------------------------------------------


def test_snapshot_schema_evolution_add_column(spark, tmp_path):
    """v0 has (id, s, n); v1 adds nullable 'lang'. Time travel reads
    each version under ITS OWN schema: v0 shows 2+1 columns, v1 shows
    the new column with NULL backfill on untouched rows."""
    path = str(tmp_path / "snap")
    lh.create_snapshot_table(_base(spark), path, ["id"], n_buckets=8)

    upd = spark.createDataFrame(
        [(5, "five", 50, "en"), (200, "new", 2, "fr")],
        "id long, s string, n long, lang string",
    )
    assert lh.snapshot_upsert(spark, path, upd, batch_id="evolve")

    v1 = lh.read_snapshot_table(spark, path)
    assert v1.columns == ["id", "s", "n", "lang"]
    by_id = {r["id"]: r for r in v1.collect()}
    assert len(by_id) == 101
    assert by_id[5]["lang"] == "en" and by_id[5]["s"] == "five"
    assert by_id[200]["lang"] == "fr"
    # rows still owned by the v0 dir NULL-backfill the new column
    assert by_id[7]["lang"] is None and by_id[7]["s"] == "v7"

    # v0 time travel: the added column does not exist there
    v0 = lh.read_snapshot_table(spark, path, version=0)
    assert v0.columns == ["id", "s", "n"]
    assert v0.count() == 100


def test_snapshot_schema_evolution_narrow_batch_and_type_conflict(spark, tmp_path):
    path = str(tmp_path / "snap")
    lh.create_snapshot_table(_base(spark), path, ["id"], n_buckets=8)

    # a batch OMITTING a column: its rows get NULL there, schema keeps it
    narrow = spark.createDataFrame([(3, "three")], "id long, s string")
    assert lh.snapshot_upsert(spark, path, narrow, batch_id="narrow")
    by_id = {r["id"]: r for r in lh.read_snapshot_table(spark, path).collect()}
    assert by_id[3]["n"] is None and by_id[3]["s"] == "three"
    assert by_id[4]["n"] == 40

    # type change on a shared column is a directed error
    bad = spark.createDataFrame([(1, "x", "oops")], "id long, s string, n string")
    with pytest.raises(lh.SchemaEvolutionError, match="column 'n'"):
        lh.snapshot_upsert(spark, path, bad, batch_id="bad")

    # a batch missing the MERGE KEY is a directed error, not a backfill
    keyless = spark.createDataFrame([("x",)], "s string")
    with pytest.raises(ValueError, match="merge key"):
        lh.snapshot_upsert(spark, path, keyless, batch_id="keyless")


def test_snapshot_concurrent_evolution_rebases_or_conflicts(spark, tmp_path, monkeypatch):
    """Writer A (adding col 'a') loses the CAS to writer B (adding col
    'b'): A's retry re-reads B's manifest and rebases, so the final
    schema holds BOTH columns. If instead both add the SAME column
    with different types, the loser gets the directed conflict."""
    path = str(tmp_path / "snap")
    lh.create_snapshot_table(_base(spark), path, ["id"], n_buckets=8)

    stale = lh._read_manifest(path)
    upd_b = spark.createDataFrame([(400, "B", 1, 9.5)], "id long, s string, n long, b double")
    assert lh.snapshot_upsert(spark, path, upd_b, batch_id="B")

    real_read = lh._read_manifest
    calls = {"n": 0}

    def first_read_is_stale(p, version=None):
        calls["n"] += 1
        return stale if calls["n"] == 1 else real_read(p, version)

    monkeypatch.setattr(lh, "_read_manifest", first_read_is_stale)
    upd_a = spark.createDataFrame([(401, "A", 2, True)], "id long, s string, n long, a boolean")
    assert lh.snapshot_upsert(spark, path, upd_a, batch_id="A")
    monkeypatch.setattr(lh, "_read_manifest", real_read)

    out = lh.read_snapshot_table(spark, path)
    assert out.columns == ["id", "s", "n", "b", "a"]
    by_id = {r["id"]: r for r in out.collect()}
    assert by_id[400]["b"] == 9.5 and by_id[400]["a"] is None
    assert by_id[401]["a"] is True and by_id[401]["b"] is None

    # same-name different-type concurrent adds: loser conflicts
    stale2 = lh._read_manifest(path)
    upd_c = spark.createDataFrame([(402, "C", 3, "s")], "id long, s string, n long, c string")
    assert lh.snapshot_upsert(spark, path, upd_c, batch_id="C")
    calls["n"] = 0
    monkeypatch.setattr(lh, "_read_manifest", first_read_is_stale)
    # reuse the stale-read shim with the NEW stale manifest
    stale = stale2
    upd_d = spark.createDataFrame([(403, "D", 4, 7)], "id long, s string, n long, c long")
    with pytest.raises(lh.SchemaEvolutionError, match="column 'c'"):
        lh.snapshot_upsert(spark, path, upd_d, batch_id="D")
