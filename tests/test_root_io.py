"""ROOT/TTree ingestion plumbing (io/root.py).

The decode backend is the deterministic SyntheticNanoBackend (uproot
is not in this container); everything around it — entry-range
planning, the task-per-partition layout, branch pruning, the Arrow
hand-off, composition with jagged operators — is the real code the
uproot backend would run through unchanged.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dask_awkward_sandbox_spark.functions.multimodal import DecodeUnavailable
from dask_awkward_sandbox_spark.io.root import (
    SyntheticNanoBackend,
    UprootBackend,
    from_root,
    plan_tasks,
)

FILES = {"/fake/dy_a.root": 23, "/fake/dy_b.root": 10, "/fake/empty.root": 0}


@pytest.fixture(scope="module")
def backend():
    return SyntheticNanoBackend(FILES)


def test_plan_tasks_slices_per_file(backend):
    tasks = plan_tasks(sorted(FILES), "Events", backend, step_size=10)
    # 23 -> [0,10),[10,20),[20,23); 10 -> [0,10); empty -> nothing
    assert tasks == [
        ("/fake/dy_a.root", 0, 10),
        ("/fake/dy_a.root", 10, 20),
        ("/fake/dy_a.root", 20, 23),
        ("/fake/dy_b.root", 0, 10),
    ]
    with pytest.raises(ValueError):
        plan_tasks(sorted(FILES), "Events", backend, step_size=0)


def test_from_root_rows_and_partitions(spark, backend):
    df = from_root(spark, sorted(FILES), backend=backend, step_size=10)
    # one task per partition: 4 tasks above
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 33
    assert df.columns == ["event", "nMuon", "Muon_pt", "Muon_eta"]
    # no duplicate/dropped entries across slice boundaries
    assert df.select("event").distinct().count() == 33


def test_branch_pruning_reaches_backend(spark, backend):
    df = from_root(
        spark, "/fake/dy_a.root", branches=["event", "Muon_pt"],
        backend=backend, step_size=100,
    )
    # schema is exactly the requested branches, in request order —
    # the backend only ever saw (and built) those two columns
    assert df.columns == ["event", "Muon_pt"]
    assert df.count() == 23


def test_branch_regex_filter(spark, backend):
    df = from_root(
        spark, "/fake/dy_b.root", branches=r"Muon_.*",
        backend=backend, step_size=100,
    )
    assert df.columns == ["Muon_pt", "Muon_eta"]
    with pytest.raises(ValueError, match="matched nothing"):
        from_root(spark, "/fake/dy_b.root", branches=r"Electron_.*", backend=backend)


def test_values_match_formula_and_jagged_ops_compose(spark, backend):
    df = from_root(spark, sorted(FILES), backend=backend, step_size=7)
    # jagged len == scalar counter branch, via the structure operator
    from dask_awkward_sandbox_spark.operators import structure

    bad = df.filter(structure.num(F.col("Muon_pt")) != F.col("nMuon")).count()
    assert bad == 0
    got = df.agg(
        F.sum(F.aggregate("Muon_pt", F.lit(0.0), lambda a, x: a + x)).alias("s")
    ).collect()[0]["s"]
    exp = sum(
        sum(SyntheticNanoBackend.row(p, i)["Muon_pt"])
        for p, n in FILES.items()
        for i in range(n)
    )
    assert got == pytest.approx(exp, rel=1e-12)


def test_unknown_tree_and_empty_inputs(spark, backend):
    with pytest.raises(KeyError):
        from_root(spark, "/fake/dy_a.root", tree="Muons", backend=backend)
    with pytest.raises(ValueError, match="no entries"):
        from_root(spark, "/fake/empty.root", backend=backend)
    with pytest.raises(ValueError, match="at least one file"):
        from_root(spark, [], backend=backend)


def test_uproot_backend_gated():
    with pytest.raises(DecodeUnavailable, match="uproot"):
        UprootBackend().num_entries("/fake/x.root", "Events")


def test_necessary_branches_traces_downstream(spark, backend):
    """The Catalyst-as-typetracer projection (the reference's
    report_necessary_columns + uproot column projection,
    tests/test_inspect.py:85-95)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from dask_awkward_sandbox_spark.io.root import necessary_branches

    schema = from_arrow_schema(backend.arrow_schema("/fake/dy_a.root", "Events", None))

    def down(df):
        return df.select(
            "event", F.explode("Muon_pt").alias("pt")
        ).filter(F.col("pt") > 10.0)

    assert necessary_branches(spark, schema, down) == ["event", "Muon_pt"]
    # a plan touching nothing reads nothing
    assert necessary_branches(spark, schema, lambda df: df.select(F.lit(1).alias("x"))) == []


def test_necessary_branches_leaves_no_temp_dir(spark, backend, tmp_path, monkeypatch):
    """The zero-row probe lives in a temporary directory that is gone
    once the branch names are known."""
    import tempfile

    from pyspark.sql.pandas.types import from_arrow_schema

    from dask_awkward_sandbox_spark.io.root import necessary_branches

    schema = from_arrow_schema(backend.arrow_schema("/fake/dy_a.root", "Events", None))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert necessary_branches(spark, schema, lambda df: df.select("event")) == ["event"]
    assert list(tmp_path.iterdir()) == []


def test_from_root_projected_matches_unprojected(spark, backend):
    from dask_awkward_sandbox_spark.io.root import from_root_projected

    def down(df):
        return (
            df.select(F.explode("Muon_pt").alias("pt"))
            .agg(F.sum("pt").alias("s"), F.count(F.lit(1)).alias("n"))
        )

    got = from_root_projected(
        spark, sorted(FILES), down, backend=backend, step_size=10
    ).collect()[0]
    full = down(
        from_root(spark, sorted(FILES), backend=backend, step_size=10)
    ).collect()[0]
    assert (got["s"], got["n"]) == (full["s"], full["n"])

    # the projection really narrowed the source: a downstream that
    # whines if it sees extra columns proves only Muon_pt arrived
    seen = {}

    def spy(df):
        seen["cols"] = df.columns
        return df.select(F.explode("Muon_pt").alias("pt")).agg(F.sum("pt").alias("s"))

    from_root_projected(
        spark, "/fake/dy_b.root", spy, backend=backend
    ).collect()
    assert seen["cols"] == ["Muon_pt"]


def test_from_root_projected_count_only_keeps_one_branch(spark, backend):
    from dask_awkward_sandbox_spark.io.root import from_root_projected

    n = from_root_projected(
        spark, "/fake/dy_a.root", lambda df: df.select(F.lit(1).alias("one")),
        backend=backend,
    ).count()
    assert n == 23


# ---------------------------------------------------------------------------
# RawRootBackend: REAL byte decode (io/rootfile.py) — r8
# ---------------------------------------------------------------------------


def _write_flat(tmp_path, name="events.root", n=2500, compress=False,
                basket_entries=1000, tree="Events"):
    import numpy as np

    from dask_awkward_sandbox_spark.io.rootfile import write_root_flat

    path = str(tmp_path / name)
    seed = n * 7 + 13
    data = {
        "event": ("L", np.arange(seed, seed + n, dtype=np.int64)),
        "pt": ("D", (np.arange(n, dtype=np.float64) * 0.25 + 0.5)),
        "hlt": ("O", (np.arange(n) % 3 == 0)),
        "nhits": ("I", (np.arange(n, dtype=np.int32) % 7)),
    }
    write_root_flat(path, tree, data, basket_entries=basket_entries,
                    compress=compress)
    return path, data


@pytest.mark.parametrize("compress", [False, True, "lz4", "zstd", "lzma"])
def test_rawroot_roundtrip_values(spark, tmp_path, compress):
    """A generated flat-branch ROOT file (real TFile header + TKey
    chain + big-endian baskets, optionally zlib ZL or LZ4 L4 blocks)
    round-trips through from_root with exact value equality, across
    basket and entry-range boundaries."""
    import numpy as np

    from dask_awkward_sandbox_spark.io.root import RawRootBackend, from_root

    path, data = _write_flat(tmp_path, compress=compress)
    df = from_root(spark, path, tree="Events", step_size=700,
                   backend=RawRootBackend())
    got = df.orderBy("event").toPandas()
    assert len(got) == 2500
    np.testing.assert_array_equal(got["event"].to_numpy(), data["event"][1])
    np.testing.assert_array_equal(got["pt"].to_numpy(), data["pt"][1])
    np.testing.assert_array_equal(got["hlt"].to_numpy(), data["hlt"][1])
    np.testing.assert_array_equal(got["nhits"].to_numpy(), data["nhits"][1])


def test_rawroot_branch_pruning_and_multifile(spark, tmp_path):
    import numpy as np

    from dask_awkward_sandbox_spark.io.root import RawRootBackend, from_root

    p1, d1 = _write_flat(tmp_path, "a.root", n=1100)
    p2, d2 = _write_flat(tmp_path, "b.root", n=900)
    df = from_root(spark, [p1, p2], branches=["pt"], step_size=500,
                   backend=RawRootBackend())
    assert df.columns == ["pt"]
    got = sorted(r["pt"] for r in df.collect())
    want = sorted(np.concatenate([d1["pt"][1], d2["pt"][1]]).tolist())
    assert got == want


def test_rawroot_projected_prunes_to_touched_branch(spark, tmp_path):
    from dask_awkward_sandbox_spark.io.root import (
        RawRootBackend,
        from_root_projected,
    )

    path, data = _write_flat(tmp_path, n=800)
    out = from_root_projected(
        spark, path,
        lambda df: df.select((F.col("pt") * 2).alias("pt2")),
        backend=RawRootBackend(), step_size=300,
    )
    assert out.columns == ["pt2"]
    assert abs(sum(r["pt2"] for r in out.collect())
               - 2 * float(data["pt"][1].sum())) < 1e-9


def test_rawroot_error_surface(spark, tmp_path):
    from dask_awkward_sandbox_spark.io.root import RawRootBackend
    from dask_awkward_sandbox_spark.io.rootfile import RootFlatFile

    path, _ = _write_flat(tmp_path, n=50)
    be = RawRootBackend()
    with pytest.raises(KeyError, match="no tree"):
        be.num_entries(path, "NotATree")
    with pytest.raises(KeyError, match="unknown branches"):
        be.arrow_schema(path, "Events", ["nope"])
    bad = tmp_path / "bad.root"
    bad.write_bytes(b"nope" + b"\x00" * 96)
    with pytest.raises(ValueError, match="not a ROOT file"):
        RootFlatFile(str(bad))


def test_rawroot_foreign_compression_gated(tmp_path):
    """A mistagged basket must fail loudly, never decode garbage —
    patch a compressed file's ZL tag to each other algorithm's tag.
    XZ over non-xz bytes (r11: XZ now DECODES) must fail the .xz
    stream-magic check, a ZS tag over non-zstd bytes (r11: ZS
    DECODES) must fail the frame-magic check, and an L4 tag over
    non-LZ4 bytes (r10: L4 DECODES) must fail the XXH64 checksum —
    all directed ValueErrors instead of emitting garbage."""
    path, _ = _write_flat(tmp_path, n=100, compress=True)
    raw = bytearray(open(path, "rb").read())
    i = raw.find(b"ZL")
    assert i > 0
    from dask_awkward_sandbox_spark.io.rootfile import RootFlatFile

    xz = bytearray(raw)
    xz[i : i + 2] = b"XZ"
    open(path, "wb").write(bytes(xz))
    f = RootFlatFile(path)
    with pytest.raises(ValueError, match="invalid xz stream"):
        f.branch_array("event")

    zs = bytearray(raw)
    zs[i : i + 2] = b"ZS"
    open(path, "wb").write(bytes(zs))
    f = RootFlatFile(path)
    with pytest.raises(ValueError, match="magic"):
        f.branch_array("event")

    l4 = bytearray(raw)
    l4[i : i + 2] = b"L4"
    open(path, "wb").write(bytes(l4))
    f = RootFlatFile(path)
    with pytest.raises(ValueError, match="checksum"):
        f.branch_array("event")


def test_xxh64_reference_vectors():
    from dask_awkward_sandbox_spark.io.rootfile import xxh64

    # published xxHash reference values, seed 0
    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"a") == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc") == 0x44BC2CF5AD770999
    # seed changes the hash; 32-byte+ input exercises the lane loop
    assert xxh64(b"abc", seed=1) != xxh64(b"abc")
    assert xxh64(bytes(range(200))) != xxh64(bytes(range(199)) + b"\x00")


@pytest.mark.parametrize("delta", [7, 1, -1, -7], ids=lambda d: f"claims{d:+d}")
@pytest.mark.parametrize("compress", ["lz4", "zstd", "zlib", "lzma"])
def test_block_header_size_must_match_decode(compress, delta):
    """Every codec's block must decode to exactly the size its header
    claims. A header that claims more (delta > 0) or fewer (delta < 0)
    bytes than the block decodes to raises a directed ValueError:
    pyarrow's lz4_raw pads a short decode to the capacity it is given,
    so the "claims more" L4 cases pin the reader's short-capacity probe."""
    import numpy as np

    from dask_awkward_sandbox_spark.io.rootfile import _compress_block, _decompress

    raw = np.arange(500, dtype=">f8").tobytes()
    basket = bytearray(_compress_block(raw, compress))
    tag = bytes(basket[:2])
    assert tag == {"lz4": b"L4", "zstd": b"ZS", "zlib": b"ZL", "lzma": b"XZ"}[compress]
    assert _decompress(bytes(basket), len(raw)) == raw
    with pytest.raises(ValueError, match="key says"):
        _decompress(bytes(basket), len(raw) - 1)
    with pytest.raises(ValueError, match="truncated block"):
        _decompress(bytes(basket[:-1]), len(raw))
    claimed = len(raw) + delta
    basket[6:9] = claimed.to_bytes(3, "little")
    with pytest.raises(ValueError, match=f"{tag.decode()} block"):
        _decompress(bytes(basket), claimed)


def test_rawroot_gap_records_skipped(tmp_path):
    """Freed TKey slots (negative fNbytes) are gaps the key walk must
    skip — splice one between the header and the first key."""
    import struct

    import numpy as np

    path, data = _write_flat(tmp_path, n=40, basket_entries=40)
    raw = open(path, "rb").read()
    gap = struct.pack(">i", -64) + b"\x00" * 60
    patched = raw[:100] + gap + raw[100:]
    # shift fEND and every key's self-seek is unused by the walk;
    # rewrite header end field
    end = len(patched)
    patched = patched[:12] + struct.pack(">i", end) + patched[16:]
    open(path, "wb").write(patched)
    from dask_awkward_sandbox_spark.io.rootfile import RootFlatFile

    f = RootFlatFile(path)
    assert f.num_entries() == 40
    np.testing.assert_array_equal(f.branch_array("event"), data["event"][1])


def test_rawroot_jagged_leaf_counter_roundtrip(spark, tmp_path):
    """Leaf-counter jagged branches ("Muon_pt[nMuon]/D"): values are
    one flat big-endian stream, per-entry lengths come from the
    counter branch — round-trips to list<double> with exact values
    and list boundaries, across basket and entry-range cuts, and
    composes with jagged DataFrame ops (size == counter)."""
    import numpy as np

    from dask_awkward_sandbox_spark.io.root import RawRootBackend, from_root
    from dask_awkward_sandbox_spark.io.rootfile import write_root_flat

    n = 900
    rng = [(i * 13 + 5) % 4 for i in range(n)]
    pts = [[round(i + j * 0.5, 3) for j in range(c)] for i, c in enumerate(rng)]
    path = str(tmp_path / "jag.root")
    write_root_flat(
        path,
        "Events",
        {
            "event": ("L", np.arange(n, dtype=np.int64)),
            "nMuon": ("I", np.array(rng, dtype=np.int32)),
            "Muon_pt": ("[nMuon]D", pts),
        },
        basket_entries=250,
        compress=True,
    )
    df = from_root(spark, path, step_size=200, backend=RawRootBackend())
    got = df.orderBy("event").toPandas()
    assert list(got["nMuon"]) == rng
    assert [list(x) for x in got["Muon_pt"]] == pts
    assert (
        df.filter(F.size("Muon_pt") != F.col("nMuon")).count() == 0
    )


def test_rawroot_jagged_error_surface(tmp_path):
    import numpy as np

    from dask_awkward_sandbox_spark.io.rootfile import write_root_flat

    with pytest.raises(ValueError, match="needs flat counter"):
        write_root_flat(
            str(tmp_path / "x.root"), "Events",
            {"pt": ("[n]D", [[1.0], [2.0]])},
        )
    with pytest.raises(ValueError, match="lengths disagree"):
        write_root_flat(
            str(tmp_path / "y.root"), "Events",
            {
                "n": ("I", np.array([1, 2], dtype=np.int32)),
                "pt": ("[n]D", [[1.0], [2.0]]),
            },
        )


def test_rawroot_empty_file_contributes_no_tasks(spark, tmp_path):
    """A zero-entry file holds branch keys but no baskets; it must
    report 0 entries and be skipped by planning (the plan_tasks
    'empty files contribute no tasks' contract), not KeyError."""
    import numpy as np

    from dask_awkward_sandbox_spark.io.root import RawRootBackend, from_root
    from dask_awkward_sandbox_spark.io.rootfile import write_root_flat

    full, data = _write_flat(tmp_path, "full.root", n=60)
    empty = str(tmp_path / "empty.root")
    write_root_flat(
        empty, "Events",
        {"event": ("L", np.empty(0, dtype=np.int64)),
         "pt": ("D", np.empty(0, dtype=np.float64)),
         "hlt": ("O", np.empty(0, dtype=bool)),
         "nhits": ("I", np.empty(0, dtype=np.int32))},
    )
    be = RawRootBackend()
    assert be.num_entries(empty, "Events") == 0
    df = from_root(spark, [full, empty], branches=["event"], step_size=25,
                   backend=be)
    assert df.count() == 60


def test_rawroot_compression_coincidence_stores_raw(tmp_path):
    """When 9 + len(zlib(raw)) == len(raw) the framed payload is
    byte-length-indistinguishable from an uncompressed basket and
    would decode as garbage (r8 review finding) — the writer must
    fall back to raw storage whenever compression does not shrink.
    Seed 628 is a searched witness hitting the exact coincidence."""
    import numpy as np
    import zlib

    from dask_awkward_sandbox_spark.io.rootfile import RootFlatFile, write_root_flat

    rng = np.random.default_rng(628)
    k = int(rng.integers(4, 60))
    vals = np.concatenate([np.repeat(rng.random(), k), rng.random(64 - k)])
    raw = vals.astype(">f8").tobytes()
    assert 9 + len(zlib.compress(raw, 6)) == len(raw)  # the coincidence
    path = str(tmp_path / "c.root")
    write_root_flat(
        path, "Events",
        {"n": ("I", np.full(64, 1, dtype=np.int32)), "x": ("D", vals)},
        basket_entries=64, compress=True,
    )
    f = RootFlatFile(path)
    np.testing.assert_array_equal(f.branch_array("x"), vals)


@pytest.mark.parametrize("compress", [False, True, "lz4", "zstd", "lzma"])
def test_rawroot_basket_over_16mib_roundtrip(tmp_path, compress):
    """A block header's size fields are 3 bytes, so a basket of 16 MiB
    or more must split into blocks of at most 0xFFFFFF uncompressed
    bytes (ROOT's kMAXZIPBUF); one oversized block raised OverflowError
    in the writer. 17 MiB of runs of equal doubles keeps every codec
    cheap and the compressed file far under the raw size."""
    import os

    import numpy as np

    from dask_awkward_sandbox_spark.io.rootfile import RootFlatFile, write_root_flat

    n = 17 * 2**20 // 8
    vals = (np.arange(n) // 4096).astype(np.float64)
    path = str(tmp_path / "big.root")
    write_root_flat(
        path, "Events", {"x": ("D", vals)}, basket_entries=n, compress=compress
    )
    if compress:
        assert os.path.getsize(path) < n * 8 // 10
    np.testing.assert_array_equal(RootFlatFile(path).branch_array("x"), vals)


def test_rawroot_all_empty_jagged_reads(spark, tmp_path):
    """A valid file where a jagged branch is empty in EVERY entry has
    zero value baskets; the decoder's empty fallback must hand pyarrow
    a native-order array (r9 advice: the big-endian empty dtype made
    RawRootBackend.read crash with ArrowNotImplementedError)."""
    import numpy as np

    from dask_awkward_sandbox_spark.io.root import RawRootBackend, from_root
    from dask_awkward_sandbox_spark.io.rootfile import write_root_flat

    n = 30
    path = str(tmp_path / "allempty.root")
    write_root_flat(
        path, "Events",
        {
            "event": ("L", np.arange(n, dtype=np.int64)),
            "nMuon": ("I", np.zeros(n, dtype=np.int32)),
            "Muon_pt": ("[nMuon]D", [[] for _ in range(n)]),
        },
    )
    df = from_root(spark, path, step_size=10, backend=RawRootBackend())
    rows = df.orderBy("event").collect()
    assert len(rows) == n
    assert all(r["Muon_pt"] == [] for r in rows)


def test_write_root_flat_2gib_guard(tmp_path):
    """The small-file form packs 32-bit seeks; oversize writes must be
    a directed ValueError, not a struct.error mid-write (r9 advice).
    The guard function is shared by key_record and the fEND pack —
    drive it at the boundary, then confirm normal writes still work."""
    import numpy as np

    from dask_awkward_sandbox_spark.io import rootfile as rf

    rf._check_small_file_offset(2**31 - 1)  # boundary is fine
    with pytest.raises(ValueError, match="2 GiB"):
        rf._check_small_file_offset(2**31)
    path = str(tmp_path / "small.root")
    rf.write_root_flat(
        path, "Events", {"x": ("D", np.arange(10, dtype=np.float64))}
    )
    assert rf.RootFlatFile(path).num_entries() == 10


# ---------------------------------------------------------------------------
# Embedded-TTree-streamer layout (r9): branches ride inside the TTree
# key's payload, the layout real ROOT writes.
# ---------------------------------------------------------------------------


def _write_embedded(tmp_path, name="emb.root", n=600, compress=True):
    import numpy as np

    from dask_awkward_sandbox_spark.io.rootfile import write_root_flat

    nmu = np.array([(i * 11 + 2) % 5 for i in range(n)], dtype=np.int32)
    pts = [[round(i * 0.25 + j, 3) for j in range(int(c))] for i, c in enumerate(nmu)]
    data = {
        "event": ("L", np.arange(n, dtype=np.int64) + 7000),
        "nMuon": ("I", nmu),
        "Muon_pt": ("[nMuon]D", pts),
    }
    path = str(tmp_path / name)
    write_root_flat(path, "Events", data, basket_entries=150,
                    compress=compress, embed_tree=True)
    return path, data, pts


def test_embedded_tree_roundtrip_same_reader(spark, tmp_path):
    """A file in the embedded-streamer layout round-trips through the
    SAME from_root/RootFlatFile path that reads the standalone-key
    layout — flat + jagged values exact, tree registered from the
    TTree key, fEntries cross-checked against basket inference."""
    import numpy as np

    from dask_awkward_sandbox_spark.io.root import RawRootBackend, from_root
    from dask_awkward_sandbox_spark.io.rootfile import RootFlatFile

    path, data, pts = _write_embedded(tmp_path)
    f = RootFlatFile(path)
    assert f.trees == {"Events"}
    assert f._embedded_entries == 600
    assert f.num_entries() == 600

    df = from_root(spark, path, tree="Events", step_size=170,
                   backend=RawRootBackend())
    got = df.orderBy("event").toPandas()
    np.testing.assert_array_equal(got["event"].to_numpy(), data["event"][1])
    assert [list(x) for x in got["Muon_pt"]] == pts
    # wrong tree name errors even though branches parsed
    with pytest.raises(KeyError, match="no tree"):
        RawRootBackend().num_entries(path, "NotEvents")


def test_embedded_tree_zero_entry_declares_entries(tmp_path):
    import numpy as np

    from dask_awkward_sandbox_spark.io.rootfile import RootFlatFile, write_root_flat

    path = str(tmp_path / "empty.root")
    write_root_flat(
        path, "Events",
        {"event": ("L", np.empty(0, dtype=np.int64))}, embed_tree=True,
    )
    f = RootFlatFile(path)
    assert f.num_entries() == 0
    assert f.trees == {"Events"}  # known WITHOUT any basket


def test_embedded_tree_skips_unmodeled_members(tmp_path):
    """Byte-count-delimited skipping is the real-reader contract: a
    TBranch object carrying EXTRA members after TNamed (here: the
    fLeaves array plus trailing bytes the walker does not model) must
    still yield its name + leaflist, because the version header's byte
    count delimits the object."""
    import struct

    from dask_awkward_sandbox_spark.io import rootfile as rf

    # hand-build a TTree payload whose TBranch has 64 junk bytes after
    # the members the reader models
    branch_body = rf._w_tnamed("pt", "pt/D") + b"\xAB" * 64
    els = [("TBranch", rf._w_version(branch_body, 13))]
    body = rf._w_tnamed("Events", "") + struct.pack(">q", 5) + rf._w_objarray(els)
    payload = rf._w_version(body, 20)
    tree, entries, brs = rf._r_tree_payload(payload)
    assert (tree, entries) == ("Events", 5)
    assert brs == {"pt": "pt/D"}


def test_embedded_tree_backref_tag_gated(tmp_path):
    """Class/object back-reference tags (real ROOT emits them when a
    class repeats) are gated, not misdecoded."""
    import struct

    from dask_awkward_sandbox_spark.functions.multimodal import DecodeUnavailable
    from dask_awkward_sandbox_spark.io import rootfile as rf

    leaf = rf._w_version(rf._w_tnamed("pt", "pt/D"), 1)
    good = rf._w_version(rf._w_tnamed("pt", "pt/D") + rf._w_objarray([("TLeafD", leaf)]), 13)
    # build an objarray then corrupt the first element's class tag into
    # a back-reference (tag without the new-class bit pattern)
    arr = bytearray(rf._w_objarray([("TBranch", good)]))
    tagpos = arr.find(struct.pack(">I", rf._NEW_CLASS_TAG))
    arr[tagpos:tagpos + 4] = struct.pack(">I", 0x00000042)
    body = rf._w_tnamed("Events", "") + struct.pack(">q", 1) + bytes(arr)
    payload = rf._w_version(body, 20)
    with pytest.raises(DecodeUnavailable, match="back-reference"):
        rf._r_tree_payload(payload)


def test_embedded_tree_entry_mismatch_errors(tmp_path):
    """fEntries disagreeing with basket inference is corruption, not
    something to paper over."""
    import struct

    import numpy as np

    from dask_awkward_sandbox_spark.io.rootfile import RootFlatFile, write_root_flat

    path = str(tmp_path / "mis.root")
    write_root_flat(
        path, "Events",
        {"event": ("L", np.arange(10, dtype=np.int64))}, embed_tree=True,
    )
    raw = bytearray(open(path, "rb").read())
    # the int64 entry count follows the TTree payload's TNamed; find
    # the packed value 10 in the TTree key region and bump it
    pos = raw.find(struct.pack(">q", 10), 100)
    assert pos > 0
    raw[pos:pos + 8] = struct.pack(">q", 11)
    open(path, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="declares 11"):
        RootFlatFile(path).num_entries()


def test_rawroot_big_file_form_roundtrip(spark, tmp_path):
    """The >= 2 GiB form real HEP files use (r9): fVersion + 1000000
    header with 64-bit fEND/fSeekFree/fSeekInfo and version-1004 keys
    with 64-bit seeks. A small file written in the big form must
    round-trip through the SAME reader (header branch + parse_key's
    version>1000 path), including the Spark from_root path."""
    import struct

    import numpy as np

    from dask_awkward_sandbox_spark.io.root import RawRootBackend, from_root
    from dask_awkward_sandbox_spark.io.rootfile import RootFlatFile, write_root_flat

    n = 120
    nmu = np.array([(i * 3 + 1) % 4 for i in range(n)], dtype=np.int32)
    pts = [[i * 0.5 + j for j in range(int(c))] for i, c in enumerate(nmu)]
    path = str(tmp_path / "big.root")
    write_root_flat(
        path, "Events",
        {"event": ("L", np.arange(n, dtype=np.int64)),
         "nMuon": ("I", nmu), "Muon_pt": ("[nMuon]D", pts)},
        basket_entries=50, compress=True, embed_tree=True, big_file=True,
    )
    raw = open(path, "rb").read()
    assert struct.unpack_from(">i", raw, 4)[0] == 1_063_200  # big fVersion
    f = RootFlatFile(path)
    assert f.end == len(raw)  # 64-bit fEND parsed from the big header
    df = from_root(spark, path, step_size=40, backend=RawRootBackend())
    got = df.orderBy("event").toPandas()
    assert list(got["event"]) == list(range(n))
    assert [list(x) for x in got["Muon_pt"]] == pts


def test_rawroot_lz4_jagged_embedded_roundtrip(spark, tmp_path):
    """r10: L4 baskets (XXH64 + LZ4 block framing, decoded by the
    bundled liblz4) read back through the same RootFlatFile walk —
    combined with the embedded-TTree layout and leaf-counter jagged
    branches. The file must actually CONTAIN L4 frames (the repeating
    counter values always shrink), so the decode path is proven
    exercised, and corrupting one compressed byte must fail the
    checksum instead of decoding garbage."""
    import numpy as np

    from dask_awkward_sandbox_spark.io.root import RawRootBackend, from_root
    from dask_awkward_sandbox_spark.io.rootfile import RootFlatFile, write_root_flat

    n = 700
    nmu = np.array([(i * 5 + 2) % 4 for i in range(n)], dtype=np.int32)
    pts = [[round(i * 0.25 + j, 3) for j in range(int(c))]
           for i, c in enumerate(nmu)]
    path = str(tmp_path / "l4.root")
    write_root_flat(
        path, "Events",
        {"event": ("L", np.arange(n, dtype=np.int64)),
         "nMuon": ("I", nmu), "Muon_pt": ("[nMuon]D", pts)},
        basket_entries=200, compress="lz4", embed_tree=True,
    )
    raw = open(path, "rb").read()
    assert b"L4" in raw  # at least one basket really took the L4 path
    f = RootFlatFile(path)
    assert f.compress == 404  # fCompress = kLZ4*100 + level
    df = from_root(spark, path, step_size=300, backend=RawRootBackend())
    got = df.orderBy("event").toPandas()
    assert list(got["event"]) == list(range(n))
    assert list(got["nMuon"]) == list(nmu)
    assert [list(x) for x in got["Muon_pt"]] == pts

    # flip one byte inside the first L4 block body -> checksum catches
    i = raw.find(b"L4")
    bad = bytearray(raw)
    bad[i + 9 + 8 + 3] ^= 0xFF  # past header + checksum, inside the block
    open(path, "wb").write(bytes(bad))
    f2 = RootFlatFile(path)
    with pytest.raises(ValueError, match="checksum"):
        for b in f2.branches:
            f2.branch_array(b)


def _write_vector(tmp_path, name="vec.root", n=500, compress=False,
                  embed_tree=True, basket_entries=150):
    import numpy as np

    from dask_awkward_sandbox_spark.io.rootfile import write_root_flat

    path = str(tmp_path / name)
    counts = [(i * 7 + 3) % 5 for i in range(n)]
    pts = [[round(i * 0.5 + j * 0.25, 4) for j in range(c)]
           for i, c in enumerate(counts)]
    hits = [[(i + j) % 11 for j in range((i * 3) % 4)] for i in range(n)]
    write_root_flat(
        path, "Events",
        {"event": ("L", np.arange(n, dtype=np.int64)),
         "Trk_pt": ("vector<float>", pts),
         "Trk_hits": ("vector<int>", hits)},
        basket_entries=basket_entries, compress=compress,
        embed_tree=embed_tree,
    )
    return path, pts, hits


@pytest.mark.parametrize("embed_tree", [True, False])
@pytest.mark.parametrize("compress", [False, "lz4", "zstd", "lzma"])
def test_vector_branch_roundtrip_bytes(tmp_path, embed_tree, compress):
    """Simple-container TBranchElement branches (r10, verdict item 6):
    vector<float>/vector<int> write as per-entry version-header runs +
    basket entry-offset tables and read back exactly through the same
    RootFlatFile walk, in both metadata layouts, raw and compressed.
    float32 storage quantizes values, so expectations go through
    np.float32."""
    import numpy as np

    from dask_awkward_sandbox_spark.io.rootfile import RootFlatFile

    path, pts, hits = _write_vector(
        tmp_path, compress=compress, embed_tree=embed_tree
    )
    f = RootFlatFile(path)
    assert f.vectors == {"Trk_pt", "Trk_hits"}
    assert f.branches["Trk_pt"] == "F" and f.branches["Trk_hits"] == "I"
    assert f.num_entries() == 500
    want_pt = np.array([x for e in pts for x in e], dtype=np.float32)
    np.testing.assert_array_equal(f.branch_array("Trk_pt"), want_pt)
    assert list(f.branch_lengths("Trk_pt")) == [len(e) for e in pts]
    assert list(f.branch_array("Trk_hits")) == [x for e in hits for x in e]
    assert list(f.branch_lengths("Trk_hits")) == [len(e) for e in hits]


def test_vector_branch_from_root(spark, tmp_path):
    """Vector branches surface as list<elem> columns through
    from_root/RawRootBackend, across basket and entry-range cuts,
    composing with jagged DataFrame ops."""
    import numpy as np

    from dask_awkward_sandbox_spark.io.root import RawRootBackend, from_root

    path, pts, hits = _write_vector(tmp_path, compress="lz4")
    df = from_root(spark, path, tree="Events", step_size=120,
                   backend=RawRootBackend())
    got = df.orderBy("event").toPandas()
    assert len(got) == 500
    want = [list(np.asarray(e, dtype=np.float32)) for e in pts]
    assert [list(x) for x in got["Trk_pt"]] == want
    assert [list(x) for x in got["Trk_hits"]] == [list(e) for e in hits]
    n_vals = df.agg(F.sum(F.size("Trk_pt"))).collect()[0][0]
    assert n_vals == sum(len(e) for e in pts)


def test_vector_branch_error_surface(tmp_path):
    """Unsupported container classes stay gated with directed errors;
    a corrupted entry header fails loudly, not as garbage values."""
    import struct

    import numpy as np

    from dask_awkward_sandbox_spark.io.rootfile import (
        RootFlatFile,
        write_root_flat,
    )

    # r11: one-level nesting + vector<string> now decode; DEEPER
    # nesting stays gated in both writer and reader
    with pytest.raises(ValueError, match="unsupported leaf"):
        write_root_flat(
            str(tmp_path / "x.root"), "T",
            {"v": ("vector<vector<vector<float>>>", [[[1.0]]])},
        )

    path, _, _ = _write_vector(tmp_path, n=60, basket_entries=30)
    f = RootFlatFile(path)
    k = f.baskets["Trk_pt"][0]
    raw = bytearray(open(path, "rb").read())
    # flip the declared size int32 inside the first entry header
    hdr_off = k.seek + k.keylen + 6
    (size,) = struct.unpack_from(">I", raw, hdr_off)
    struct.pack_into(">I", raw, hdr_off, size + 1)
    open(path, "wb").write(bytes(raw))
    f2 = RootFlatFile(path)
    with pytest.raises(ValueError, match="header size disagrees"):
        f2.branch_array("Trk_pt")

    # a registered-but-foreign container class is a DIRECTED gate
    from dask_awkward_sandbox_spark.io.rootfile import _w_tree_payload

    payload = _w_tree_payload("T", {"v": "vector<float>"}, 0)
    patched = payload.replace(b"vector<float>", b"vector<TLorV>")
    from dask_awkward_sandbox_spark.io.rootfile import _r_tree_payload
    _t, _n, brs = _r_tree_payload(patched)
    stub = RootFlatFile.__new__(RootFlatFile)
    stub.branches, stub.counters, stub.vectors = {}, {}, set()
    with pytest.raises(DecodeUnavailable, match="vector<TLorV>"):
        for nm, title in brs.items():
            stub._register_branch(nm, title)


# ---------------------------------------------------------------------------
# r11: one-level nested containers — vector<vector<T>> and vector<string>
# ---------------------------------------------------------------------------


def _write_nested(tmp_path, name="nested.root", n=300, compress=False,
                  embed_tree=True, basket_entries=90):
    import numpy as np

    from dask_awkward_sandbox_spark.io.rootfile import write_root_flat

    path = str(tmp_path / name)
    # ragged-of-ragged: entry i has (i % 3) inner vectors, inner j has
    # (i + j) % 4 elements; plus a vector<string> with unicode + a
    # >=255-char string to hit the TString long escape
    vv = [
        [[round((i + j + k) * 0.25, 4) for k in range((i + j) % 4)]
         for j in range(i % 3)]
        for i in range(n)
    ]
    long_s = "x" * 300
    vs = [
        [f"tag{i}_{j}" if (i + j) % 7 else ("ünïcode·" + str(i))
         for j in range((i * 5) % 4)]
        + ([long_s] if i % 97 == 0 else [])
        for i in range(n)
    ]
    write_root_flat(
        path, "Events",
        {"event": ("L", np.arange(n, dtype=np.int64)),
         "Jet_pts": ("vector<vector<float>>", vv),
         "Evt_tags": ("vector<string>", vs)},
        basket_entries=basket_entries, compress=compress,
        embed_tree=embed_tree,
    )
    return path, vv, vs


@pytest.mark.parametrize("embed_tree", [True, False])
@pytest.mark.parametrize("compress", [False, "zlib", "lz4", "zstd", "lzma"])
def test_nested_vector_roundtrip_bytes(tmp_path, embed_tree, compress):
    """vector<vector<float>> and vector<string> branches (r11, verdict
    item 5) round-trip byte-exactly through the RootFlatFile walk —
    outer lengths from the entry-offset tables, inner lengths from the
    headerless inner runs, strings via the TString escape — in both
    metadata layouts and all four compressions."""
    import numpy as np

    from dask_awkward_sandbox_spark.io.rootfile import RootFlatFile

    path, vv, vs = _write_nested(
        tmp_path, compress=compress, embed_tree=embed_tree
    )
    f = RootFlatFile(path)
    assert f.nested_vectors == {"Jet_pts"}
    assert f.string_vectors == {"Evt_tags"}
    assert f.num_entries() == 300
    want_vals = np.array(
        [x for e in vv for inner in e for x in inner], dtype=np.float32
    )
    np.testing.assert_array_equal(f.branch_array("Jet_pts"), want_vals)
    assert list(f.branch_lengths("Jet_pts")) == [len(e) for e in vv]
    assert list(f.branch_inner_lengths("Jet_pts")) == [
        len(inner) for e in vv for inner in e
    ]
    assert list(f.branch_array("Evt_tags")) == [s for e in vs for s in e]
    assert list(f.branch_lengths("Evt_tags")) == [len(e) for e in vs]


def test_nested_vector_from_root(spark, tmp_path):
    """The nested shapes surface through from_root as
    list<list<float>> / list<string> Spark columns with exact values
    across task-slice boundaries."""
    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark.io.root import RawRootBackend, from_root

    path, vv, vs = _write_nested(tmp_path, compress="zstd")
    df = from_root(spark, path, tree="Events", step_size=70,
                   backend=RawRootBackend())
    assert dict(df.dtypes)["Jet_pts"] == "array<array<float>>"
    assert dict(df.dtypes)["Evt_tags"] == "array<string>"
    rows = {r["event"]: r for r in df.collect()}
    assert len(rows) == 300
    import math

    for i in (0, 69, 70, 151, 299):
        got = rows[i]["Jet_pts"]
        want = vv[i]
        assert len(got) == len(want)
        for g, w in zip(got, want):
            assert all(
                math.isclose(a, b, rel_tol=1e-6) for a, b in zip(g, w)
            ) and len(g) == len(w)
        assert rows[i]["Evt_tags"] == vs[i]
    # aggregate over the full file: total inner elements and strings
    n_el = df.agg(
        F.sum(F.aggregate("Jet_pts", F.lit(0), lambda a, x: a + F.size(x)))
    ).collect()[0][0]
    assert n_el == sum(len(inner) for e in vv for inner in e)
    n_s = df.agg(F.sum(F.size("Evt_tags"))).collect()[0][0]
    assert n_s == sum(len(e) for e in vs)


def test_nested_vector_error_surfaces(tmp_path):
    """Deeper nesting stays gated; a truncated inner run fails loudly."""
    import struct

    from dask_awkward_sandbox_spark.io.rootfile import RootFlatFile

    path, _, _ = _write_nested(tmp_path, n=60, basket_entries=30)
    f = RootFlatFile(path)
    k = f.baskets["Jet_pts"][0]
    raw = bytearray(open(path, "rb").read())
    # find the first entry with an inner run and inflate its inner size
    # word so it overruns the entry span: entry 1 has 1 inner vector —
    # its size int32 sits right after the 10-byte outer header
    lens = f.branch_lengths("Jet_pts")
    first = next(i for i, c in enumerate(lens) if c > 0)
    spans = list(f._entry_spans("Jet_pts"))
    payload, offs, ends = spans[0]
    hdr_off = k.seek + k.keylen + int(offs[first]) + 10
    struct.pack_into(">i", raw, hdr_off, 10**6)
    open(path, "wb").write(bytes(raw))
    f2 = RootFlatFile(path)
    with pytest.raises(ValueError, match="overruns"):
        f2.branch_array("Jet_pts")


@pytest.mark.parametrize("compress", [False, True, "lzma"])
def test_rawroot_fixed_size_array_branch(spark, tmp_path, compress):
    """Fixed-size leaflist branches ("pos[3]/D" — a NUMERIC repeat
    count, the regular-array shape uproot reads as ak regular) decode
    as constant-length lists with exact boundaries across basket and
    entry-range cuts; a declared-size mismatch at write time is a
    directed error."""
    import numpy as np

    from dask_awkward_sandbox_spark.io.root import RawRootBackend, from_root
    from dask_awkward_sandbox_spark.io.rootfile import write_root_flat

    n = 700
    path = str(tmp_path / "fixed.root")
    pos = [[i * 3.0 + j for j in range(3)] for i in range(n)]
    write_root_flat(
        path, "Events",
        {
            "event": ("L", np.arange(n, dtype=np.int64)),
            "pos": ("[3]D", pos),
        },
        basket_entries=256, compress=compress,
    )
    df = from_root(spark, path, tree="Events", step_size=300,
                   backend=RawRootBackend())
    got = df.orderBy("event").toPandas()
    assert len(got) == n
    assert [list(v) for v in got["pos"]] == pos

    # write-side validation: an entry of the wrong length is directed
    bad = [p[:] for p in pos]
    bad[5] = [1.0, 2.0]
    with pytest.raises(ValueError, match="declared size"):
        write_root_flat(
            str(tmp_path / "bad.root"), "Events",
            {"event": ("L", np.arange(n, dtype=np.int64)),
             "pos": ("[3]D", bad)},
        )

    # misaligned entry counts vs flat branches are directed too
    with pytest.raises(ValueError, match="align"):
        write_root_flat(
            str(tmp_path / "bad2.root"), "Events",
            {"event": ("L", np.arange(n, dtype=np.int64)),
             "pos": ("[3]D", pos[: n - 1])},
        )


def test_rawroot_fixed_size_embedded_layout(tmp_path):
    """The embedded-TTree metadata layout carries the same numeric
    leaflist; byte-level reader agrees with the writer's data and
    branch_lengths reports the constant size."""
    import numpy as np

    from dask_awkward_sandbox_spark.io.rootfile import (
        RootFlatFile,
        write_root_flat,
    )

    n = 90
    path = str(tmp_path / "fixed_emb.root")
    vals = [[(i * 5 + j) % 97 for j in range(4)] for i in range(n)]
    write_root_flat(
        path, "T",
        {"hits": ("[4]I", vals),
         "run": ("I", np.arange(n, dtype=np.int32))},
        basket_entries=40, compress=True, embed_tree=True,
    )
    f = RootFlatFile(path)
    assert f.fixed_lens == {"hits": 4}
    assert f.num_entries() == n
    lens = f.branch_lengths("hits")
    assert (lens == 4).all() and len(lens) == n
    flat = f.branch_array("hits")
    assert flat.tolist() == [x for sub in vals for x in sub]


# ---------------------------------------------------------------------------
# r12: streamer-info user-class branches (objects + TClonesArray)
# ---------------------------------------------------------------------------


_HIT_CLASSES = {
    "Hit": [("id", "I"), ("x", "F"), ("good", "O")],
    "Evt": [("run", "L"), ("w", "D"), ("flag", "S")],
}


def _write_objects(tmp_path, name="obj.root", n=400, compress=False,
                   embed_tree=True, basket_entries=130):
    import numpy as np

    from dask_awkward_sandbox_spark.io.rootfile import write_root_flat

    path = str(tmp_path / name)
    objs = [(100 + i, round(i * 0.25, 4), (i * 5 + 1) % 7) for i in range(n)]
    clones = [
        [(i * 10 + j, round(j * 0.5 - i, 3), bool((i + j) % 2))
         for j in range((i * 3 + 1) % 5)]
        for i in range(n)
    ]
    write_root_flat(
        path, "Events",
        {"event": ("L", np.arange(n, dtype=np.int64)),
         "evt": ("obj:Evt", objs),
         "hits": ("clones:Hit", clones)},
        classes=_HIT_CLASSES, basket_entries=basket_entries,
        compress=compress, embed_tree=embed_tree,
    )
    return path, objs, clones


@pytest.mark.parametrize("embed_tree", [True, False])
@pytest.mark.parametrize("compress", [False, "zlib", "lz4", "zstd", "lzma"])
def test_object_branch_roundtrip_bytes(tmp_path, embed_tree, compress):
    """User-class branches (r12): the StreamerInfo TList key describes
    the classes (public TStreamerInfo/TStreamerElement layout, basic
    fType codes), an unsplit object branch streams one version-header
    + members record per entry, and a TClonesArray branch streams the
    member-wise default (kStreamedMemberWise fVersion bit). Both read
    back exactly in both metadata layouts under all four compressions
    + raw."""
    import numpy as np

    from dask_awkward_sandbox_spark.io.rootfile import RootFlatFile

    path, objs, clones = _write_objects(
        tmp_path, compress=compress, embed_tree=embed_tree
    )
    f = RootFlatFile(path)
    assert f.streamers == _HIT_CLASSES
    assert f.objects == {"evt": "Evt"} and f.clones == {"hits": "Hit"}
    assert f.num_entries() == 400
    em = f.object_members("evt")
    assert em["run"].tolist() == [o[0] for o in objs]
    np.testing.assert_array_equal(
        em["w"], np.array([o[1] for o in objs], dtype=np.float64)
    )
    assert em["flag"].tolist() == [o[2] for o in objs]
    cm = f.clones_members("hits")
    assert f.branch_lengths("hits").tolist() == [len(e) for e in clones]
    flat = [t for e in clones for t in e]
    assert cm["id"].tolist() == [t[0] for t in flat]
    np.testing.assert_array_equal(
        cm["x"], np.array([t[1] for t in flat], dtype=np.float32)
    )
    assert cm["good"].tolist() == [t[2] for t in flat]


def test_object_branch_from_root(spark, tmp_path):
    """Object branches surface as struct columns and TClonesArray as
    array<struct> through from_root/RawRootBackend, across basket and
    entry-range cuts; nested-field aggregates compose."""
    import numpy as np

    from dask_awkward_sandbox_spark.io.root import RawRootBackend, from_root

    path, objs, clones = _write_objects(tmp_path, compress="zstd")
    df = from_root(spark, path, tree="Events", step_size=90,
                   backend=RawRootBackend())
    got = df.orderBy("event").toPandas()
    assert len(got) == 400
    assert [r["run"] for r in got["evt"]] == [o[0] for o in objs]
    assert [len(e) for e in got["hits"]] == [len(e) for e in clones]
    want_x = np.array([t[1] for e in clones for t in e], dtype=np.float32)
    got_x = np.array([h["x"] for e in got["hits"] for h in e],
                     dtype=np.float32)
    np.testing.assert_array_equal(got_x, want_x)
    n_hits = df.agg(F.sum(F.size("hits"))).collect()[0][0]
    assert n_hits == sum(len(e) for e in clones)
    # member sum through Spark HOFs over the decoded structs
    s = df.agg(
        F.sum(F.aggregate(
            F.col("hits"),
            F.lit(0).cast("long"),
            lambda a, h: a + h["id"].cast("long"),
        ))
    ).collect()[0][0]
    assert s == sum(t[0] for e in clones for t in e)


def test_object_branch_error_surfaces(tmp_path):
    """The honest gates: a class branch without a streamer record, an
    object-wise clones stream, unsupported member type codes in the
    streamer, and member-size disagreement all fail loudly with
    directed errors, never as garbage values."""
    import struct

    import numpy as np

    from dask_awkward_sandbox_spark.io.rootfile import (
        RootFlatFile,
        write_root_flat,
    )

    # no streamer info for the named class: write valid, then rename
    # the StreamerInfo key (one byte) so the walk does not recognize
    # it — the class branch must then refuse with a directed error
    path = str(tmp_path / "gate1.root")
    write_root_flat(
        path, "T", {"evt": ("obj:Evt", [(1, 0.5, 2)])},
        classes={"Evt": _HIT_CLASSES["Evt"]},
    )
    buf = bytearray(open(path, "rb").read())
    i = bytes(buf).index(b"StreamerInfo")
    buf[i] = ord("X")
    p2 = str(tmp_path / "gate1b.root")
    open(p2, "wb").write(bytes(buf))
    # r13: the OPEN succeeds (real files always carry streamer records
    # this module does not model); the directed error comes only when
    # the class branch is actually requested
    f2 = RootFlatFile(p2)
    assert "evt" in f2.unresolved and "evt" not in f2.branches
    with pytest.raises(DecodeUnavailable, match="no fully-basic"):
        f2.object_members("evt")
    with pytest.raises(DecodeUnavailable, match="no fully-basic"):
        f2.branch_array("evt")

    # object-wise clones stream: clear the kStreamedMemberWise bit in
    # the first entry's version header
    path3 = str(tmp_path / "gate2.root")
    write_root_flat(
        path3, "T", {"hits": ("clones:Hit", [[(1, 0.5, True)]])},
        classes={"Hit": _HIT_CLASSES["Hit"]},
    )
    f3 = RootFlatFile(path3)
    k = f3.baskets["hits"][0]
    buf3 = bytearray(open(path3, "rb").read())
    ver_off = k.seek + k.keylen + 4  # bc(4) then fVersion(2)
    (ver,) = struct.unpack_from(">H", buf3, ver_off)
    struct.pack_into(">H", buf3, ver_off, ver & ~0x4000)
    open(path3, "wb").write(bytes(buf3))
    with pytest.raises(DecodeUnavailable, match="OBJECT-wise"):
        RootFlatFile(path3).clones_members("hits")

    # unsupported member letter refused at write time
    with pytest.raises(ValueError, match="basic leaf letter"):
        write_root_flat(
            str(tmp_path / "never.root"), "T",
            {"evt": ("obj:Bad", [(1,)])}, classes={"Bad": [("v", "C")]},
        )

    # member-count mismatch refused at write time
    with pytest.raises(ValueError, match="members"):
        write_root_flat(
            str(tmp_path / "never2.root"), "T",
            {"evt": ("obj:Evt", [(1, 0.5)])},
            classes={"Evt": _HIT_CLASSES["Evt"]},
        )


def test_object_branch_array_guard(tmp_path):
    """branch_array on a class branch raises the directed TypeError
    pointing at the member accessors."""
    path, _objs, _clones = _write_objects(tmp_path, n=5)
    from dask_awkward_sandbox_spark.io.rootfile import RootFlatFile

    f = RootFlatFile(path)
    with pytest.raises(TypeError, match="object_members"):
        f.branch_array("evt")
    with pytest.raises(KeyError, match="not a user-class"):
        f.object_members("hits")


def test_streamerinfo_walk_tolerates_real_file_records(tmp_path):
    """Real ROOT StreamerInfo lists carry records this module does not
    model: infos for ROOT's own classes (TStreamerBase/object
    members), back-reference tags after the first entry, rule lists.
    The r13 tolerant walk must SKIP unmodeled records, register the
    fully-basic classes it finds, and STOP (not raise) at a
    back-reference tag — so a genuine file's flat/jagged branches keep
    decoding."""
    import struct

    from dask_awkward_sandbox_spark.io.rootfile import (
        _NEW_CLASS_TAG,
        _r_streamerinfo_list,
        _w_objarray,
        _w_streamer_element,
        _w_tnamed,
        _w_tobject,
        _w_version,
        _wstring,
    )

    def info(cname, elements):
        body = _w_version(
            _w_tnamed(cname, "")
            + struct.pack(">Ii", 0, 1)
            + _w_objarray(elements),
            9,
        )
        return struct.pack(">I", _NEW_CLASS_TAG) + b"TStreamerInfo\x00" + body + b"\x00"

    basic = lambda n, l: ("TStreamerBasicType", _w_streamer_element(n, l))
    # a TTree-like info with a base-class member: must be skipped
    ttree_info = info(
        "TTree", [("TStreamerBase", _w_version(_w_tnamed("TNamed", ""), 4)), basic("fEntries", "L")]
    )
    # a fully-basic user class: must register
    evt_info = info("Evt", [basic("run", "L"), basic("w", "D")])
    # a back-reference class tag (high bit set, not the new-class
    # tag): no byte count to skip by -> the walk stops HERE
    backref = struct.pack(">I", 0x80000042) + b"\xde\xad\xbe\xef"
    # a class after the back-reference is unreachable by design
    unreachable = info("Never", [basic("x", "I")])
    body = _w_tobject() + _wstring("") + struct.pack(">i", 4)
    payload = _w_version(body + ttree_info + evt_info + backref + unreachable, 5)
    got = _r_streamerinfo_list(payload)
    assert got == {"Evt": [("run", "L"), ("w", "D")]}


def test_not_a_root_file_fails_loudly(tmp_path):
    """r14 (verdict item 5 close-out): the reference repo's
    tests/test-uproot/nano_dy.root turns out to be a git-LFS POINTER
    (131 bytes of "version https://git-lfs.github.com/spec/v1 ..."
    metadata), not a ROOT file — the real 352,599-byte fixture was
    never vendored and this container is offline, so the
    read-a-genuine-uproot-file test the verdict asked for is
    impossible here. What IS testable against that file: opening a
    non-ROOT byte stream must raise the directed magic error, never
    parse garbage — exactly what a user pointing from_root at an
    un-smudged LFS checkout would hit first."""
    import os

    import pytest

    from dask_awkward_sandbox_spark.io.rootfile import RootFlatFile

    ref = "/root/reference/tests/test-uproot/nano_dy.root"
    paths = []
    if os.path.isfile(ref):
        paths.append(ref)
    # same-shape synthetic pointer so the test stands without the repo
    p = str(tmp_path / "pointer.root")
    with open(p, "wb") as f:
        f.write(
            b"version https://git-lfs.github.com/spec/v1\n"
            b"oid sha256:" + b"0" * 64 + b"\nsize 352599\n"
        )
    paths.append(p)
    for path in paths:
        with pytest.raises(ValueError, match="not a ROOT file"):
            RootFlatFile(path)


def test_streamerinfo_record_with_trailing_rule_bytes(tmp_path):
    """Real TStreamerInfo records may carry schema-evolution rule
    lists AFTER the elements TObjArray but inside the record's byte
    count; the walk must register the class off its elements and skip
    the trailing bytes via the byte count (the real-reader move), and
    an unmodeled sibling record with trailing garbage must skip
    cleanly too."""
    import struct

    from dask_awkward_sandbox_spark.io.rootfile import (
        _NEW_CLASS_TAG,
        _r_streamerinfo_list,
        _w_objarray,
        _w_streamer_element,
        _w_tnamed,
        _w_tobject,
        _w_version,
        _wstring,
    )

    def info(cname, elements, trailing=b""):
        body = _w_version(
            _w_tnamed(cname, "")
            + struct.pack(">Ii", 0, 1)
            + _w_objarray(elements)
            + trailing,
            9,
        )
        return struct.pack(">I", _NEW_CLASS_TAG) + b"TStreamerInfo\x00" + body + b"\x00"

    basic = lambda n, l: ("TStreamerBasicType", _w_streamer_element(n, l))
    rule_bytes = b"\x40\x00\x00\x10TSchemaRuleSet junk"
    evt = info("Evt", [basic("run", "L"), basic("w", "D")], trailing=rule_bytes)
    other = info(
        "TTree",
        [("TStreamerBase", _w_version(_w_tnamed("TNamed", ""), 4))],
        trailing=rule_bytes,
    )
    body = _w_tobject() + _wstring("") + struct.pack(">i", 2)
    payload = _w_version(body + other + evt, 5)
    assert _r_streamerinfo_list(payload) == {"Evt": [("run", "L"), ("w", "D")]}


def test_unresolved_class_branch_does_not_block_flat_reads(tmp_path):
    """A file mixing a flat branch with a class branch whose streamer
    record is unmodeled must open, expose and decode the flat branch,
    and give the directed error only for the class branch."""
    import numpy as np
    import pyarrow as pa

    from dask_awkward_sandbox_spark.io.root import RawRootBackend
    from dask_awkward_sandbox_spark.io.rootfile import (
        RootFlatFile,
        write_root_flat,
    )

    path = str(tmp_path / "mixed.root")
    write_root_flat(
        path, "T",
        {"event": ("L", np.arange(7, dtype=np.int64)),
         "evt": ("obj:Evt", [(i, 0.5 * i, i % 3) for i in range(7)])},
        classes={"Evt": _HIT_CLASSES["Evt"]},
    )
    buf = bytearray(open(path, "rb").read())
    i = bytes(buf).index(b"StreamerInfo")
    buf[i] = ord("X")  # hide the streamer key from the walk
    p2 = str(tmp_path / "mixed2.root")
    open(p2, "wb").write(bytes(buf))

    f = RootFlatFile(p2)
    assert f.branch_array("event").tolist() == list(range(7))
    assert f.num_entries() == 7
    assert "evt" in f.unresolved

    be = RawRootBackend()
    # schema over all branches: unresolved ones are simply absent
    schema = be.arrow_schema(p2, "T", None)
    assert schema.names == ["event"]
    assert schema.field("event").type == pa.int64()
    # explicitly requesting the unresolved branch -> directed error
    with pytest.raises(DecodeUnavailable, match="no fully-basic"):
        be.arrow_schema(p2, "T", ["evt"])


# ---------------------------------------------------------------------------
# r12: TLeafC "name/C" string branches
# ---------------------------------------------------------------------------


def _write_cstrings(tmp_path, name="cstr.root", n=350, compress=False,
                    embed_tree=True):
    import numpy as np

    from dask_awkward_sandbox_spark.io.rootfile import write_root_flat

    path = str(tmp_path / name)
    # include empty strings, multi-byte UTF-8, and one > 255 bytes so
    # the TString long-escape path executes
    tags = []
    for i in range(n):
        if i % 7 == 0:
            tags.append("")
        elif i % 11 == 0:
            tags.append("μ" * (i % 5 + 1))
        elif i == 13:
            tags.append("x" * 300)
        else:
            tags.append(chr(65 + i % 5) * (1 + i % 3))
    write_root_flat(
        path, "Events",
        {"event": ("L", np.arange(n, dtype=np.int64)), "tag": ("C", tags)},
        basket_entries=120, compress=compress, embed_tree=embed_tree,
    )
    return path, tags


@pytest.mark.parametrize("embed_tree", [True, False])
@pytest.mark.parametrize("compress", [False, "zlib", "zstd"])
def test_cstring_branch_roundtrip_bytes(tmp_path, embed_tree, compress):
    """TLeafC branches (r12): one TString per entry behind the basket
    entry-offset table, exact round-trip in both metadata layouts
    incl. empty strings, UTF-8, and the 255 -> int32 long escape."""
    from dask_awkward_sandbox_spark.io.rootfile import RootFlatFile

    path, tags = _write_cstrings(tmp_path, compress=compress,
                                 embed_tree=embed_tree)
    f = RootFlatFile(path)
    assert f.cstrings == {"tag"} and f.branches["tag"] == "C"
    assert f.num_entries() == 350
    assert list(f.branch_array("tag")) == tags


def test_cstring_branch_from_root(spark, tmp_path):
    """/C branches surface as string columns through from_root across
    basket and entry-range cuts."""
    from dask_awkward_sandbox_spark.io.root import RawRootBackend, from_root

    path, tags = _write_cstrings(tmp_path, compress="zlib")
    df = from_root(spark, path, tree="Events", step_size=90,
                   backend=RawRootBackend())
    got = df.orderBy("event").toPandas()
    assert list(got["tag"]) == tags
    # length() counts CHARACTERS in Spark, matching Python len()
    n = df.agg(F.sum(F.length("tag"))).collect()[0][0]
    assert n == sum(len(t) for t in tags)


def test_cstring_branch_error_surfaces(tmp_path):
    """Counter-sized string leaflists stay gated; a corrupted entry
    span fails loudly."""
    import struct

    from dask_awkward_sandbox_spark.io.rootfile import (
        RootFlatFile,
        write_root_flat,
    )

    path, _tags = _write_cstrings(tmp_path, n=30)
    f = RootFlatFile(path)
    k = f.baskets["tag"][0]
    buf = bytearray(open(path, "rb").read())
    # corrupt the first entry's length byte to overrun its span
    buf[k.seek + k.keylen] = 250
    open(path, "wb").write(bytes(buf))
    with pytest.raises(ValueError, match="disagree|span|monotone"):
        list(RootFlatFile(path).branch_array("tag"))

    p2 = str(tmp_path / "gated.root")
    import numpy as np

    write_root_flat(
        p2, "T", {"n": ("I", np.arange(3))}, embed_tree=False
    )
    # hand-write a standalone TBranch key with a sized-string title
    from dask_awkward_sandbox_spark.functions.multimodal import (
        DecodeUnavailable,
    )

    with pytest.raises(DecodeUnavailable, match="string leaflist"):
        ff = RootFlatFile(p2)
        ff._register_branch("s", "s[n]/C")
