"""The package's PySpark daemon (``_pydaemon``): a zip importer re-reads
its archive's directory only when the archive changed, the Python
workers run with that guard, and they import the package from any
working directory."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from dask_awkward_sandbox_spark import _pydaemon, session


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_stat_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _pydaemon.invalidate_caches
    )
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["dwax_zip_a"])
    monkeypatch.syspath_prepend(archive)
    reads = []
    read = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        assert importlib.import_module("dwax_zip_a").NAME == "dwax_zip_a"
        importlib.invalidate_caches()  # stamps the new importer
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, ["dwax_zip_a", "dwax_zip_b"])
        importlib.invalidate_caches()
        assert len(reads) == 1
        assert importlib.import_module("dwax_zip_b").NAME == "dwax_zip_b"
        importlib.invalidate_caches()
        assert len(reads) == 1

        # an archive that cannot be stat'ed is re-read every time
        os.remove(archive)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == 3
    finally:
        for name in ("dwax_zip_a", "dwax_zip_b"):
            sys.modules.pop(name, None)


def test_workers_run_the_stat_guard(spark):
    def probe(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        importlib.invalidate_caches()
        reads = []
        read = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        guard = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        for _ in batches:
            pass
        yield pa.record_batch(
            [pa.array([guard]), pa.array([len(reads)])], names=["guard", "reads"]
        )

    rows = (
        spark.range(4).repartition(2)
        .mapInArrow(probe, "guard string, reads long").collect()
    )
    daemon = os.path.join(session.ROOT, "dask_awkward_sandbox_spark", "_pydaemon.py")
    assert {os.path.realpath(r["guard"]) for r in rows} == {os.path.realpath(daemon)}
    assert {r["reads"] for r in rows} == {0}


def test_workers_import_the_package_from_any_cwd(tmp_path):
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {session.ROOT!r})
        from dask_awkward_sandbox_spark.functions.similarity import _round_half_away
        from dask_awkward_sandbox_spark.session import get_spark

        def kernel(batches):
            import pyarrow as pa
            for b in batches:
                v = b.column(0).to_numpy() / 3.0
                yield pa.record_batch([pa.array(_round_half_away(v, 2))], names=["v"])

        spark = get_spark("dwax-cwd-test")
        rows = spark.range(3).mapInArrow(kernel, "v double").collect()
        print(sorted(r["v"] for r in rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.strip().splitlines()[-1] == "[0.0, 0.33, 0.67]"
