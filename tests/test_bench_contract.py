"""The bench harness's contract with the registry and the driver:
every headliner must be a registered query (a rename that misses
bench.py would crash the bench run), the final line must fit the
driver's tail capture, the one timer must interleave and clear the
cache, the scale probe must label what it ran, and every script must
import cleanly."""

from __future__ import annotations

import importlib
import os

import pytest

SCRIPTS = sorted(
    f[:-3]
    for f in os.listdir(os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"))
    if f.endswith(".py")
)


def test_headliners_are_registered():
    import bench
    from dask_awkward_sandbox_spark.plans import QUERIES

    missing = [n for n in bench.HEADLINERS if n not in QUERIES]
    assert not missing, missing


def test_registry_is_exactly_gate_sized():
    """The driver's correctness gate checks the FIRST 50 registered
    queries — r6 grew the registry to 56 assuming the gate would grow
    with it, and the six slots registered last silently lost their
    driver rows (VERDICT r6 'What's wrong' #1). 50 is the hard gate
    size until the driver proves otherwise: every operator §2 claims
    must sit inside it."""
    from dask_awkward_sandbox_spark.plans import ORACLES, QUERIES

    assert len(QUERIES) == 50, len(QUERIES)
    assert set(ORACLES) <= set(QUERIES)
    # every slot keeps its full value oracle (no rows-only residue)
    assert len(ORACLES) == 50, sorted(set(QUERIES) - set(ORACLES))


def test_final_line_fits_driver_tail_capture():
    """The driver captures only the last ~2000 chars of stdout and
    parses the FINAL line as the headline JSON. BENCH_r05 and r06 both
    recorded parsed:null because the final line outgrew that window.
    Build the line bench.main() prints for the CURRENT slot counts
    with worst-case float widths and assert it stays safely under the
    capture, leaving slack for the sf token and a few extra-long
    future slot names."""
    import json

    import bench
    from dask_awkward_sandbox_spark.plans import QUERIES

    worst = {name: 999.99 for name in bench.HEADLINERS}
    non = {n: 999.99 for n in QUERIES if n not in bench.HEADLINERS}
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": round(sum(worst.values()), 3),
            "unit": "sec",
            "queries": worst,
            "sf": 0.001,
            "gate_nonheadliner": {"total": 99999.99, "queries": non},
        }
    )
    assert len(line) <= 1960, (len(line), "final bench line nearing the driver's ~2000-char tail capture")


def test_gate_nonheadliner_covers_registry_complement():
    """The final line's gate_nonheadliner block must time exactly the
    registered slots bench does not headline, so cost moved between
    slots stays visible run over run."""
    import bench
    from dask_awkward_sandbox_spark.plans import QUERIES

    complement = sorted(set(QUERIES) - set(bench.HEADLINERS))
    assert complement, "every slot headlined — drop the block instead"
    # the function iterates the same complement (source-level contract)
    assert callable(bench.gate_nonheadliner)


def test_timed_interleaves_and_clears_cache(spark, sf, monkeypatch):
    """bench.timed runs the thunks round-robin (a, b, a, b), clears
    the cache before every call, and returns one sample per rep."""
    import bench
    from dask_awkward_sandbox_spark.plans.common import read

    calls: list[str] = []
    clear = spark.catalog.clearCache

    def logged_clear():
        calls.append("clear")
        clear()

    monkeypatch.setattr(spark.catalog, "clearCache", logged_clear)

    def thunk(name):
        def build():
            calls.append(name)
            return read(spark, sf, "region")

        return build

    samples = bench.timed(spark, {"a": thunk("a"), "b": thunk("b")}, 2)
    assert calls == ["clear", "a", "clear", "b"] * 2
    assert {k: len(v) for k, v in samples.items()} == {"a": 2, "b": 2}
    assert all(s > 0 for v in samples.values() for s in v)


def test_timed_counts_py4j_calls(spark, sf):
    """With ``calls``, bench.timed adds up each name's py4j commands
    over its samples, and puts py4j's own sender back afterwards."""
    from py4j.clientserver import ClientServerConnection

    import bench
    from dask_awkward_sandbox_spark.plans.common import read

    send = ClientServerConnection.send_command
    calls: dict[str, int] = {}
    bench.timed(spark, {"region": lambda: read(spark, sf, "region")}, 2, calls=calls)
    assert ClientServerConnection.send_command is send
    assert calls["region"] > 0


@pytest.mark.parametrize("name", SCRIPTS)
def test_script_imports(name):
    """Every script imports cleanly (all run under a ``__main__``
    guard), so one still importing a deleted bench name fails here."""
    importlib.import_module(f"scripts.{name}")



def test_scale_probe_labels_name_both_dirs(tmp_path, monkeypatch):
    """scale_probe labels its block with the scale factors of the two
    dirs it compared, parsed the way main() parses the bench SF, not
    with the default sf0.1 -> sf1 step. No Spark: the plan, timing and
    skew calls are stubbed."""
    import bench
    from dask_awkward_sandbox_spark.plans import QUERIES

    assert bench.sf_of("/data/sf0.01/") == 0.01
    assert bench.sf_of("/data/sf10") == 10.0
    assert bench.sf_of("/data/tiny") == "/data/tiny"

    scale_dir = tmp_path / "sf10"
    (scale_dir / "lineitem.parquet").mkdir(parents=True)
    monkeypatch.delenv("SPARK_GRAFT_SKIP_SCALE", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_SCALE_DIR", str(scale_dir))
    for name in bench.HEADLINERS:
        monkeypatch.setitem(QUERIES, name, lambda spark, d: d)
    monkeypatch.setattr(bench, "_plan_signature", lambda d: {"Sort": 2 if d == str(scale_dir) else 1})
    monkeypatch.setattr(bench, "_slots", lambda spark, names, d: dict.fromkeys(names))
    monkeypatch.setattr(bench, "timed", lambda spark, slots, reps: {n: [3.0, 2.0] for n in slots})
    monkeypatch.setattr(bench, "skew_demo", lambda spark, d, reps: {"dir": d})

    out = bench.scale_probe(None, "/data/sf0.01", dict.fromkeys(bench.HEADLINERS, 1.0), 1)
    assert out["sf"] == 10.0 and out["dir"] == str(scale_dir)
    assert out["growth_vs_sf0.01"] == dict.fromkeys(bench.HEADLINERS, 2.0)
    assert "growth_vs_sf0.1" not in out
    assert out["plan_delta"] == dict.fromkeys(
        bench.HEADLINERS, {"only_sf0.01": {"Sort": 1}, "only_sf10": {"Sort": 2}}
    )
    assert out["skew_demo"] == {"dir": str(scale_dir)}


def test_make_scaled_sf_refuses_keys_at_offset(sf, tmp_path, monkeypatch):
    """Copy i shifts every key by i*OFF, so a source whose largest key
    reaches OFF would build colliding copies: scale() must refuse it,
    naming the key, before it writes anything."""
    from scripts import make_scaled_sf

    monkeypatch.setattr(make_scaled_sf, "OFF", 1000)  # sf0.001 orders reach 1499
    with pytest.raises(ValueError, match=r"orders\.o_orderkey reaches 1499"):
        make_scaled_sf.scale(sf, str(tmp_path), 2)
    assert not list(tmp_path.iterdir())
