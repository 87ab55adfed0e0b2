"""Self-test of the benchmark: ``python -m pytest perfbench -q`` from the
repository root. Each workload runs one timed pass on the smallest
test tables (``sf0.001``), through the same command line the benchmark
is run with; a full run of this file takes a few minutes."""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


TINY = "sf0.001"


def _bench(*args: str, prelude: str = "", cwd: str = ROOT) -> subprocess.CompletedProcess:
    """Run the benchmark CLI on the ``TINY`` tables; ``prelude`` is
    Python run before it."""
    code = (
        f"import sys; sys.path.insert(0, {HERE!r}); import run; run.SF = {TINY!r}; {prelude}\n"
        f"sys.exit(run.main({list(args)!r}))"
    )
    return subprocess.run(
        [sys.executable, "-c", code], cwd=cwd, capture_output=True, text=True, timeout=600
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _one_pass(workload: str, trace: int, seed: int = 7) -> subprocess.CompletedProcess:
    return _bench("--workload", workload, "--seed", str(seed), "--seconds", "1",
                  "--trace", str(trace))


def _executions(workload: str) -> int:
    """Slot executions in a one-pass run: the cold pass, the warm-up
    passes and the timed pass."""
    wl = run.load_spec()["workloads"][workload]
    return (2 + wl["warmup_passes"]) * len(wl["slots"])


def test_every_slot_is_registered_with_an_oracle():
    from dask_awkward_sandbox_spark.plans import ORACLES, QUERIES

    for name, wl in run.load_spec()["workloads"].items():
        for slot in wl["slots"]:
            assert slot in QUERIES, f"{name}: {slot} is not a registered slot"
            assert slot in ORACLES, f"{name}: {slot} has no DuckDB oracle"
        assert wl["tail_slot"] in wl["slots"], f"{name}: tail_slot is not one of its slots"


def test_verify_flags_wrong_and_raised_outputs():
    from dask_awkward_sandbox_spark.plans import ORACLES
    from dask_awkward_sandbox_spark.session import DEFAULT_SF_DIR

    import duckdb

    data = os.path.join(os.path.dirname(DEFAULT_SF_DIR), TINY)
    con = duckdb.connect()
    con.execute(f"create view events as select * from read_parquet('{data}/events.parquet')")
    right = con.execute(ORACLES["q_window_funcs"]).df()
    outputs = {"q_window_funcs": right}
    assert run.verify(outputs, ORACLES, data) == []
    outputs["q_window_funcs"] = right.iloc[1:]
    outputs["q_sort_argsort"] = RuntimeError("raised in build")
    assert sorted(run.verify(outputs, ORACLES, data)) == ["q_sort_argsort", "q_window_funcs"]


@pytest.mark.parametrize("workload", sorted(run.load_spec()["workloads"]))
def test_one_traced_pass_emits_every_layer_metric(workload):
    e2e_units, layer_units = run.bench_metrics()
    r = _result(_one_pass(workload, trace=1))
    assert r["correct"] and r["failed"] == 0
    assert r["attempted"] == _executions(workload)
    assert {k: v["unit"] for k, v in r["metrics"].items()} == layer_units

    traces = os.path.join(ROOT, ".perfbench", "traces")
    latest = max((os.path.join(traces, f) for f in os.listdir(traces)), key=os.path.getmtime)
    with open(latest) as f:
        record = json.load(f)
    assert record["workload"] == workload
    assert set(record["end_to_end"]) == set(e2e_units)
    for span in record["spans"]:
        assert {"name", "start", "end", "parent", "run"} <= set(span)
        assert span["run"] == record["run_id"]


def test_untraced_pass_emits_every_end_to_end_metric():
    e2e_units, _ = run.bench_metrics()
    proc = _one_pass("nested_scan", trace=0)
    r = _result(proc)
    assert r["correct"] and r["failed"] == 0
    assert {k: v["unit"] for k, v in r["metrics"].items()} == e2e_units
    assert all(v["value"] > 0 for v in r["metrics"].values())
    summary = {line.split()[0]: line.split()[2] for line in proc.stderr.splitlines()
               if line.split()[:1] and line.split()[0] in {*e2e_units, "failed_frac"}}
    assert summary == {**e2e_units, "failed_frac": "1"}


def test_planted_wrong_result_is_counted_as_failed():
    plant = (
        "from dask_awkward_sandbox_spark.plans import QUERIES; "
        "f = QUERIES['q_ann_lsh_buckets']; "
        "QUERIES['q_ann_lsh_buckets'] = lambda s, d: f(s, d).limit(0)"
    )
    r = _result(_bench("--workload", "python_stateful", "--seed", "7", "--seconds", "1",
                       prelude=plant))
    assert not r["correct"]
    assert r["failed"] == 1 and r["attempted"] == _executions("python_stateful")


def test_second_concurrent_run_is_refused():
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        proc = _one_pass("nested_scan", trace=0)
    assert proc.returncode == 3 and proc.stdout == ""


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "nested_scan", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0 and proc.stdout == ""
