#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's registered query slots.

    python3 perfbench/run.py --workload nested_scan --seed 1 --seconds 20 --trace 0

One run is one fresh process and one fresh Spark session, driven by one
client that runs a workload's slots one after another:

1. set up: import the package, ``session.get_spark``, then one cold
   pass that collects every slot's output and the workload's
   ``warmup_passes`` untimed passes (``setup_s``);
2. timed passes; a pass runs every slot once, in an order ``--seed``
   shuffles, each as ``QUERIES[slot](spark, data_dir)`` plus a
   noop-sink write. ``--seconds`` sets how much work is measured:
   ``round(seconds / seconds_per_pass)`` passes (at least one), with the
   workload's ``seconds_per_pass`` from ``workloads.json``, so two
   commits compared with the same arguments time the same passes;
3. compare each collected output with its DuckDB oracle on the same
   files, as an order-insensitive multiset with exact floats.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run also sets a
job group around every build and execute call, switches on Spark's
event log, listens to streaming progress, and reports the per-layer
metrics instead. Spans and the per-pass breakdown go to
``.perfbench/traces/``. Everything a run writes stays under
``.perfbench/`` in the checkout, and a second concurrent run refuses to
start.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import math
import os
import random
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
RUN_DIR = os.path.join(WORK, "run")
PACKAGE = "dask_awkward_sandbox_spark"
# The input tables: the package's test data at this scale (a sibling of
# ``session.DEFAULT_SF_DIR``; lineitem has about 60000 rows at sf0.01).
SF = "sf0.01"
DRIVER_MEM = "1g"
# Per-layer times the benchmark takes around its own calls in a slot.
TIMED_LAYERS = ("plans.build_s", "catalyst.plan_s", "exec.run_s")

sys.path.insert(0, HERE)

import layers  # noqa: E402


def load_spec() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def bench_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _process_age_s() -> float:
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])  # field 22
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def configure_env(trace: bool) -> dict[str, str]:
    """Fit the session to the machine it runs on, from outside the
    package: cores from the CPU affinity mask; a fixed 1 GiB driver
    heap, far below physical memory and ample for inputs of a few MB
    (``-Xms`` stops the heap from resizing; its pages count towards
    peak memory once they are used); shuffle files and every temp file
    under the run directory; and the checkout on the Python workers'
    import path."""
    tmp = os.path.join(RUN_DIR, "tmp")
    submit = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(RUN_DIR, 'eventlog')}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    pythonpath = os.environ.get("PYTHONPATH")
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(RUN_DIR, "spark-local"),
        "PYTHONPATH": ROOT + (os.pathsep + pythonpath if pythonpath else ""),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    }
    for d in ("tmp", "eventlog", "spark-local", "scratch"):
        os.makedirs(os.path.join(RUN_DIR, d), exist_ok=True)
    os.environ.update(settings)
    return settings


def redirect_scratch(new_root: str) -> None:
    """The package writes streaming inputs, checkpoints, lake tables and
    its warehouse under one fixed scratch root (``io_queries.SCRATCH``;
    other sites spell the same path out). Every such path is built by
    ``os.path.join`` or passed to ``SparkSession.Builder.config``, so
    remapping that prefix at those two calls keeps a run's files inside
    its own directory."""
    import posixpath

    from pyspark.sql import SparkSession

    from dask_awkward_sandbox_spark.plans import io_queries

    old = io_queries.SCRATCH.rstrip("/")

    def remap(v):
        if isinstance(v, str) and (v == old or v.startswith(old + "/")):
            return new_root + v[len(old):]
        return v

    join = posixpath.join
    config = SparkSession.Builder.config
    posixpath.join = lambda a, *p: join(remap(a), *p)
    SparkSession.Builder.config = (
        lambda self, key=None, value=None, *a, **kw: config(self, key, remap(value), *a, **kw)
    )


def tail(slot_walls: list[tuple[int, str, float]], tail_slot: str) -> tuple[float, str]:
    """The highest whole percentile (p50 to p99, nearest rank) of the
    slot walls with at least 10 samples above it, and its label. A run
    with fewer than 20 samples has no such percentile; it reports the
    median wall of the workload's ``tail_slot`` instead (its slowest
    slot, named in ``workloads.json`` so every commit is measured on
    the same slot)."""
    s = sorted(w for _, _, w in slot_walls)
    n = len(s)
    for p in range(99, 49, -1):
        k = math.ceil(n * p / 100) - 1
        if n - 1 - k >= 10:
            return s[k], f"p{p} of {n}"
    walls = [w for _, slot, w in slot_walls if slot == tail_slot]
    return statistics.median(walls), f"median of {tail_slot}, {len(walls)} of {n} samples"


# ----------------------------------------------------------------- oracle


def _canon_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(0.0 if v == 0.0 else v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(frame) -> tuple[list[str], list[tuple]]:
    cols = sorted(frame.columns)
    rows = sorted(
        tuple(_canon_cell(r[c]) for c in cols) for r in frame.to_dict("records")
    )
    return cols, rows


def verify(outputs: dict, oracles: dict[str, str], data_dir: str) -> list[str]:
    """Slots whose collected output raised, has no oracle, or differs
    from its DuckDB oracle on the same files."""
    import duckdb

    from dask_awkward_sandbox_spark.session import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"create view {t} as select * from read_parquet('{path}')")
        bad = []
        for slot, out in outputs.items():
            if isinstance(out, BaseException) or slot not in oracles:
                bad.append(slot)
            elif canon(out) != canon(con.execute(oracles[slot]).df()):
                bad.append(slot)
        return bad
    finally:
        con.close()


# ------------------------------------------------------------------- run


class Run:
    """One workload in one Spark session."""

    def __init__(self, workload: str, spec: dict, data_dir: str, seed: int,
                 passes: int, trace: bool) -> None:
        self.workload = workload
        self.slots = spec["slots"]
        self.tail_slot = spec["tail_slot"]
        self.warmup_passes = spec["warmup_passes"]
        self.data_dir = data_dir
        self.rng = random.Random(seed)
        self.passes = passes
        self.trace = trace
        self.run_id = f"{workload}-seed{seed}-{os.getpid()}-{int(time.time())}"
        self.tracer = layers.Tracer(self.run_id, trace)
        self.raised = 0
        self.attempted = 0
        self.slot_walls: list[tuple[int, str, float]] = []  # (pass, slot, wall)

    def _phase(self, sc, phase: str | None, slot: str) -> None:
        if self.trace:
            if phase is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(f"{phase}:{slot}", slot)

    def run_slot(self, spark, fn, slot: str, layer_s: dict[str, float]) -> float | None:
        """One slot through the noop sink; its wall, or None if it raised."""
        sc = spark.sparkContext
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"slot:{slot}"):
                self._phase(sc, "build", slot)
                with self.tracer.span("plans.build") as s:
                    df = fn(spark, self.data_dir)
                if self.trace:
                    layer_s["plans.build_s"] += s["end"] - s["start"]
                    with self.tracer.span("catalyst.plan") as s:
                        df._jdf.queryExecution().executedPlan()
                    layer_s["catalyst.plan_s"] += s["end"] - s["start"]
                self._phase(sc, "exec", slot)
                with self.tracer.span("exec.run") as s:
                    df.write.format("noop").mode("overwrite").save()
                if self.trace:
                    layer_s["exec.run_s"] += s["end"] - s["start"]
        except Exception:
            self.raised += 1
            traceback.print_exc()
            return None
        finally:
            self._phase(sc, None, slot)
        return time.perf_counter() - t0

    def execute(self, setup_base_s: float) -> tuple[dict, dict]:
        t_setup = time.perf_counter()
        from dask_awkward_sandbox_spark import session
        from dask_awkward_sandbox_spark.plans import ORACLES, QUERIES

        redirect_scratch(os.path.join(RUN_DIR, "scratch"))
        with self.tracer.span("run"):
            with self.tracer.span("session.get_spark"):
                spark = session.get_spark(f"perfbench-{self.workload}")
            spark.sparkContext.setLogLevel("ERROR")
            tree = layers.ProcTree(spark.sparkContext._gateway.proc.pid)
            tree.start()
            batches: list[dict] = []
            if self.trace:
                spark.streams.addListener(layers.stream_listener(batches))
            clock = [time.perf_counter()]

            def lap() -> float:
                clock.append(time.perf_counter())
                return clock[-1] - clock[-2]

            try:
                outputs = self._warmup(spark, QUERIES)
                setup_s = setup_base_s + time.perf_counter() - t_setup
                lap()
                passes, walls, cpu_s, peak_mem = self._timed(spark, QUERIES, tree)
                timed_s = lap()
                bad = verify(outputs, ORACLES, self.data_dir)
                verify_s = lap()
            finally:
                tree.stop()
                shutdown(spark, tree)
            shutdown_s = lap()

        tail_s, tail_label = tail(self.slot_walls, self.tail_slot)
        e2e = {
            "setup_s": setup_s,
            "pass_s": statistics.median(p["wall"] for p in passes),
            "query_s_p50": statistics.median(walls),
            "query_s_tail": tail_s,
            "cpu_s": cpu_s,
            "peak_rss_mb": peak_mem / 2**20,
        }
        failed = self.raised + sum(1 for slot in bad if not isinstance(outputs[slot], BaseException))
        info = {
            "run_id": self.run_id,
            "passes": len(passes),
            "slot_samples": len(walls),
            "query_s_tail_is": tail_label,
            "slot_walls": self.slot_walls,
            "mismatched_or_raised_in_check": bad,
            "failed_frac": failed / self.attempted,
            "attempted": self.attempted,
            "failed": failed,
            "phase_s": {"setup": setup_s, "timed": timed_s, "verify": verify_s,
                        "shutdown": shutdown_s},
        }
        if self.trace:
            info["layers_per_pass"] = self._layers(passes, batches)
        return e2e, info

    def _warmup(self, spark, queries) -> dict:
        """The cold pass, which collects every slot once for the oracle
        check, then the workload's ``warmup_passes`` untimed passes."""
        outputs = {}
        with self.tracer.span("session.warmup"):
            for slot in self._order():
                self.attempted += 1
                try:
                    with self.tracer.span(f"slot:{slot}"):
                        outputs[slot] = queries[slot](spark, self.data_dir).toPandas()
                except Exception as exc:
                    self.raised += 1
                    traceback.print_exc()
                    outputs[slot] = exc
            for _ in range(self.warmup_passes):
                for slot in self._order():
                    self.run_slot(spark, queries[slot], slot, dict.fromkeys(TIMED_LAYERS, 0.0))
        return outputs

    def _order(self) -> list[str]:
        order = list(self.slots)
        self.rng.shuffle(order)
        return order

    def _timed(self, spark, queries, tree) -> tuple[list[dict], list[float], float, int]:
        """The timed passes; (passes, slot walls, CPU seconds per pass,
        peak resident bytes)."""
        passes, walls = [], []
        cpu0 = tree.cpu_s()
        tree.reset_peak_pss()
        while len(passes) < self.passes:
            layer_s = dict.fromkeys(TIMED_LAYERS, 0.0)
            py0 = tree.cpu_s(python_only=True) if self.trace else 0.0
            tree.reset_worker_peak()
            p0 = time.perf_counter()
            with self.tracer.span(f"pass:{len(passes)}") as s:
                for slot in self._order():
                    wall = self.run_slot(spark, queries[slot], slot, layer_s)
                    if wall is not None:
                        walls.append(wall)
                        self.slot_walls.append((len(passes), slot, wall))
            rec = {"wall": time.perf_counter() - p0, "layers": layer_s}
            if self.trace:
                rec.update(start=s["start"], end=s["end"])
                layer_s["python.worker_cpu_s"] = tree.cpu_s(python_only=True) - py0
                layer_s["python.worker_peak"] = tree.reset_worker_peak()
            passes.append(rec)
        cpu_s = (tree.cpu_s() - cpu0) / len(passes)
        return passes, walls, cpu_s, tree.reset_peak_pss()

    def _layers(self, passes, batches) -> list[dict]:
        folded = layers.fold_event_log(os.path.join(RUN_DIR, "eventlog"), self.tracer, passes)
        out = []
        for p, counters in zip(passes, folded):
            row = {**p["layers"], **counters}
            mine = [b for b in batches if p["start"] <= b["start"] <= p["end"]]
            row["streaming.batches"] = len(mine)
            row["streaming.add_batch_s"] = sum(b["ms"].get("addBatch", 0) for b in mine) / 1e3
            row["streaming.commit_s"] = sum(
                b["ms"].get("walCommit", 0) + b["ms"].get("commitOffsets", 0) for b in mine
            ) / 1e3
            out.append(row)
        for b in batches:
            span = self.tracer.covering(b["start"], "plans.build")
            self.tracer.add(
                "streaming.batch", b["start"], b["start"] + b["ms"].get("triggerExecution", 0) / 1e3,
                None if span is None else span["id"],
            )
        return out


def shutdown(spark, tree: layers.ProcTree) -> None:
    """Stop the session, end the JVM, and wait for every process under
    it (the PySpark daemon and its workers) to exit."""
    gateway = spark.sparkContext._gateway
    pids = set(tree.snapshot())
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if _alive(p)}
        if pids:
            time.sleep(0.1)
    for p in pids:
        os.kill(p, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def layer_metrics(info: dict, e2e: dict, tracer: layers.Tracer, names: list[str]) -> dict:
    """Median over the timed passes of each per-layer total, plus the
    session spans and the traced run's own pass wall and CPU."""
    rows = info["layers_per_pass"]
    vals = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    spans = {s["name"]: s["end"] - s["start"] for s in tracer.spans if s["name"].startswith("session.")}
    vals["session.get_spark_s"] = spans["session.get_spark"]
    vals["session.warmup_s"] = spans["session.warmup"]
    vals["trace.pass_s"] = e2e["pass_s"]
    vals["trace.cpu_s"] = e2e["cpu_s"]
    return {k: vals[k] for k in names}


def main(argv: list[str] | None = None) -> int:
    started_s = _process_age_s()
    t_main = time.perf_counter()
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from dask_awkward_sandbox_spark.session import DEFAULT_SF_DIR

    data_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), SF)
    if not os.path.isdir(data_dir):
        print(f"perfbench: no input tables at {data_dir}", file=sys.stderr)
        return 2
    e2e_units, layer_units = bench_metrics()

    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("perfbench: another run holds .perfbench/lock; refusing to share its scratch",
              file=sys.stderr)
        return 3

    # Keep stdout for the result line alone: the JVM and the package
    # inherit fd 1, so point it at stderr for the rest of the run.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    shutil.rmtree(RUN_DIR, ignore_errors=True)
    settings = configure_env(bool(args.trace))
    setup_base_s = started_s + (time.perf_counter() - t_main)

    wl = spec["workloads"][args.workload]
    n_passes = max(1, round(args.seconds / wl["seconds_per_pass"]))
    run = Run(args.workload, wl, data_dir, args.seed, n_passes, bool(args.trace))
    e2e, info = run.execute(setup_base_s)

    if args.trace:
        metrics = layer_metrics(info, e2e, run.tracer, list(layer_units))
        units = layer_units
    else:
        metrics, units = e2e, e2e_units
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "data_dir": data_dir, "settings": settings,
        "metrics": metrics, "end_to_end": e2e, **info, "spans": run.tracer.spans,
    }
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    with open(os.path.join(WORK, "traces", f"{run.run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({k: v for k, v in record.items() if k not in ("spans", "layers_per_pass")},
                     default=str), file=sys.stderr)
    for k, unit in e2e_units.items():
        print(f"{k:14s} {e2e[k]:12.4f} {unit}", file=sys.stderr)
    print(f"{'failed_frac':14s} {info['failed_frac']:12.4f} 1 "
          f"({info['failed']} of {info['attempted']} slot executions)", file=sys.stderr)

    shutil.rmtree(RUN_DIR, ignore_errors=True)
    result = {
        "correct": info["failed"] == 0,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    result_out.write(json.dumps(result) + "\n")
    result_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
