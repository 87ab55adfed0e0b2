"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Every wall goes through one timer, :func:`timed`: named thunks run
round-robin for N reps, the cache is cleared before each call, and the
built frame is forced through the noop sink (full compute, no driver
collect). A wall covers the slot's build, eager jobs included, and its
execution. A warmup pass on sf0.001 first loads classes, warms the
JIT and compiles the generated classes whose plans do not change with
data size; they stay cached because ``get_spark`` sizes the codegen
cache above the headliners' working set (at Spark's default of 100
entries, 28 interleaved headliners evict them all before they recur).

The FINAL printed line is the headline record {metric, value, unit,
queries, sf, gate_nonheadliner}: per-headliner min-of-reps, their sum,
and one-rep walls of every other registered slot. The line before it
is the aux record: per-headliner min/max, the generated classes the
timed reps still compiled (``codegen_compiles``, total and per
headliner), the py4j commands they sent (``py4j_calls``, total and
per headliner: a build-layer regression shows here), the salted-join
skew demo, the local dirs in effect, and
the scale probe (headliners + skew demo at SPARK_GRAFT_SCALE_DIR,
by default sf1 = 10x from scripts/make_scaled_sf.py under
.scaledata/).

Env: SPARK_GRAFT_BENCH_REPS (3), SPARK_GRAFT_SCALE_REPS (2),
SPARK_GRAFT_SKIP_SCALE=1, SPARK_GRAFT_SCALE_DIR. Put shuffle files on
tmpfs with SPARK_GRAFT_LOCAL_DIR=/dev/shm/... (see session.get_spark).
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Callable
from contextlib import contextmanager, nullcontext

from dask_awkward_sandbox_spark.session import DEFAULT_SF_DIR

ROOT = os.path.dirname(os.path.abspath(__file__))

HEADLINERS = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "q18_large_orders", "q16_supplier_breadth",
    "q_reduce_order_count", "q_sort_argsort", "q_cartesian_combinations",
    "q_str_surface", "q_text_metrics", "q_corpus_curation", "q_lm_perplexity",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_minhash_clusters", "q_dedup_simhash",
    "q_dedup_paragraph", "q_asof_join", "q_range_join", "q_interval_join",
    "q_data_mixture", "q_embedding_neardup", "q_ann_bruteforce", "q_ann_ivf_assign",
    "q_events_sessionize", "q_events_windowed", "q_window_funcs",
]


def noop(df) -> None:
    """Force ``df`` end-to-end through the noop sink."""
    df.write.format("noop").mode("overwrite").save()


def compile_count(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM so far
    (cache misses; in local mode the executors share the driver's
    cache and counter)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@contextmanager
def py4j_calls():
    """Count the py4j commands the process sends to the JVM inside the
    block, from every thread; yields a one-item list holding the count."""
    from py4j.clientserver import ClientServerConnection

    n = [0]
    send = ClientServerConnection.send_command

    def counted(self, command):
        n[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counted
    try:
        yield n
    finally:
        ClientServerConnection.send_command = send


def timed(
    spark,
    thunks: dict[str, Callable],
    reps: int,
    compiles: dict[str, int] | None = None,
    calls: dict[str, int] | None = None,
) -> dict[str, list[float]]:
    """Wall seconds of each named thunk, ``reps`` samples per name.

    Each thunk builds a DataFrame; a sample is the thunk call plus
    :func:`noop` on its result. Reps are interleaved round-robin
    (a, b, a, b, ...) so a burst of machine contention spreads over
    every name instead of landing on one name's reps, and the cache is
    cleared before each call so a slot that persists its shared scan
    pays that scan in every sample. With ``compiles``, each name's
    :func:`compile_count` delta over its samples (read outside the
    timed span) is added to it, so a wall that swings can be checked
    against code generation. With ``calls``, each name's py4j commands
    over its samples (:func:`py4j_calls`) are added to it the same way."""
    samples: dict[str, list[float]] = {name: [] for name in thunks}
    for _ in range(reps):
        for name, thunk in thunks.items():
            spark.catalog.clearCache()
            c0 = compile_count(spark) if compiles is not None else 0
            with py4j_calls() if calls is not None else nullcontext([0]) as n:
                t0 = time.perf_counter()
                noop(thunk())
                samples[name].append(time.perf_counter() - t0)
            if compiles is not None:
                compiles[name] = compiles.get(name, 0) + compile_count(spark) - c0
            if calls is not None:
                calls[name] = calls.get(name, 0) + n[0]
    return samples


def _slots(spark, names, sf_dir: str) -> dict[str, Callable]:
    from dask_awkward_sandbox_spark.plans import QUERIES

    return {name: (lambda q=QUERIES[name]: q(spark, sf_dir)) for name in names}


def skew_demo(spark, sf_dir: str, reps: int) -> dict:
    """Min walls of a planted-hot-key join, plain vs salted: 90% of
    x16-amplified lineitem lands on ONE part key, joins the part dim
    and hashes each row. With broadcast and AQE skew-splitting off,
    the plain join pins the hot key on one reducer; salted_join
    scatters it (its contract is unit-tested in test_plans.py)."""
    from contextlib import ExitStack

    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark.operators.joins import salted_join
    from dask_awkward_sandbox_spark.session import scoped_conf

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    hot = F.when(F.rand(7) < 0.9, F.lit(1)).otherwise(F.col("l_partkey"))
    big = li.select(hot.alias("k"), "l_quantity").withColumn(
        "_r", F.explode(F.sequence(F.lit(1), F.lit(16)))
    )
    small = part.select(F.col("p_partkey").alias("k"), "p_brand")

    def agg(joined):
        cols = F.concat_ws("|", F.col("p_brand"), F.col("l_quantity"), F.col("_r"))
        return joined.groupBy("p_brand").agg(F.sum(F.length(F.sha2(cols, 256))).alias("s"))

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "false",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    with ExitStack() as stack:
        for k, v in overrides.items():
            stack.enter_context(scoped_conf(spark, k, v))
        plans = {
            "plain": lambda: agg(big.join(small, "k")),
            "salted": lambda: agg(salted_join(big, small, "k", salts=32)),
        }
        samples = timed(spark, plans, reps)
    return {label: round(min(s), 3) for label, s in samples.items()}


def _plan_signature(df) -> dict[str, int]:
    """Multiset of physical-operator names in the initial plan (AQE
    re-planning not captured, file-specific scan details stripped):
    a plan that flips operators across the scale step is being
    re-strategized by data size, which the scale probe surfaces."""
    import re
    from collections import Counter

    from dask_awkward_sandbox_spark.core import visualize

    ops = []
    for line in visualize(df).splitlines():
        m = re.match(r"\s*\((\d+)\)\s+([A-Za-z][A-Za-z0-9 ]*?)(?:\s*$|\s{2,})", line)
        if m:
            name = m.group(2).strip()
            # "Scan parquet default.xyz" -> "Scan parquet"
            if name.startswith("Scan "):
                name = " ".join(name.split()[:2])
            ops.append(name)
    return dict(Counter(ops))


def sf_of(sf_dir: str) -> float | str:
    """The scale factor a dataset directory names (``.../sf0.1`` ->
    0.1), or the text after its last "sf" when that is no number."""
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(sf)
    except ValueError:
        return sf


def scale_probe(spark, base_dir: str, base_timings: dict[str, float], reps: int) -> dict | None:
    """Scale block: every headliner + the skew demo at the scale dir
    (sf1 by default), with per-query growth vs the ``base_dir`` cells
    and whether the physical plan kept the same operator multiset
    across the step. Labels name the two dirs' scale factors."""
    import subprocess

    if os.environ.get("SPARK_GRAFT_SKIP_SCALE") == "1":
        return None
    scale_dir = os.environ.get("SPARK_GRAFT_SCALE_DIR", os.path.join(ROOT, ".scaledata", "sf1"))
    lo, hi = (
        f"sf{sf:g}" if isinstance(sf, float) else f"sf{sf}"
        for sf in (sf_of(base_dir), sf_of(scale_dir))
    )
    if not os.path.isdir(os.path.join(scale_dir, "lineitem.parquet")):
        script = os.path.join(ROOT, "scripts", "make_scaled_sf.py")
        rc = subprocess.run(
            [sys.executable, script, base_dir, scale_dir], capture_output=True, timeout=1200
        ).returncode
        if rc != 0 or not os.path.isdir(os.path.join(scale_dir, "lineitem.parquet")):
            return {"error": f"{hi} generation failed"}

    from dask_awkward_sandbox_spark.plans import QUERIES

    plan_stable: dict[str, bool] = {}
    plan_delta: dict[str, dict] = {}
    for name in HEADLINERS:
        sig0 = _plan_signature(QUERIES[name](spark, base_dir))
        sig1 = _plan_signature(QUERIES[name](spark, scale_dir))
        plan_stable[name] = sig0 == sig1
        if sig0 != sig1:
            plan_delta[name] = {
                f"only_{lo}": {k: v for k, v in sig0.items() if sig1.get(k) != v},
                f"only_{hi}": {k: v for k, v in sig1.items() if sig0.get(k) != v},
            }
    samples = timed(spark, _slots(spark, HEADLINERS, scale_dir), reps)
    timings = {name: round(min(s), 3) for name, s in samples.items()}
    out = {
        "sf": sf_of(scale_dir),
        "dir": scale_dir,
        "value": round(sum(timings.values()), 3),
        "queries": timings,
        f"growth_vs_{lo}": {
            k: round(v / base_timings[k], 2) for k, v in timings.items() if base_timings.get(k)
        },
        "plans_stable": all(plan_stable.values()),
        "plan_stable": plan_stable,
        "skew_demo": skew_demo(spark, scale_dir, 1),
    }
    if plan_delta:
        out["plan_delta"] = plan_delta
    return out


def gate_nonheadliner(spark, sf_dir: str) -> dict:
    """One-rep walls for every registered slot bench does not
    headline, so cost moved between slots stays visible."""
    from dask_awkward_sandbox_spark.plans import QUERIES

    names = [n for n in QUERIES if n not in HEADLINERS]
    walls = {n: round(s[0], 2) for n, s in timed(spark, _slots(spark, names, sf_dir), 1).items()}
    return {"total": round(sum(walls.values()), 2), "queries": walls}


def local_dirs(spark) -> str:
    """The shuffle/spill roots Spark actually uses: SPARK_LOCAL_DIRS
    overrides ``spark.local.dir``, which defaults to java.io.tmpdir."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.sc().conf()
    return ",".join(jvm.org.apache.spark.util.Utils.getConfiguredLocalDirs(conf))


def main() -> None:
    from dask_awkward_sandbox_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    spark = get_spark("dwax-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup at sf0.001: loads classes, warms the JIT and leaves the
    # size-independent generated classes in the codegen cache
    timed(spark, _slots(spark, HEADLINERS, DEFAULT_SF_DIR), 1)
    compiles: dict[str, int] = {}
    calls: dict[str, int] = {}
    samples = timed(spark, _slots(spark, HEADLINERS, sf_dir), reps, compiles, calls)
    # 2dp keeps the final line inside the driver's ~2000-char tail
    # capture (tests/test_bench_contract.py pins the worst-case width)
    timings = {name: round(min(s), 2) for name, s in samples.items()}
    spread = {name: [round(min(s), 3), round(max(s), 3)] for name, s in samples.items()}

    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_of(sf_dir),
        "gate_nonheadliner": gate_nonheadliner(spark, sf_dir),
    }
    aux = {
        "metric": "bench_aux",
        "spread_min_max": spread,
        "codegen_compiles": {"total": sum(compiles.values()), "queries": compiles},
        "py4j_calls": {"total": sum(calls.values()), "queries": calls},
        "skew_demo": skew_demo(spark, sf_dir, reps),
        "spark.local.dir": local_dirs(spark),
    }
    scale_reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "2"))
    probe = scale_probe(spark, sf_dir, timings, scale_reps)
    if probe is not None:
        aux["scale_probe"] = probe
    print(json.dumps(aux), flush=True)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
