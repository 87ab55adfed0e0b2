"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full compute, no
driver collect). First a warmup pass on sf0.001 primes the JVM.

A second SCALE-PROBE block (r5, "scale_probe" key) reruns every
headliner + the skew demo at sf1 — a 10x dataset derived from the
driver's sf0.1 by scripts/make_scaled_sf.py (auto-generated under
.scaledata/ on first run) — recording per-query growth factors and a
physical-plan-stability check across the 10x step. Disable with
SPARK_GRAFT_SKIP_SCALE=1; point elsewhere with SPARK_GRAFT_SCALE_DIR.
"""

from __future__ import annotations

import json
import os
import sys
import time

# r2 renames (see BASELINE.md for the r01-name mapping): q_with_field
# -> q_zip_with_field, q_sort -> q_sort_argsort, q_combinations ->
# q_cartesian_combinations, q_token_count + q_fingerprint ->
# q_text_metrics, q_ann_ivf -> q_ann_ivf_assign; q_embedding_neardup
# (LSH-blocked) newly tracked.
# r3 merges: q_reduce_sum folded into q_reduce_order_count;
# q_str_split_classify (+shape_pad +match_replace) folded into the
# single-scan q_str_surface; q_window_funcs + q16_supplier_breadth
# newly tracked.
# r5 merges: q_reduce_stats (mean/var/std/moments) folded into the
# q_reduce_order_count fused accumulator; q_text_metrics gained the
# repetition + PII legs (does strictly more work than its r4 shape);
# q_corpus_curation newly tracked.
# r5 late merges (gate-slot surgery to value-oracle the new
# relational + curation operators per-round): q_minhash_sig folded
# into q_dedup_minhash (sig + LSH-pair legs, tracked under the new
# name); q_simhash_neardups folded into q_dedup_simhash (sig + pair
# legs); q_ngram_jaccard folded into q_dedup_exact; newly tracked:
# q_dedup_paragraph, q_asof_join, q_range_join.
# r6 late additions (net-new headliners, no renames): q_lm_perplexity
# (bigram-LM train+score), q_interval_join, q_data_mixture — three of
# the six late-r6 gate slots (q_knn_join/q_tf_idf/q_kmeans stay
# smoke-panel-only; knn duplicates ivf_assign's tracked GEMM work).
# r6 retrack: q_embedding_neardup is now the CLUSTER-COLLAPSE form
# (embedding_neardup_clusters — linear output; the r5 slot was the
# output-quadratic pair lister, 15.7x wall at 10x data, demoted to
# the aux neardup_pair_lister probe block + pytest).
# r7 gate surgery (registry 56 -> 50 so every slot gets a driver
# correctness row): q_zip_with_field folded into
# q_cartesian_combinations (zip/unzip/with_field legs off the shared
# build); q_fit_corr into q_reduce_order_count (r8: FUSED into the
# single-pass struct accumulator as 8 more pair sums — join-free,
# exchange-reused); q_num_firsts_mask into q_sort_argsort;
# q_run_lengths into q_flatten_softmax; q_reduce_axis_none into
# q_concatenate; q_map_partitions into q_parquet_roundtrip. The three
# tracked names among these (q_reduce_order_count, q_sort_argsort,
# q_cartesian_combinations) each carry strictly MORE legs than their
# r6 shapes.
# BASELINE.md's r01 rows mapped onto today's slot names (r10, verdict
# item 8 — the grading ratio the verdicts computed by hand now rides
# in the artifact). Merge-aware: q_with_field's 1.274 is EXCLUDED
# (folded into q_cartesian_combinations, already counted via
# q_combinations' row); q_token_count + q_fingerprint both map onto
# the single q_text_metrics slot so their baseline seconds add.
# Sum = 21.376s — the "21.38" the r8/r9 verdicts graded against.
BASELINE_MAPPED = {
    "q1_pricing_summary": 0.769,
    "q3_shipping_priority": 1.185,
    "q5_local_supplier": 1.102,
    "q6_forecast_revenue": 0.335,
    "q18_large_orders": 0.961,
    "q_reduce_order_count": 1.787,   # r01 q_reduce_sum
    "q_sort_argsort": 1.213,         # r01 q_sort
    "q_cartesian_combinations": 1.500,  # r01 q_combinations
    "q_str_surface": 0.352,          # r01 q_str_split_join
    "q_text_metrics": 0.889,         # r01 q_token_count + q_fingerprint
    "q_dedup_minhash": 0.959,        # r01 q_minhash_sig
    "q_dedup_minhash_clusters": 4.375,
    "q_dedup_simhash": 1.599,
    "q_ann_bruteforce": 1.218,
    "q_ann_ivf_assign": 1.923,       # r01 q_ann_ivf
    "q_events_sessionize": 0.798,
    "q_events_windowed": 0.411,
}

# The r01 record's q1_pricing_summary wall (BENCH_r01.json) — the
# box-speed control. q1's code and plan are unchanged since r1, so
# (this run's q1 min) / Q1_CONTROL_R01 is the box factor any
# round-over-round comparison must normalize by (r11 read 45.6s total
# purely because the box ran 1.48x slower than r10's recording; the
# r12 verdict item 3 asks the artifact to self-document this).
Q1_CONTROL_R01 = 0.769

# r14 (verdict item 1a): a SINGLE q1 control cannot arbitrate per-slot
# deltas — its own wall swung 0.59-1.95s within three hours in r13.
# box_factor is now the MEDIAN ratio over four plan-stable controls
# (code and plan unchanged since r1; rows from BENCH_r01.json), so one
# control landing inside a load burst no longer poisons the
# normalization. Per-control ratios ride the aux line (box_controls).
BOX_CONTROLS_R01 = {
    "q1_pricing_summary": 0.769,
    "q3_shipping_priority": 1.185,
    "q6_forecast_revenue": 0.335,
    "q18_large_orders": 0.961,
}

# r15 (verdict items 1+7): isolated fresh-JVM min-of-3 cells for the
# slots the r14 PERF table could not arbitrate — the seven headliners
# that "regressed" with zero code change (box-corrected 2-3x, all in
# the overhead-bound sub-second class) plus q_knn_join (whose isolated
# cell previously rode only the truncated aux line). The per-slot
# values ride the FINAL line as an array in THIS order (the named dict
# rides the aux line); q_dedup_simhash, the seventh flagged slot, is
# BASELINE_MAPPED so its isolated cell already rides the mapped block.
ISO_EXTRA = [
    "q_asof_join",
    "q_data_mixture",
    "q_dedup_paragraph",
    "q_interval_join",
    "q_knn_join",
    "q_range_join",
    "q_window_funcs",
]

HEADLINERS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q18_large_orders",
    "q16_supplier_breadth",
    "q_reduce_order_count",
    "q_sort_argsort",
    "q_cartesian_combinations",
    "q_str_surface",
    "q_text_metrics",
    "q_corpus_curation",
    # r6: bigram-LM perplexity scoring (functions/lm.py) — train +
    # score is three corpus scans; the probe watches the count-join
    # growth alongside the other text-family slots
    "q_lm_perplexity",
    # r6: newly tracked — the slot gained the substring-dup 'dupspan'
    # leg (duplicate_ngram_spans), whose growth behavior at sf1 the
    # probe should watch alongside the other dedup family members
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_dedup_minhash_clusters",
    "q_dedup_simhash",
    "q_dedup_paragraph",
    "q_asof_join",
    "q_range_join",
    # r6: the interval-overlap sibling + the mixture plan (both cheap;
    # tracked for growth shape, not weight)
    "q_interval_join",
    "q_data_mixture",
    "q_embedding_neardup",
    "q_ann_bruteforce",
    "q_ann_ivf_assign",
    "q_events_sessionize",
    "q_events_windowed",
    "q_window_funcs",
]


def skew_demo(spark, sf_dir: str, reps: int, min_reps: int = 3) -> dict:
    """Planted-hot-key join: 90% of (x16-amplified) lineitem lands on
    ONE part key, then joins the part dim and does per-row work (a
    digest — the proxy for real downstream feature computation).
    Broadcast and AQE skew-splitting are disabled for the measurement
    so the raw shuffle-join skew is visible: the plain join pins the
    hot key's rows (and all their per-row work) on one reducer,
    salted_join scatters them across the salt space. Records both —
    the delta is the salt path's value (SURVEY §7 r3+ item; the
    correctness + scatter contract is unit-tested in test_plans.py).
    Measured on this box: plain ~11.7s vs salted ~5.9s.
    """
    import time

    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark.operators.joins import salted_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    hot = F.when(F.rand(7) < 0.9, F.lit(1)).otherwise(F.col("l_partkey"))
    big = li.select(hot.alias("k"), "l_quantity").withColumn(
        "_r", F.explode(F.sequence(F.lit(1), F.lit(16)))
    )
    small = part.select(F.col("p_partkey").alias("k"), "p_brand")

    def agg(joined):
        work = F.length(
            F.sha2(
                F.concat_ws("|", F.col("p_brand"), F.col("l_quantity"), F.col("_r")), 256
            )
        )
        return joined.groupBy("p_brand").agg(F.sum(work).alias("s"))

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "false",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    from contextlib import ExitStack

    from dask_awkward_sandbox_spark.session import scoped_conf

    with ExitStack() as stack:
        for k, v in overrides.items():
            stack.enter_context(scoped_conf(spark, k, v))
        # INTERLEAVED reps: box contention comes in bursts, so
        # back-to-back per-variant reps can land one variant entirely
        # inside a burst and invert the comparison; alternating gives
        # both variants the same exposure and min-of-3 drops the burst
        plans = {
            "plain": agg(big.join(small, "k")),
            "salted": agg(salted_join(big, small, "k", salts=32)),
        }
        best: dict[str, float] = {}
        for _ in range(max(reps, min_reps)):
            for label, p in plans.items():
                t0 = time.perf_counter()
                p.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best[label] = min(best.get(label, dt), dt)
        out = {label: round(v, 3) for label, v in best.items()}
    return out


def _plan_signature(df) -> dict[str, int]:
    """Multiset of physical-operator names in the (initial) plan —
    the cross-SF stability check: a query whose plan flips operators
    between sf0.1 and sf1 is being re-strategized by data size, which
    the scale probe must surface. AQE runtime re-planning is
    intentionally NOT captured (the initial plan is the comparable
    artifact); file-specific scan details are stripped."""
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


def scale_probe(spark, base_timings: dict[str, float], reps: int) -> dict | None:
    """10x scale block (VERDICT r4 item 1): run every headliner + the
    skew demo at sf1 (generated from the driver's sf0.1 by
    scripts/make_scaled_sf.py — key-offset replication with
    cross-copy decorrelation of documents/embeddings), record
    per-query growth vs the sf0.1 block and whether the physical plan
    kept the same operator multiset across the 10x step."""
    import subprocess

    if os.environ.get("SPARK_GRAFT_SKIP_SCALE") == "1":
        return None
    scale_dir = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/root/repo/.scaledata/sf1")
    if not os.path.isdir(os.path.join(scale_dir, "lineitem.parquet")):
        rc = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "scripts", "make_scaled_sf.py")],
            capture_output=True,
            timeout=1200,
        ).returncode
        if rc != 0 or not os.path.isdir(os.path.join(scale_dir, "lineitem.parquet")):
            return {"error": "sf1 generation failed"}

    from dask_awkward_sandbox_spark.plans import QUERIES

    timings: dict[str, float] = {}
    growth: dict[str, float] = {}
    plan_stable: dict[str, bool] = {}
    plan_delta: dict[str, dict] = {}
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for name in HEADLINERS:
        sig0 = _plan_signature(QUERIES[name](spark, base_dir))
        sig1 = _plan_signature(QUERIES[name](spark, scale_dir))
        plan_stable[name] = sig0 == sig1
        if sig0 != sig1:
            plan_delta[name] = {
                "only_sf0.1": {k: v for k, v in sig0.items() if sig1.get(k) != v},
                "only_sf1": {k: v for k, v in sig1.items() if sig0.get(k) != v},
            }
        samples = []
        for _ in range(reps):
            # r12: gate slots persist their shared scan; clear so every
            # rep pays the scan (min-of-reps must not read warm cache)
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            QUERIES[name](spark, scale_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(min(samples), 3)
        if base_timings.get(name):
            growth[name] = round(timings[name] / base_timings[name], 2)
    out = {
        "sf": 1.0,
        "dir": scale_dir,
        "value": round(sum(timings.values()), 3),
        "queries": timings,
        "growth_vs_sf0.1": growth,
        "plans_stable": all(plan_stable.values()),
        "plan_stable": plan_stable,
        "skew_demo": skew_demo(spark, scale_dir, 1, min_reps=1),
        # r6: the q_embedding_neardup SLOT is now the cluster-collapse
        # form (linear output), so the slot's own growth row above is
        # the scale story. The demoted pair LISTER is recorded here as
        # the aux block instead — its wall grows with its output
        # (642 -> 42,713 true >=0.4 pairs at 10x on clustered
        # embeddings), which is WHY it was demoted from the gate.
        "neardup_pair_lister": _neardup_pairs_growth(spark, base_dir, scale_dir),
    }
    if plan_delta:
        out["plan_delta"] = plan_delta
    return out


def _neardup_pairs_growth(spark, base_dir: str, scale_dir: str) -> dict:
    """Wall-clock + output-pair count of the demoted pair LISTER
    (similarity.neardup_pairs_blocked, adaptive planes) at sf0.1 and
    sf1 — one rep each; its growth is output-bound by design and this
    block keeps that documented in the record."""
    from dask_awkward_sandbox_spark.functions.similarity import (
        adaptive_planes,
        neardup_pairs_blocked,
    )

    out: dict[str, float] = {}
    pairs: dict[str, int] = {}
    for key, d in (("sf0.1", base_dir), ("sf1", scale_dir)):
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        planes = adaptive_planes(emb.count(), target_occupancy=250)
        q = neardup_pairs_blocked(emb, dim=64, threshold=0.4, planes=planes, tables=6)
        t0 = time.perf_counter()
        q.write.format("noop").mode("overwrite").save()
        out[key] = round(time.perf_counter() - t0, 3)
        pairs[key] = q.count()
    out["growth"] = round(out["sf1"] / out["sf0.1"], 2)
    out["output_pairs"] = pairs
    return out


def gate_nonheadliner(spark, sf_dir: str) -> dict:
    """Walls for the registered gate slots bench does NOT headline
    (r12, verdict item 3): r11 moved the ~8s streaming-IVF legs from a
    baseline-mapped headliner into q_knn_join — defensible, but it made
    total gate cost invisible round-over-round. One rep per slot keeps
    relocated costs observable in the artifact; these are NOT graded
    against baseline rows (none exist for them), just tracked."""
    from dask_awkward_sandbox_spark.plans import QUERIES

    walls: dict[str, float] = {}
    for name in QUERIES:
        if name in HEADLINERS:
            continue
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        walls[name] = round(time.perf_counter() - t0, 2)
    return {"total": round(sum(walls.values()), 2), "queries": walls}


def isolated_main(slots: list[str], reps: int, sf_dir: str) -> None:
    """Subprocess mode (r14, verdict items 1b+4): time the given slots
    min-of-``reps`` in a FRESH session — fresh JVM, fresh Python
    workers, zero cache — so the cells are free of the 50-slot panel's
    session aging (three rounds of hand-re-measured 3x inflation on
    the Python-worker slots made this a standing mode, not a prose
    note).

    DEEP warmup (late r14): the first recorded isolated run read
    systematically HIGH — complex slots 1.3-3x their warm-panel cells
    (q_events_windowed 3.88 vs 1.25) while the simple control scans
    moved only ~10%, so the in-session normalization could not cancel
    it. A per-rep probe showed fresh-session walls still improving at
    rep 6 (4.61, 3.06, 4.08, 2.34, 2.70, ... toward the panel cell):
    C2 JIT compilation of Spark's aggregate/codegen internals, which
    hits complex plans hardest and which the panel session has fully
    amortized by the time it measures (100+ prior queries). A tiny-SF
    pass compiles the generated classes but not the hot interpreter
    paths, so warmup here is the sf0.001 pass PLUS two full passes
    over the slot list AT TARGET SF before any timing — the timed
    min-of-``reps`` then measures steady-state plan execution in a
    session whose Python-worker population comes from these slots
    alone (the aging-free cell the block exists for), not JIT ramp.
    Prints ONE JSON line {slot: wall} and exits."""
    from dask_awkward_sandbox_spark.plans import QUERIES
    from dask_awkward_sandbox_spark.session import get_spark

    spark = get_spark("dwax-bench-isolated")
    spark.sparkContext.setLogLevel("ERROR")
    for name in slots:  # codegen compile at tiny SF
        QUERIES[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
    for _ in range(2):  # JIT steady-state at target SF
        for name in slots:
            spark.catalog.clearCache()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
    # INTERLEAVED reps (the skew_demo lesson): box contention comes in
    # bursts, so back-to-back reps of one slot can land entirely inside
    # a burst and poison its min — a validation run on a burst patch
    # read q_dedup_simhash 9.23s where calm runs read 3.4-4.2s.
    # Round-robin gives every slot exposure across the whole window.
    samples: dict[str, list[float]] = {name: [] for name in slots}
    for _ in range(reps):
        for name in slots:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(time.perf_counter() - t0)
    walls = {name: round(min(s), 3) for name, s in samples.items()}
    print(json.dumps(walls))
    sys.stdout.flush()


def run_isolated(slots: list[str], reps: int, sf_dir: str) -> dict:
    """Launch isolated_main in a subprocess; {} with an error key on
    any failure so the driver's bench run never dies on the probe."""
    import subprocess

    try:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--slots", ",".join(slots), "--reps", str(reps),
             "--sf-dir", sf_dir],
            capture_output=True, timeout=1500, text=True,
        )
        lines = [ln for ln in p.stdout.strip().splitlines() if ln.startswith("{")]
        if p.returncode != 0 or not lines:
            return {"error": f"rc={p.returncode}", "tail": p.stderr[-200:]}
        return json.loads(lines[-1])
    except Exception as exc:  # noqa: BLE001 — record, don't crash
        return {"error": str(exc)[:200]}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--slots" in sys.argv:
        i = sys.argv.index("--slots")
        slots = sys.argv[i + 1].split(",")
        reps = int(sys.argv[sys.argv.index("--reps") + 1]) if "--reps" in sys.argv else 3
        if "--sf-dir" in sys.argv:
            sf_dir = sys.argv[sys.argv.index("--sf-dir") + 1]
        isolated_main(slots, reps, sf_dir)
        return
    from dask_awkward_sandbox_spark.plans import QUERIES
    from dask_awkward_sandbox_spark.session import get_spark

    spark = get_spark("dwax-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: run every headliner at tiny SF so codegen compile + JIT
    # happen before the timed pass — numbers measure plan execution,
    # not first-call compilation
    for name in HEADLINERS:
        QUERIES[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()

    # min over reps: single measurements wobble far more than ±20% on a
    # shared box (r3 recorded 6.5s for a query that steady-states at
    # 1.7-1.9s); the min is the steady-state plan-execution cost being
    # graded, and the max is emitted alongside so noise is visible in
    # the record instead of silently polluting round-over-round deltas.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    # r11 (verdict item 7): three slots drifted +-0.1s across r8-r10
    # with unchanged plans — box variance, visible in their spread.
    # They are cheap; min-of-5 stops the artifact reading noise as
    # regression. r13 adds q_dedup_minhash_clusters: the iterative
    # localCheckpoint rounds make its wall scheduler-latency-bound, so
    # it swings independently of the throughput-bound q1 control (a
    # bad box patch recorded [13.8, 25.6] in-run where the isolated
    # box-normalized min is ~4.6s, flat since r11 — and the SAME run's
    # sf1 cell was 7.98s on 10x the data, proving the sf0.1 cell was
    # latency, not compute).
    extra_reps = {
        "q_lm_perplexity": 5,
        "q_dedup_exact": 5,
        "q_text_metrics": 5,
        "q_dedup_minhash_clusters": 5,
    }
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in HEADLINERS:
        samples = []
        for _ in range(max(reps, extra_reps.get(name, 0))):
            # r12: gate slots persist their shared scan; clear so every
            # rep pays the scan (min-of-reps must not read warm cache)
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        # 2dp: the final line must stay inside the driver's ~2000-char
        # tail capture now that the isolated block rides it (r14)
        timings[name] = round(min(samples), 2)
        spread[name] = [round(min(samples), 3), round(max(samples), 3)]

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    # Output contract (r7 fix, third time's the charm — BENCH_r05 AND
    # BENCH_r06 both recorded parsed:null): the driver captures only
    # the last ~2000 chars of stdout and parses the FINAL line as the
    # headline JSON. r6 moved the scale-probe block to its own line
    # but left spread_min_max + skew_demo on the final line, which at
    # 29 headliners is ~2.9k chars — the tail capture starts MID-line
    # and the parse fails. So: the final line carries ONLY
    # {metric, value, unit, queries, sf} (~1.1k chars at today's slot
    # count); spread and skew_demo ride the preceding aux line with
    # the probe. tests/test_bench_contract.py builds the final line
    # for the CURRENT headliner count and asserts it fits.
    base_total = round(sum(BASELINE_MAPPED.values()), 3)
    mapped_total = round(sum(timings[k] for k in BASELINE_MAPPED if k in timings), 3)
    # r14 (verdict item 1a): box_factor = MEDIAN over the four
    # plan-stable controls, not the single q1 wall (see BOX_CONTROLS_R01)
    ctrl_ratios = {
        k: round(timings[k] / v, 3) for k, v in BOX_CONTROLS_R01.items()
    }
    box_factor = sorted(ctrl_ratios.values())[1:3]
    box_factor = round(sum(box_factor) / 2, 3)  # median of 4 = mean of middle two
    # r14 (verdict items 1b+4): isolated min-of-3 of every
    # baseline-mapped slot in a FRESH subprocess session, emitted on
    # the final line so the grading gate is decidable from the driver
    # artifact. The per-slot values ride as an ARRAY in
    # sorted(BASELINE_MAPPED) key order — the full named dict (~550
    # chars) would push the final line past the driver's ~2000-char
    # tail capture; the named copy rides the aux line.
    iso_block: dict = {}
    iso_named: dict = {}
    iso_extra_named: dict = {}
    if os.environ.get("SPARK_GRAFT_SKIP_ISOLATED") != "1":
        iso_named = run_isolated(sorted(BASELINE_MAPPED), 3, sf_dir)
        # r15 (verdict items 1+7): the flagged non-mapped slots get
        # their own fresh-JVM isolated min-of-3 cells, final-line
        # visible (array in ISO_EXTRA order; -1 marks a failed probe)
        iso_extra_named = run_isolated(ISO_EXTRA, 3, sf_dir)
        if "error" not in iso_named:
            iso_total = round(sum(iso_named.values()), 2)
            # normalize by the median box control measured IN the
            # isolated session itself (all four controls are mapped
            # slots, so their isolated cells exist) — the cells and
            # their normalizer must share a session or aging skews one
            iso_ctrl = sorted(
                iso_named[k] / v for k, v in BOX_CONTROLS_R01.items()
            )[1:3]
            iso_box = round(sum(iso_ctrl) / 2, 3)
            # final-line budget (r15: total and box moved to the aux
            # line — both derivable from vals + source constants; the
            # freed chars pay for iso_extra): "keys" doc — vals ride
            # in sorted(BASELINE_MAPPED) order, pinned by the contract
            # test + the aux line's named dict
            iso_block = {
                "vals": [round(iso_named[k], 2) for k in sorted(BASELINE_MAPPED)],
                "norm": round(iso_total / base_total / iso_box, 3)
                if iso_box else None,
            }
        else:
            iso_block = iso_named
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        # the BASELINE.md-mapped grading ratio (see BASELINE_MAPPED).
        # r15 final-line budget: baseline_total is a source constant
        # (21.376) and mapped_total = ratio x it (also re-derivable by
        # summing the mapped slots' in-panel cells above) — both moved
        # to the aux line so iso_extra fits the driver's tail capture
        "baseline_mapped": {
            "ratio": round(mapped_total / base_total, 3),
        },
        "baseline_mapped_isolated": iso_block,
        # isolated fresh-JVM cells for the ISO_EXTRA slots, in that
        # order (named dict on the aux line; -1 = probe failed)
        "iso_extra": [
            round(iso_extra_named.get(k, -1), 2) for k in ISO_EXTRA
        ] if iso_extra_named and "error" not in iso_extra_named
        else iso_extra_named,
        "box_factor": box_factor,
        # r13 (verdict item 5): the non-headliner gate-slot walls ride
        # the FINAL line — the driver's ~2000-char tail capture
        # truncated them out of BENCH_r12 when they lived on the aux
        # line. 2-decimal walls keep the worst-case line in budget
        # (tests/test_bench_contract.py pins the width).
        "gate_nonheadliner": gate_nonheadliner(spark, sf_dir),
    }
    # r14 (verdict item 6, GENERALIZED late-r14): measure the
    # r01-equivalent shape of EVERY mapped slot that carries extra
    # legs (plans/r01_shapes.py — same operators/parameters as the
    # BENCH_r01 slots, on today's engine), so slot-wall / r01-row
    # stops conflating added work with regression. Per-shape cells
    # ride this aux line; the shape-total vs row-total ratio (the
    # comparable-work parity answer) rides the final line. Interleaved
    # reps, same burst rationale as isolated_main.
    from dask_awkward_sandbox_spark.plans.r01_shapes import R01_SHAPES

    shape_items = [
        (slot, nm, row, fn)
        for slot, lst in R01_SHAPES.items()
        for (nm, row, fn) in lst
    ]
    for _, _, _, fn in shape_items:  # codegen warmup (session is JIT-warm)
        fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
    shape_samples: dict[str, list[float]] = {nm: [] for _, nm, _, _ in shape_items}
    for _ in range(reps):
        for _, nm, _, fn in shape_items:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            shape_samples[nm].append(time.perf_counter() - t0)
    shape_walls = {nm: round(min(s), 3) for nm, s in shape_samples.items()}
    r01_aux = {}
    for slot, lst in R01_SHAPES.items():
        wall = round(sum(shape_walls[nm] for nm, _, _ in lst), 3)
        rows = round(sum(r for _, r, _ in lst), 3)
        r01_aux[slot] = {
            "full_slot": timings.get(slot),
            "shapes": {nm: shape_walls[nm] for nm, _, _ in lst},
            "rows": rows,
            "ratio": round(wall / rows, 3),
        }
    shape_total = round(sum(shape_walls.values()), 2)
    shape_rows_total = round(
        sum(r for lst in R01_SHAPES.values() for _, r, _ in lst), 3
    )
    # "rows" (the fixed baseline-rows constant) rides only the aux
    # line's per-slot table; r15: "ratio" (= wall / the 9.94 rows
    # constant) moved to the aux table too — derivable, and the freed
    # final-line chars pay for iso_extra
    out["r01_shapes"] = {"wall": shape_total}
    aux = {
        "metric": "bench_aux",
        "spread_min_max": spread,
        "box_controls": ctrl_ratios,
        "baseline_mapped_full": {
            "baseline_total": base_total,
            "mapped_total": mapped_total,
        },
        "r01_shapes_ratio": round(shape_total / shape_rows_total, 3),
        "r01_shape_ratios": r01_aux,
        "baseline_mapped_isolated_named": iso_named,
        # named form of the final line's iso_extra array (r15 —
        # supersedes r14's single-slot isolated_nonmapped block:
        # q_knn_join now rides ISO_EXTRA with the verdict-flagged set)
        "iso_extra_named": iso_extra_named,
        "skew_demo": skew_demo(spark, sf_dir, reps),
    }
    # min-of-2 at sf1: the sf0.1 warmup does not warm the sf1 dataset
    # (fresh file listing, codegen, AQE stats), and a single rep
    # records that first-call cost as fake growth — measured 6.4s
    # first call vs 0.74s steady on q_window_funcs. One extra rep
    # (~2 min) buys growth factors that reflect the plan, not the JIT.
    scale_reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "2"))
    probe = scale_probe(spark, timings, scale_reps)
    if probe is not None:
        aux["scale_probe"] = probe
    print(json.dumps(aux))
    sys.stdout.flush()
    print(json.dumps(out))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
