"""knn_join (functions/similarity.py): corpus x corpus top-k
similarity join via IVF-cell blocking.

The exactness anchor: probing every cell (nprobe = nlist) makes the
cell blocking lossless, so the result must equal a numpy brute-force
top-k row-for-row (same rounding, same tie order). Partial probes
are then graded on recall against that exact answer.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from similarity_twins import knn_join_hof

from dask_awkward_sandbox_spark.functions import similarity as sim

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def X(emb):
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, M


def _exact_topk(ids, M, k, exclude_self=True):
    """Brute-force (rounded-cosine desc, id desc) top-k per row."""
    norms = np.linalg.norm(M, axis=1)
    S = np.round((M @ M.T) / np.outer(norms, norms), 6)
    out = {}
    for a in range(len(ids)):
        cand = [
            (S[a, b], ids[b])
            for b in range(len(ids))
            if not (exclude_self and b == a)
        ]
        cand.sort(key=lambda t: (-t[0], -t[1]))
        out[ids[a]] = [(i, s) for s, i in cand[:k]]
    return out


def test_full_probe_equals_brute_force(spark, emb, X):
    ids, M = X
    nlist = 8
    cents = sim.kmeans_train(emb, "embedding", "vec_id", nlist=nlist, iters=0)
    got = sim.knn_join(
        emb, emb, k=5, centroids=cents, nprobe=nlist,
        round_digits=6, exclude_self=True,
    ).collect()
    exp = _exact_topk(ids, M, 5)
    by_id: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r["vec_id"], r["rank"])):
        by_id.setdefault(r["vec_id"], []).append((r["nn_id"], r["cos_sim"]))
    assert set(by_id) == set(ids.tolist())
    assert by_id == {i: exp[i] for i in by_id}


def test_partial_probe_recall(spark, emb, X):
    ids, M = X
    cents = sim.kmeans_train(emb, "embedding", "vec_id", nlist=8, iters=2)
    exp = _exact_topk(ids, M, 5)
    got = sim.knn_join(
        emb, emb, k=5, centroids=cents, nprobe=2,
        round_digits=6, exclude_self=True,
    ).collect()
    hit = sum(
        1
        for r in got
        if r["nn_id"] in {i for i, _ in exp[r["vec_id"]]}
    )
    recall = hit / (len(ids) * 5)
    assert recall >= 0.35  # 2/8 cells probed on near-random vectors


def test_gemm_equals_hof(spark, emb):
    """The cogrouped-GEMM main path and the all-JVM expression form
    are independent derivations — pin them row-equal (both nprobe
    regimes: per-cell-is-global and merged-across-probes)."""
    cents = sim.kmeans_train(emb, "embedding", "vec_id", nlist=8, iters=1)
    for nprobe in (1, 3):
        a = sorted(map(tuple, sim.knn_join(
            emb, emb, k=4, centroids=cents, nprobe=nprobe,
            round_digits=6, exclude_self=True).collect()))
        b = sorted(map(tuple, knn_join_hof(
            emb, emb, k=4, centroids=cents, nprobe=nprobe,
            round_digits=6, exclude_self=True).collect()))
        assert a == b


def test_shapes_and_plan(spark, emb):
    cents = sim.kmeans_train(emb, "embedding", "vec_id", nlist=8, iters=0)
    r = sim.knn_join(
        emb, emb, k=3, centroids=cents, nprobe=1,
        round_digits=6, exclude_self=True,
    )
    plan = r._jdf.queryExecution().executedPlan().toString()
    # per-cell GEMM workers, no product joins anywhere
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the expression form keeps its map-side top-k pushdown
    hof_plan = knn_join_hof(
        emb, emb, k=3, centroids=cents, nprobe=1,
        round_digits=6, exclude_self=True,
    )._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in hof_plan
    assert "CartesianProduct" not in hof_plan
    rows = r.collect()
    n = emb.count()
    assert len(rows) <= n * 3
    assert all(1 <= x["rank"] <= 3 for x in rows)
    assert all(x["vec_id"] != x["nn_id"] for x in rows)
    # ranks are dense per left id
    per = {}
    for x in rows:
        per.setdefault(x["vec_id"], []).append(x["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per.values())


def test_self_inclusion_rank1(spark, emb):
    cents = sim.kmeans_train(emb, "embedding", "vec_id", nlist=8, iters=0)
    r = sim.knn_join(
        emb, emb, k=1, centroids=cents, nprobe=1, round_digits=6,
    )
    rows = r.collect()
    # without exclude_self, everything's nearest neighbor is itself
    # (cos 1.0, and its own cell is always its top probe)
    assert all(x["nn_id"] == x["vec_id"] and x["cos_sim"] == 1.0 for x in rows)


def test_boundary_tie_breaks_to_higher_id(spark):
    """Regression (caught by the sf1 smoke, where decorrelated copies
    produce exact rounded-cosine ties): when candidates at the k-th
    boundary tie on the rounded cosine, the winner must be the HIGHER
    nn_id — an argpartition pre-select chose arbitrarily."""
    import dask_awkward_sandbox_spark.functions.similarity as sim

    # one cell: query 0 plus four identical candidates -> all cosines
    # tie at 1.0; k=2 must keep ids 4 and 3, in that order
    rows = [(i, [1.0, 0.0]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0]]
    out = sim.knn_join(
        df, df, k=2, centroids=cents, nprobe=1, round_digits=6,
        exclude_self=True,
    ).filter("vec_id = 0").orderBy("rank").collect()
    assert [(r["nn_id"], r["rank"]) for r in out] == [(4, 1), (3, 2)]
    hof = knn_join_hof(
        df, df, k=2, centroids=cents, nprobe=1, round_digits=6,
        exclude_self=True,
    ).filter("vec_id = 0").orderBy("rank").collect()
    assert [(r["nn_id"], r["rank"]) for r in hof] == [(4, 1), (3, 2)]


def test_nprobe_exceeding_cells_clamps(spark, emb):
    """nprobe > number of centroids must clamp (the hof form's
    F.slice clamps past-end; the GEMM assignment previously raised a
    numpy broadcast error) — and with every cell probed the result
    equals lossless blocking."""
    cents = sim.kmeans_train(emb, "embedding", "vec_id", nlist=4, iters=0)
    a = sorted(map(tuple, sim.knn_join(
        emb, emb, k=3, centroids=cents, nprobe=8, round_digits=6,
        exclude_self=True).collect()))
    b = sorted(map(tuple, knn_join_hof(
        emb, emb, k=3, centroids=cents, nprobe=8, round_digits=6,
        exclude_self=True).collect()))
    assert a == b and len(a) > 0


def test_zero_norm_vectors_same_contract(spark):
    """Zero-norm vectors (undefined cosine) are dropped by BOTH
    forms — as query and as neighbor — instead of the hof form
    emitting null-cosine trailing ranks."""
    rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.9, 0.1]),
            (3, [0.8, 0.2])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0]]
    a = sorted(map(tuple, sim.knn_join(
        df, df, k=3, centroids=cents, nprobe=1, round_digits=6,
        exclude_self=True).collect()))
    b = sorted(map(tuple, knn_join_hof(
        df, df, k=3, centroids=cents, nprobe=1, round_digits=6,
        exclude_self=True).collect()))
    assert a == b
    assert all(r[0] != 0 and r[1] != 0 for r in a)  # id 0 nowhere
