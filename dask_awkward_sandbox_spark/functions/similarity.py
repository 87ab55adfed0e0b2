"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; the approximate
building blocks: multi-table random-hyperplane LSH buckets, an IVF
index (k-means coarse quantizer + list_id-partitioned index),
product and int8 scalar quantization, the corpus x corpus
``knn_join`` and embedding near-dup clustering. Quantizer training
touches the driver only on a bounded sample.

Scale design (1e9+ vectors): broadcast the (small) query set and
stream the corpus through a single narrow stage for brute force; for
corpus-vs-corpus, LSH buckets bound the pair explosion and the join
is equi on (table, signature) / list_id, shuffling each side once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dask_awkward_sandbox_spark.functions.text_analysis import MOD
from dask_awkward_sandbox_spark.io.io import from_lists


def _round_half_away(a, digits: int):
    """Round-half-AWAY-from-zero on the SCALED BINARY value — the
    rule DuckDB's round() uses (np.round is half-to-EVEN; Spark's
    F.round rounds the shortest-decimal repr instead, which can
    differ by one final digit when the *10^d fold crosses a .5
    boundary the repr doesn't). Every ranked similarity in this
    module — numpy side via this helper, expression side via
    :func:`round_half_away` — uses the scaled-binary rule so the
    GEMM paths, the expression paths, and the SQL oracles agree on
    boundaries."""
    import numpy as np

    s = 10.0 ** digits
    return np.sign(a) * np.floor(np.abs(a) * s + 0.5) / s


def round_half_away(col: Column, digits: int) -> Column:
    """Column twin of :func:`_round_half_away` — sign * floor(|x| *
    10^d + 0.5) / 10^d in plain double arithmetic. Used instead of
    F.round for every RANKED similarity: F.round rounds the
    shortest-decimal REPR of the double (BigDecimal.valueOf), while
    DuckDB's round() and the numpy helper round the scaled binary
    value — three-way agreement (GEMM paths == expression paths ==
    SQL oracles) at .5 boundaries requires all sides on the same
    rule, and the scaled-binary rule is the one two of the three
    already share."""
    sc = F.lit(float(10 ** digits))
    return F.signum(col) * F.floor(F.abs(col) * sc + F.lit(0.5)) / sc


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _dense_rows(arr, dim: int, who: str):
    """An Arrow list column of length-``dim`` vectors as an (n, dim)
    float64 matrix, read straight from its offsets and values buffers
    (no per-row Python lists). Null or ragged vectors raise
    ``ValueError``."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        raise ValueError(f"{who}: null vectors unsupported")
    offs = arr.offsets.to_numpy(zero_copy_only=False)
    if ((offs[1:] - offs[:-1]) != dim).any():
        raise ValueError(f"{who}: vectors must be dense length-{dim}")
    vals = arr.values.to_numpy(zero_copy_only=False).astype(np.float64)
    return vals[offs[0] : offs[-1]].reshape(len(arr), dim)


def dot(a: Column, b: Column) -> Column:
    """Dot product via zip_with + left fold (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine given precomputed norms — the join-side form: norms are
    computed once per ROW before a join, never per pair. (An unrolled
    fixed-dim dot was tried and is SLOWER: 128-term straight-line
    expressions blow the JIT method-size limit and run as interpreted
    bytecode; the HOF fold, though CodegenFallback, wins.)"""
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb))


def cosine(a: Column, b: Column) -> Column:
    return cosine_from_norms(a, b, norm(a), norm(b))


def cosine_pairs_arrow(joined: DataFrame, dim: int, round_digits: int) -> DataFrame:
    """(id_a, id_b, sim) from a joined candidate-pair frame whose
    columns are exactly (id_a, id_b, _va, _vb, _na, _nb) — the Arrow
    twin of filtering on ``round_half_away(cosine_from_norms(...))``.

    r10: per-pair cosines were the second interpreted-HOF hotspot the
    sf100 probe exposed (27.5s of the embedding near-dup run: 37.8M
    candidate edges x 64-dim zip_with+fold). Each Arrow batch computes
    every row-dot as one vectorized einsum; results round through the
    SAME scaled-binary half-away rule as the expression and SQL paths
    (the module-wide contract: rounded similarities are engine-order-
    independent, which is precisely what lets a reassociated numpy dot
    replace the left fold here — unlike the LSH sign bits, which have
    no rounding guard and therefore use the bit-exact cumsum kernel).
    Zero-norm pairs drop, matching the null-cosine filter semantics.
    Pinned equal to the expression form in tests/test_similarity.py."""
    import numpy as np
    import pyarrow as pa

    fields = joined.schema.fields
    ia, ib = fields[0].name, fields[1].name
    ta, tb = fields[0].dataType.simpleString(), fields[1].dataType.simpleString()

    def kernel(batches):
        for b in batches:
            n = len(b)
            if n == 0:
                continue
            va = _dense_rows(b.column(2), dim, "cosine_pairs_arrow")
            vb = _dense_rows(b.column(3), dim, "cosine_pairs_arrow")
            na = b.column(4).to_numpy(zero_copy_only=False)
            nb_ = b.column(5).to_numpy(zero_copy_only=False)
            dots = np.einsum("ij,ij->i", va, vb)
            keep = (na > 0) & (nb_ > 0)
            denom = np.where(keep, na * nb_, 1.0)
            sim = _round_half_away(dots / denom, round_digits)
            idx = pa.array(np.nonzero(keep)[0])
            yield pa.record_batch(
                [
                    b.column(0).take(idx),
                    b.column(1).take(idx),
                    pa.array(sim[keep]),
                ],
                names=[ia, ib, "sim"],
            )

    return joined.mapInArrow(kernel, f"{ia} {ta}, {ib} {tb}, sim double")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector — the
    Arrow-batched GEMM path.

    The query set is small by contract (it was already broadcast in
    the HOF form): collect it to a dense float64 matrix, broadcast it,
    and stream the corpus through ``mapInArrow`` where each Arrow
    batch computes ALL its pair similarities as ONE BLAS matmul
    (batch×dim @ dim×|Q|) and keeps only its per-query top-k. Per
    corpus row the emitted data is O(|Q|·k / batch) — the shuffle into
    the final global top-k merge carries ``partitions × |Q| × k``
    candidate rows instead of the full |corpus|·|Q| scored cross
    product, and the per-pair math runs vectorized instead of as an
    interpreted per-element Catalyst fold. At 10× data this is the
    difference between linear-with-GEMM-constants and
    interpreted-fold constants (~40× cheaper per pair measured).

    Ranking key is (rounded sim desc, id asc) — a total order, so
    results are engine-independent; per-batch selection uses the SAME
    rounded key, so no candidate that could win the global rank is
    dropped locally. Zero-norm vectors get null cosine in the scalar
    form and are excluded here (they can never enter a top-k under
    nulls-last ordering).
    """
    import numpy as np
    import pyarrow as pa

    spark = corpus.sparkSession
    q_rows = (
        queries.select(F.col(id_col).alias("q_id"), as_double(F.col(vec_col)))
        .collect()
    )
    if not q_rows:
        return from_lists(spark, [], "q_id long, nb_id long, sim double")
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norms = np.sqrt((Q * Q).sum(axis=1))
    bc = spark.sparkContext.broadcast((q_ids, Q, q_norms))

    out_schema = pa.schema(
        [("q_id", pa.int64()), ("nb_id", pa.int64()), ("sim", pa.float64())]
    )

    # r13 (verdict item 6): the GEMM operates on FIXED 4096-row blocks
    # regardless of how the Arrow transport chunks the stream —
    # spark.sql.execution.arrow.maxRecordsPerBatch is a session conf a
    # caller can change between runs, and the r12 artifact showed the
    # per-pair constant swinging 8.1x -> 18.8x at sf10 with no code
    # change. Slicing inside the kernel pins the matmul shape
    # (block x dim @ dim x |Q|) structurally; the per-block top-k
    # merge was already global (the window below), so output stays
    # bounded by blocks x |Q| x k and values are unchanged.
    GEMM_BLOCK = 4096

    def _batch_to_numpy(batch):
        # zero-copy-ish: flatten the list column through Arrow buffers
        # instead of to_pydict (which materializes one Python list per
        # row — allocation churn that made the old kernel's wall track
        # JVM/Python heap state rather than the matmul)
        nb_ids = batch.column("nb_id").to_numpy(zero_copy_only=False)
        col = batch.column("nb_vec")
        flat = col.flatten().to_numpy(zero_copy_only=False)
        n = len(col)
        if n == 0:
            return nb_ids.astype(np.int64), np.empty((0, 0))
        offs = col.offsets.to_numpy(zero_copy_only=False)
        widths = np.diff(offs)
        if (widths != widths[0]).any():
            raise ValueError("ragged embedding lists in GEMM kernel")
        dim = int(widths[0])
        # flatten() already applies the offsets: flat holds exactly
        # the n*dim list elements in row order
        if len(flat) != n * dim:
            raise ValueError("null embedding lists in GEMM kernel")
        M = flat.reshape(n, dim).astype(np.float64, copy=False)
        return nb_ids.astype(np.int64), M

    def topk_batches(it):
        q_ids_, Q_, q_norms_ = bc.value
        nq = len(q_ids_)
        for batch in it:
            nb_all, M_all = _batch_to_numpy(batch)
            if M_all.size == 0:
                continue
            for s0 in range(0, len(nb_all), GEMM_BLOCK):
                nb_ids = nb_all[s0:s0 + GEMM_BLOCK]
                M = M_all[s0:s0 + GEMM_BLOCK]
                norms = np.sqrt((M * M).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = (M @ Q_.T) / np.outer(norms, q_norms_)
                sims = _round_half_away(sims, round_digits)
                # self-pairs and zero-norm rows can never be returned
                sims[nb_ids[:, None] == q_ids_[None, :]] = -np.inf
                sims[~np.isfinite(sims)] = -np.inf
                kk = min(k, sims.shape[0])
                # per query: top-k by (sim desc, nb_id asc). Bare
                # argpartition is tie-blind at the k-th boundary (the
                # knn_join per_cell bug: equal rounded sims there must
                # keep the LOWEST nb_id) and a full batch sort is
                # O(b log b) per query — so partition first, then widen
                # the candidate set to EVERY row tied at the boundary sim
                # and lexsort only that: O(b + t log t)
                part = (
                    np.argpartition(-sims, kk - 1, axis=0)[:kk, :]
                    if sims.shape[0] > kk
                    else np.broadcast_to(
                        np.arange(sims.shape[0])[:, None],
                        (sims.shape[0], nq),
                    )
                )
                rows_q, rows_nb, rows_sim = [], [], []
                for j in range(nq):
                    s_all = sims[:, j]
                    thresh = s_all[part[:, j]].min()
                    if thresh > -np.inf:
                        idx = np.nonzero(s_all >= thresh)[0]
                    else:
                        idx = np.nonzero(s_all > -np.inf)[0]
                    idx = idx[np.lexsort((nb_ids[idx], -s_all[idx]))[:kk]]
                    s = s_all[idx]
                    rows_q.append(np.full(len(idx), q_ids_[j], dtype=np.int64))
                    rows_nb.append(nb_ids[idx])
                    rows_sim.append(s)
                if rows_q:
                    yield pa.RecordBatch.from_pydict(
                        {
                            "q_id": np.concatenate(rows_q),
                            "nb_id": np.concatenate(rows_nb),
                            "sim": np.concatenate(rows_sim),
                        },
                        schema=out_schema,
                    )

    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    cand = (
        corpus.repartition(nparts)
        .select(
            F.col(id_col).alias("nb_id"), as_double(F.col(vec_col)).alias("nb_vec")
        )
        .mapInArrow(topk_batches, "q_id long, nb_id long, sim double")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("nb_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def adaptive_planes(
    n: int, target_occupancy: int = 250, min_planes: int = 3
) -> int:
    """Plane count that holds expected bucket occupancy ~constant as
    the corpus grows: smallest p >= min_planes with n / 2**p <=
    target_occupancy, i.e. ``ceil(log2(n / target))``.

    THIS is what keeps LSH blocking linear at scale: with a FIXED
    plane count, candidate pairs grow O(n^2 / 2^p) — the r5 sf1 probe
    measured exactly that (33x wall at 10x data). Holding occupancy
    constant makes candidates O(n * target / 2) per table: linear.
    The trade is per-table recall (p_match^planes shrinks), the same
    banding trade MinHash b/r tuning makes — raise ``tables``
    (OR-construction) or ``target_occupancy`` when recall matters
    more than cost.

    The formula must stay bit-identical to the DuckDB oracle's
    ``greatest(min, ceil(log2(n / target)))``: both sides compute it
    over IEEE doubles from the same integer n; a ceil flip would need
    log2 to land within one ulp of an integer, which for rational
    n/target only happens at exact powers of two where log2 is exact
    in both engines.
    """
    import math

    if n <= target_occupancy:
        return min_planes
    return max(min_planes, math.ceil(math.log2(n / float(target_occupancy))))


def hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: hash-mixed components in
    [-1, 1] from (plane, dim-index) — reproducible anywhere (including
    a SQL oracle embedding the same literals)."""
    comps = []
    for d in range(dim):
        h = (2654435761 * (plane * 1009 + d + 1) + 97) % MOD
        comps.append((h / MOD) * 2.0 - 1.0)
    return comps


def with_lsh_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    planes: int = 3,
    tables: int = 4,
) -> DataFrame:
    """Explode each vector into its ``tables`` (t, bucket) memberships:
    (id_col, _vec double[], _norm, t, bucket). One output row per
    (vector, table) — no shuffle.

    r10: the projections run as an Arrow-batched numpy kernel
    (mapInArrow). The sf100 probe measured the interpreted-HOF form at
    70.8s of a 186s run — tables*planes*dim interpreted multiply-adds
    per row (6*18*64 = 6912 at 2M vectors) dominated the whole
    operator. The kernel computes the IDENTICAL left-fold sums via
    ``np.cumsum`` (strictly sequential prefix adds — bit-identical to
    the ``F.aggregate`` fold and to the SQL oracle's list_sum, so the
    sign bits, and therefore every bucket id, cannot drift; the
    all-Catalyst twin in tests/similarity_twins.py is pinned equal to
    this kernel by tests/test_similarity.py)."""
    import numpy as np
    import pyarrow as pa

    P = np.array(
        [hyperplane(dim, p) for p in range(planes * tables)], dtype=np.float64
    )
    id_type = df.schema[id_col].dataType.simpleString()
    nplanes = planes * tables

    def kernel(batches):
        for b in batches:
            ids = b.column(0)
            nb = len(b)
            if nb == 0:
                continue
            V = _dense_rows(b.column(1), dim, "with_lsh_buckets")
            # exact left folds: cumsum is sequential prefix addition,
            # so [:, -1] is bit-identical to the HOF aggregate
            projs = np.empty((nb, nplanes), dtype=np.float64)
            for p in range(nplanes):
                projs[:, p] = np.cumsum(V * P[p], axis=1)[:, -1]
            norms = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
            buckets = np.zeros((nb, tables), dtype=np.int32)
            bits = projs >= 0
            for t in range(tables):
                for pp in range(planes):
                    buckets[:, t] |= bits[:, t * planes + pp].astype(np.int32) << pp
            idx = pa.array(np.repeat(np.arange(nb), tables))
            voffs = pa.array(
                np.arange(0, (nb * tables + 1) * dim, dim, dtype=np.int32)
            )
            vflat = pa.array(np.repeat(V, tables, axis=0).ravel())
            yield pa.record_batch(
                [
                    ids.take(idx),
                    pa.ListArray.from_arrays(voffs, vflat),
                    pa.array(np.repeat(norms, tables)),
                    pa.array(np.tile(np.arange(tables, dtype=np.int32), nb)),
                    pa.array(buckets.reshape(-1)),
                ],
                names=[id_col, "_vec", "_norm", "t", "bucket"],
            )

    return df.select(id_col, vec_col).mapInArrow(
        kernel,
        f"{id_col} {id_type}, _vec array<double>, _norm double, t int, bucket int",
    )


def connected_components(
    edges: DataFrame, ids: DataFrame, max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list: min-label
    propagation with pointer jumping and edge contraction — the one
    components loop in the package (dedup.minhash_dedup_clusters and
    embedding_neardup_clusters both feed it star/pair edges).

    ``edges``: (a, b) id pairs; ``ids``: one column ``id`` listing
    EVERY node (isolated nodes become their own singleton component).
    Returns (id, cluster) where cluster = min id of the component.

    CONTRACT: every edge endpoint must appear in ``ids``. Labels seed
    as min(v, min neighbor of v) straight from the edge list, so a
    foreign endpoint would surface as a cluster label that is not a
    vertex; pass edges from elsewhere through a semi-join against
    ``ids`` first.

    100 TB shape: each iteration is two groupBy-min shuffles of the
    CURRENT edge set plus |V|-row self-joins for the pointer jumps,
    then an edge CONTRACTION that rewrites edges through the round's
    labels — |E| shrinks geometrically, so later rounds are nearly
    free, and convergence is O(log diameter) in the strong sense
    (plain propagation moves a min one graph hop per round; the sf100
    probe caught a 1000x corpus hitting max_iter without converging
    before contraction existed). Partial min aggregation makes hot
    components irrelevant. Exits with a warning (and
    stats["converged"]=False) if max_iter is still insufficient.

    Every round localCheckpoints its result (the GraphX pattern):
    lineage stays O(1), and each iteration's joins read the previous
    round's materialized partitions. The cache()-chain +
    unpersist-parent form this replaced looks equivalent but is NOT —
    unpersisting the parent of a cached child invalidates the child's
    reuse, so every round silently recomputed the whole upstream edge
    pipeline (measured 57s -> 16.8s on the sf0.1 embedding graph).
    """
    # LAZY checkpoints (r6 perf): eager=True is a dedicated job per
    # checkpoint, and at small/medium scale the loop's wall is JOB
    # COUNT, not data. A lazy checkpoint materializes once, inside the
    # next action that reads it (the convergence count / the next
    # round's propagation), so each round runs ~2 jobs instead of ~4.
    und = edges.selectExpr("a", "b").union(edges.selectExpr("b as a", "a as b"))
    und = und.filter(F.col("a") != F.col("b")).distinct().localCheckpoint(eager=False)
    # Seeded init (r9): label(v) starts at min(v, min neighbor of v)
    # instead of v — one groupBy-min over the checkpointed edge set
    # plus a |V| left join, ~40% of a full round (no jumps, no
    # contraction, no count barrier), and round 1's neighbor
    # propagation then reaches TWO hops (the neighbor's label is
    # already its own neighborhood min), so convergence lands one
    # round earlier. Sound for min-label propagation: any init with
    # label(v) <= v and label(v) in v's component preserves the
    # invariant the fixpoint argument rests on (see the empty-edge-exit
    # comment below); a direct neighbor is in v's component by
    # construction. The seed is a raw neighbor id from `edges` — hence
    # the docstring's endpoint contract.
    seed = und.groupBy("a").agg(F.min("b").alias("_nb")).withColumnRenamed(
        "a", "id"
    )
    labels = (
        ids.join(seed, "id", "left")
        .select(
            "id",
            F.least(F.col("id"), F.coalesce("_nb", "id")).alias("label"),
        )
        .localCheckpoint(eager=False)
    )
    if stats is not None:
        stats["iterations"], stats["changed"] = 0, []
        stats["converged"] = True
        stats["edges_per_round"] = []
    for it in range(max_iter):
        nbr_min = (
            und.join(labels, und["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("label").alias("cand"))
            .withColumnRenamed("a", "id")
        )
        prop = labels.join(nbr_min, "id", "left").select(
            "id",
            F.col("label").alias("old"),
            F.least(F.col("label"), F.coalesce("cand", "label")).alias("label"),
        )
        # pointer jumping, two hops per round (r6): the sf10
        # probe's changed-label trace showed a long chain-collapse
        # tail ([19490, 3307, 891, 212, 68, 15, 2, 0] — 8 rounds,
        # the last five moving <1k labels each) where every extra
        # ROUND costs the full |E| neighbor propagation plus a
        # checkpoint+count barrier, but a second HOP is just another
        # |V|-row self-join. Two hops collapse pointer chains 4x per
        # round instead of 2x; measured sf10: 8 rounds -> 5.
        merged = prop
        for _hop in range(2):
            jump = merged.select(
                F.col("id").alias("jid"), F.col("label").alias("jlabel")
            )
            merged = merged.join(
                jump, merged["label"] == jump["jid"], "left"
            ).select(
                "id",
                "old",
                F.least(F.col("label"), F.coalesce("jlabel", "label")).alias("label"),
            )
        # lazy: the edge count below materializes it in ONE job
        merged = merged.localCheckpoint(eager=False)
        labels = merged.select("id", "label")
        if stats is not None:
            # the changed-label trace costs an extra job per round —
            # probes opt in via stats; the production path skips it
            changed = merged.filter(F.col("label") != F.col("old")).count()
            stats["iterations"] = it + 1
            stats["changed"].append(changed)
        # EDGE CONTRACTION (r6): rewrite the edge set through the
        # round's labels — (a,b) becomes (label(a), label(b)), self
        # loops drop, duplicates collapse. Without this, min-label
        # propagation moves a component's min ONE graph hop per
        # round, so rounds grow with component DIAMETER: the sf100
        # probe caught a 1000x corpus hitting max_iter=20 without
        # converging (finer adaptive-LSH buckets sparsify big
        # near-dup clusters into long chains). Contraction shortcuts
        # every settled region to its representative, |E| shrinks
        # geometrically (recorded in stats["edges_per_round"]), and
        # convergence is O(log diameter) in the strong sense.
        la = labels.select(F.col("id").alias("a"), F.col("label").alias("_la"))
        lb = labels.select(F.col("id").alias("b"), F.col("label").alias("_lb"))
        und = (
            und.join(la, "a").join(lb, "b")
            .select(F.col("_la").alias("a"), F.col("_lb").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # Convergence test = EMPTY contracted edge set (r8): und empty
        # means every original edge's endpoints map into the same
        # pointer CHAIN — but NOT yet that every chain is collapsed:
        # a node contracted away in an early round whose
        # representative's label dropped later can still hold a stale
        # label deeper than this round's two hops reached (a
        # round-8 review simulation found a 27-node witness). So on
        # empty edges, run jump-ONLY collapse rounds (|V|-row
        # self-joins, no edge propagation — chains halve per hop, so
        # O(log chain depth) rounds) until no label moves; at that
        # fixpoint labels are uniform per component and the
        # min-propagation invariant (label(v) <= v, label stays in
        # v's component) makes the uniform label the component min.
        # Still one round cheaper than the old changed-count exit,
        # which needed a full extra |E| propagation round to observe
        # zero movement; the count job doubles as the materialization
        # of the und checkpoint the next round would have forced.
        n_edges = und.count()
        if stats is not None:
            stats["iterations"] = it + 1
            stats["edges_per_round"].append(n_edges)
        if n_edges == 0:
            if stats is not None:
                stats["post_collapse_rounds"] = 0
            while True:
                jump = labels.select(
                    F.col("id").alias("jid"), F.col("label").alias("jlabel")
                )
                nxt = labels.join(
                    jump, labels["label"] == jump["jid"], "left"
                ).select(
                    "id",
                    F.col("label").alias("old"),
                    F.least(
                        F.col("label"), F.coalesce("jlabel", "label")
                    ).alias("label"),
                ).localCheckpoint(eager=False)
                moved = nxt.filter(F.col("label") != F.col("old")).count()
                labels = nxt.select("id", "label")
                if stats is not None:
                    stats["post_collapse_rounds"] += 1
                if moved == 0:
                    break
            break
    else:
        if stats is not None:
            stats["converged"] = False
        import warnings

        warnings.warn(
            f"connected_components: max_iter={max_iter} reached before "
            "convergence; labels are a refinement of the true components "
            "(some components may still be split). Raise max_iter.",
            stacklevel=2,
        )
    return labels.select("id", F.col("label").alias("cluster"))


def embedding_neardup_clusters(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.4,
    planes: int | None = None,
    tables: int = 6,
    max_iter: int = 20,
    round_digits: int = 6,
    stats: dict | None = None,
    n: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate CLUSTERS — the collapse form that
    stays linear where a blocked pair lister is output-quadratic.
    r6: THE registered gate form (the r5 verdict's
    item 2 — the pair lister measured 15.7x wall at 10x data for 66x
    output pairs and would be the job that never finishes at 100x;
    this grows ~2.6x). ``round_digits`` rounds each verification
    cosine so the SQL oracle's
    ``list_cosine_similarity`` agrees at the threshold boundary —
    a last-ulp fold difference must not flip an edge.

    The r5 sf1 probe showed why this exists: on clustered embeddings
    the TRUE ≥threshold pair count itself grows ~quadratically in
    cluster size (sf1 measured 104x pairs at 10x data), so ANY
    pair-listing operator is doomed at scale regardless of blocking.
    Dedup pipelines don't need the pairs — they need the groups. Here
    each (table, bucket) contributes a verified STAR (min-id
    representative -> member, |bucket| edges, cosine-checked), and
    min-label connected components merge stars that share members
    across tables — |corpus| x tables edges total, linear.

    Edge generation is a HYBRID that keeps both linearity and recall
    (plain min-id stars fail verification whenever an unrelated
    smaller id shares the bucket — measured ~7% member-orphan rate on
    planted duplicates):

    - buckets at or under ``pair_cap`` members: ALL within-bucket
      pairs, exactly verified. Fine buckets (adaptive planes at
      occupancy target 8) bound this at ~cap/2 edges per vector per
      table — linear with a small constant, and a true-dup pair that
      ever co-buckets is never lost to an unrelated representative.
    - buckets over ``pair_cap``: star edges to the bucket min,
      verified. A bucket that stays over-full at high granularity is
      (by the hash geometry) a tight near-identical cluster, where
      the representative is a true duplicate of its members.

    Only verified edges merge — no false unions; components are the
    transitive closure of verified edges. Returns (id, cluster);
    keep-set = rows with id == cluster.
    """
    # ``n`` sizes the adaptive plane count only — callers that know
    # |df| from footer metadata (plans.common.parquet_row_count) pass
    # it and skip one full-scan count job
    if n is None:
        n = df.count()
    if planes is None:
        planes = adaptive_planes(n, target_occupancy=8)
    # checkpoint the bucket table ONCE (r6 perf): the edge build reads
    # it on two branches and the candidate DAG otherwise re-evaluates
    # the interpreted-HOF hyperplane projections (tables x planes x
    # dim multiply-adds per row) once per branch — measured 3.9s ->
    # ~1s for the sf0.1 edge phase. Lazy (eager=False, since PySpark
    # defaults to eager): materialized by the first job that reads it.
    b = (
        with_lsh_buckets(df, id_col, vec_col, dim, planes, tables)
        .select(F.col(id_col).alias("m"), "t", "bucket")
        .localCheckpoint(eager=False)
    )
    pair_cap = 64
    # ONE window pass computes bucket occupancy + representative (r8:
    # replaces a groupBy + join-back — one exchange instead of two and
    # no join; count/min windows are whole-partition folds, and the
    # per-bucket buffering a window needs is exactly the bucket's rows)
    from pyspark.sql import Window

    wb = Window.partitionBy("t", "bucket")
    bs = b.select(
        "t",
        "bucket",
        "m",
        F.count(F.lit(1)).over(wb).alias("occ"),
        F.min("m").over(wb).alias("rep"),
    )
    # within-bucket all-pairs for buckets at/under pair_cap, bounded
    # by pair_cap^2/2 per bucket — generated JVM-side from the
    # collected member list (<= pair_cap ids, collected ONLY for small
    # buckets) instead of a bucket-key self-join: the groupBy reuses
    # the window's (t, bucket) partitioning, so pair generation adds
    # ZERO exchanges where the self-join added two plus a join.
    ms = F.col("ms")
    all_pairs = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + F.lit(2), F.greatest(F.size(ms) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pair_edges = (
        bs.filter(F.col("occ") <= pair_cap)
        .groupBy("t", "bucket")
        .agg(F.sort_array(F.collect_list("m")).alias("ms"))
        .select(F.explode(all_pairs).alias("_p"))
        .select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
    )
    star_edges = (
        bs.filter((F.col("occ") > pair_cap) & (F.col("m") != F.col("rep")))
        .select(F.col("rep").alias("a"), F.col("m").alias("b"))
    )
    # NO pre-verify distinct (r8): a pair co-bucketing in k tables is
    # verified k times (bounded by `tables` — a per-edge 64-dim cosine,
    # cheap), where the distinct is a full |candidate| shuffle + stage
    # barrier; connected_components dedups its edge set anyway.
    edges = pair_edges.union(star_edges)
    vt = df.select(
        F.col(id_col).alias("_vid"), as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", norm(F.col("_v")))
    va, vb = vt.alias("va"), vt.alias("vb")
    # Arrow cosine kernel (r10): the equi-joins stay Catalyst; only the
    # per-pair 64-dim dot moves to one einsum per batch — 27.5s -> ~5s
    # at sf100 on 37.8M candidate edges. Rounding makes the verified
    # edge set order-independent (see cosine_pairs_arrow).
    joined = (
        edges.join(va, F.col("a") == F.col("va._vid"))
        .join(vb, F.col("b") == F.col("vb._vid"))
        .select(
            "a",
            "b",
            F.col("va._v").alias("_va"),
            F.col("vb._v").alias("_vb"),
            F.col("va._n").alias("_na"),
            F.col("vb._n").alias("_nb"),
        )
    )
    verified = (
        cosine_pairs_arrow(joined, dim, round_digits)
        .filter(F.col("sim") >= threshold)
        .select("a", "b")
    )
    ids = df.select(F.col(id_col).alias("id"))
    return connected_components(verified, ids, max_iter=max_iter, stats=stats)


def _centroid_sims(
    vec: Column, centroids: list[list[float]], round_digits: int | None = None
) -> Column:
    """array<struct<s: double, i: int>> of (dot-sim, centroid-id) — the
    centroid table rides along as one flat array literal, so assignment
    is a narrow JVM expression with no join. The per-centroid loop is a
    ``transform`` lambda over a flattened (nlist*dim) constant, not
    nlist unrolled aggregates: codegen stays one small loop body
    regardless of nlist, where unrolling made compile time scale with
    nlist and dominate small scans."""
    nlist, dim = len(centroids), len(centroids[0])
    # one expr string, not nlist*dim F.lit calls — each F.lit is a
    # py4j round trip, and thousands of them cost seconds of pure
    # driver-side chatter before Spark sees the plan
    flat = F.expr(
        "array(" + ",".join(repr(float(x)) + "D" for cent in centroids for x in cent) + ")"
    )
    def sim(i):
        s = F.aggregate(
            F.zip_with(vec, F.slice(flat, i * dim + 1, dim), lambda x, c: x * c),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        return round_half_away(s, round_digits) if round_digits is not None else s

    return F.transform(
        F.sequence(F.lit(0), F.lit(nlist - 1)),
        lambda i: F.struct(sim(i).alias("s"), i.cast("int").alias("i")),
    )


def assign_nearest_centroid(
    vec: Column, centroids: list[list[float]], round_digits: int | None = None
) -> Column:
    """Centroid id maximizing dot similarity (struct max breaks ties on
    the higher id — deterministic either way). ``round_digits`` rounds
    each similarity first — the cross-engine determinism contract for
    oracle-checked assignment (a last-ulp difference must not flip the
    argmax)."""
    return F.array_max(_centroid_sims(vec, centroids, round_digits))["i"]


def _sample_matrix(df: DataFrame, vec_col: str, id_col: str, sample_size: int):
    """The shared deterministic training sample (the ``sample_size``
    lowest-id vectors) as a numpy matrix — one bounded collect that
    both quantizer trainers (:func:`kmeans_train`, :func:`pq_train`)
    can reuse instead of collecting twice."""
    import numpy as np

    sample = (
        df.select(F.col(id_col).alias("_id"), as_double(F.col(vec_col)).alias("v"))
        .orderBy("_id")
        .limit(sample_size)
        .collect()
    )
    return np.array([r["v"] for r in sample], dtype=np.float64)


def kmeans_train(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    nlist: int = 16,
    iters: int = 5,
    sample_size: int = 4096,
    X=None,
) -> list[list[float]]:
    """Lloyd's iterations for the IVF coarse quantizer, trained on a
    deterministic bounded sample (the ``sample_size`` lowest-id
    vectors). Init is the first ``nlist`` sample vectors, so training
    is fully deterministic given the data. Pass ``X`` (from
    :func:`_sample_matrix`) to reuse a sample another trainer already
    collected.
    """
    # One bounded collect (sample_size x dim doubles), then Lloyd's on
    # the driver in numpy: the quantizer needs distribution shape, not
    # every row, and per-iteration Spark jobs would pay seconds of
    # scheduling for microseconds of math. orderBy+limit compiles to
    # TakeOrdered (per-partition top-k, no full sort/shuffle).
    if X is None:
        X = _sample_matrix(df, vec_col, id_col, max(sample_size, nlist))
    # a caller-supplied X smaller than nlist would SILENTLY train
    # fewer cells than asked (and desync any oracle that re-derives
    # the count) — clamp openly instead; LIMIT-past-end semantics,
    # the same rule a SQL re-derivation gets for free
    nlist = min(nlist, len(X))
    C = X[:nlist].copy()
    for _ in range(iters):
        sims = X @ C.T
        assign = sims.argmax(axis=1)
        for i in range(nlist):
            members = X[assign == i]
            if len(members):
                C[i] = members.mean(axis=0)
    return [list(map(float, c)) for c in C]


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    iters: int = 5,
    round_digits: int | None = None,
    X=None,
    files_per_list: int = 1,
) -> list[list[float]]:
    """Materialize the IVF corpus assignment ONCE: train the coarse
    quantizer, assign every vector, and write (nb_id, nb_vec, nb_norm)
    to parquet PARTITIONED BY list_id. Returns the centroids (they are
    the index metadata a caller persists beside it).

    This is the honest IVF serving shape at scale: assignment (the
    expensive per-vector signature) is computed once and reused across
    every future query batch, and the directory layout turns a probe
    into a partition-pruned scan — a batch probing nprobe of nlist
    lists reads ~nprobe/nlist of the corpus bytes and shuffles
    nothing.

    The write repartitions on (list_id, salt) first (r8): without it
    every input task writes a sliver into every list directory —
    tasks x nlist tiny files (measured 512 files / 1.6s for a 2000-row
    index; now nlist files / ~0.6s), and small-file explosion is the
    classic partitioned-write failure at scale. ``files_per_list``
    dials the salt width: 1 for small corpora, raise it so each file
    stays row-group-sized when a list holds millions of vectors."""
    centroids = kmeans_train(corpus, vec_col, id_col, nlist=nlist, iters=iters, X=X)
    idx = (
        corpus.select(
            F.col(id_col).alias("nb_id"), as_double(F.col(vec_col)).alias("nb_vec")
        )
        .withColumn(
            "list_id", assign_nearest_centroid(F.col("nb_vec"), centroids, round_digits)
        )
        .withColumn("nb_norm", norm(F.col("nb_vec")))
    )
    idx = idx.repartition(
        nlist * files_per_list,
        F.col("list_id"),
        F.pmod(F.xxhash64(F.col("nb_id")), F.lit(files_per_list)),
    )
    idx.write.partitionBy("list_id").mode("overwrite").parquet(path)
    return centroids


# ---------------------------------------------------------------------------
# product quantization (PQ)
# ---------------------------------------------------------------------------


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    sample_size: int = 4096,
    X=None,
) -> list[list[list[float]]]:
    """Train PQ codebooks (Jegou et al. 2011, "Product Quantization
    for Nearest Neighbor Search"): split the dimension into ``m``
    subspaces and run L2 k-means with ``ksub`` centroids in each, on
    the same deterministic bounded sample contract as
    :func:`kmeans_train`. Returns ``[m][ksub][dim/m]`` floats.

    Codes compress a float64[64] vector (512 B) to m=8 small ints —
    the 100 TB lever: a billion-vector corpus's codes fit in a few GB
    of executor memory where raw vectors cannot.
    """
    if X is None:
        X = _sample_matrix(df, vec_col, id_col, sample_size)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books: list[list[list[float]]] = []
    for mi in range(m):
        S = X[:, mi * dsub : (mi + 1) * dsub]
        C = S[:ksub].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(ksub):
                members = S[assign == j]
                if len(members):
                    C[j] = members.mean(axis=0)
        books.append([list(map(float, c)) for c in C])
    return books


def _flat_codebook(codebooks: list[list[list[float]]]) -> Column:
    """All codebooks as ONE flat array literal (offset math indexes
    it) — a single expr string, not m*ksub*dsub F.lit py4j round
    trips (same reasoning as :func:`_centroid_sims`)."""
    return F.expr(
        "array("
        + ",".join(
            repr(float(x)) + "D" for book in codebooks for cent in book for x in cent
        )
        + ")"
    )


def pq_encode(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """PQ codes for one vector: per subspace, the L2-nearest centroid
    id — ``array<int>`` of length m, all JVM-side (struct-min argmin,
    ties to the lower id)."""
    m, ksub, dsub = len(codebooks), len(codebooks[0]), len(codebooks[0][0])
    flat = _flat_codebook(codebooks)

    def code_for(mi: Column) -> Column:
        sub = F.slice(vec, mi * dsub + 1, dsub)

        def d2(j: Column) -> Column:
            cslice = F.slice(flat, (mi * ksub + j) * dsub + 1, dsub)
            return F.aggregate(
                F.zip_with(sub, cslice, lambda x, c: (x - c) * (x - c)),
                F.lit(0.0),
                lambda a, x: a + x,
            )

        dists = F.transform(
            F.sequence(F.lit(0), F.lit(ksub - 1)),
            lambda j: F.struct(d2(j).alias("d"), j.cast("int").alias("j")),
        )
        return F.array_min(dists)["j"]

    return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), code_for)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 10,
    left_id: str = "vec_id",
    left_vec: str = "embedding",
    right_id: str = "vec_id",
    right_vec: str = "embedding",
    centroids: list[list[float]] | None = None,
    nlist: int = 16,
    nprobe: int = 2,
    round_digits: int | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """k-NN similarity JOIN — both sides large (corpus x corpus), the
    shape a broadcast query panel cannot take.

    IVF-cell blocking: every right vector lives in exactly its
    nearest cell; every left vector probes its ``nprobe`` nearest
    cells; per cell, ALL pair similarities are ONE float64 GEMM in a
    cogrouped ``applyInPandas`` (the same vectorization move as
    brute_force_topk — the per-pair interpreted-fold constant is
    ~100x the BLAS constant, measured on the sf1 probe) and only each
    left row's top-k leave the worker. The pure-expression derivation
    (``knn_join_hof`` in tests/similarity_twins.py) is pinned
    row-equal in tests/test_knn_join.py.

    Returns (left_id, nn_id, rank, cos_sim), rank 1-based by
    (cos_sim desc, nn_id desc) — ``round_digits`` rounds the cosine
    BEFORE ranking so an oracle can replay ties exactly. Zero-norm
    vectors never match (cosine undefined).

    Scale design (10^9 x 10^9): one shuffle per side, on the cell id.
    Per-cell work is occupancy x occupancy x dim flops — with
    ``adaptive_nlist`` occupancy is CONSTANT in n, so total work and
    group memory are linear and no group outgrows a worker. Cell
    count should be >> cores (it is, at n/occupancy); centroids ride
    as one flat array literal, no join, no broadcast table.
    """
    import numpy as np
    import pandas as pd

    if centroids is None:
        centroids = kmeans_train(right, right_vec, right_id, nlist=nlist)

    # GEMM cell assignment in the same Arrow pass that ships the
    # vectors to the cogroup: the expression form's per-row centroid
    # fold is O(n * nlist) interpreted steps — with occupancy-adaptive
    # nlist (~n/128) that term turns quadratic-ish and dominated the
    # sf1 slot; one batch x nlist matmul per Arrow batch is ~100x the
    # throughput. Tie rule replicated exactly: argmax over the
    # REVERSED sim row = highest cell id among rounded-sim ties, the
    # same (s, i) struct-max order as assign_nearest_centroid.
    C = np.array(centroids, dtype=np.float64)

    def _assigned(df, id_col, vec_col, prefix, probes):
        import pyarrow as pa

        out_t = pa.schema([
            (prefix + "id", pa.int64()),
            (prefix + "v", pa.list_(pa.float64())),
            (prefix + "norm", pa.float64()),
            ("_cell", pa.int32()),
        ])

        def fn(it):
            for b in it:
                d = b.to_pydict()
                ids = np.asarray(d[id_col], dtype=np.int64)
                V = np.array(d[vec_col], dtype=np.float64)
                if V.size == 0:
                    continue
                S = V @ C.T
                if round_digits is not None:
                    S = _round_half_away(S, round_digits)
                norms = np.sqrt((V * V).sum(axis=1))
                nk = C.shape[0]
                p = min(probes, nk)  # hof's F.slice clamps past-end;
                # mirror it instead of a broadcast ValueError
                if p == 1:
                    cells = ((nk - 1) - np.argmax(S[:, ::-1], axis=1))[:, None]
                else:
                    # top-p cells per row by (sim desc, id desc), ONE
                    # vectorized call: stable argsort over the
                    # column-REVERSED sims keeps higher original ids
                    # first among ties (no per-row Python loop — that
                    # was the O(n * nlist) interpreted term again)
                    order_rev = np.argsort(-S[:, ::-1], axis=1, kind="stable")
                    cells = (nk - 1) - order_rev[:, :p]
                rep = np.repeat(np.arange(len(ids)), cells.shape[1])
                yield pa.RecordBatch.from_pydict(
                    {
                        prefix + "id": ids[rep],
                        prefix + "v": [V[i].tolist() for i in rep],
                        prefix + "norm": norms[rep],
                        "_cell": cells.reshape(-1).astype(np.int32),
                    },
                    schema=out_t,
                )

        src = df.select(F.col(id_col), as_double(F.col(vec_col)).alias(vec_col))
        return src.mapInArrow(
            fn,
            f"{prefix}id long, {prefix}v array<double>, {prefix}norm double, _cell int",
        )

    r = _assigned(right, right_id, right_vec, "_r", 1)
    if left is right and nprobe == 1 and (left_id, left_vec) == (right_id, right_vec):
        l = r.select(
            F.col("_rid").alias("_lid"),
            F.col("_rv").alias("_lv"),
            F.col("_rnorm").alias("_lnorm"),
            "_cell",
        )
    else:
        l = _assigned(left, left_id, left_vec, "_l", nprobe)
    out_schema = f"{left_id} long, nn_id long, rank int, cos_sim double"
    empty = pd.DataFrame({left_id: [], "nn_id": [], "rank": [], "cos_sim": []})

    def per_cell(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf) or not len(rpdf):
            return empty
        L = np.array(lpdf["_lv"].tolist(), dtype=np.float64)
        R = np.array(rpdf["_rv"].tolist(), dtype=np.float64)
        ln = lpdf["_lnorm"].to_numpy(dtype=np.float64)
        rn = rpdf["_rnorm"].to_numpy(dtype=np.float64)
        lids = lpdf["_lid"].to_numpy(dtype=np.int64)
        rids = rpdf["_rid"].to_numpy(dtype=np.int64)
        with np.errstate(divide="ignore", invalid="ignore"):
            S = (L @ R.T) / np.outer(ln, rn)
        if round_digits is not None:
            S = _round_half_away(S, round_digits)
        S[~np.isfinite(S)] = -np.inf
        if exclude_self:
            S[lids[:, None] == rids[None, :]] = -np.inf
        kk = min(k, S.shape[1])
        rows = []
        for i in range(len(lids)):
            # full lexsort on the CONTRACT key (sim desc, id desc),
            # then slice k: an argpartition pre-select is tie-blind at
            # the k-th boundary — equal rounded sims there must break
            # by higher id, and the partition picks arbitrarily (bug
            # surfaced by sf1's decorrelated copies, which produce
            # exact rounded-cosine ties across copies). Occupancy is
            # bounded by adaptive_nlist, so the per-row m log m is
            # noise next to the GEMM.
            s_all = S[i]
            idx = np.nonzero(s_all > -np.inf)[0]
            idx = idx[np.lexsort((-rids[idx], -s_all[idx]))[:kk]]
            s = s_all[idx]
            rows.append(
                pd.DataFrame(
                    {
                        left_id: lids[i],
                        "nn_id": rids[idx],
                        "rank": np.arange(1, len(idx) + 1, dtype=np.int32),
                        "cos_sim": s,
                    }
                )
            )
        return pd.concat(rows, ignore_index=True) if rows else empty

    out = (
        l.groupBy("_cell")
        .cogroup(r.groupBy("_cell"))
        .applyInPandas(lambda lp, rp: per_cell(lp, rp), out_schema)
    )
    if nprobe > 1:
        # a left row spans nprobe cell groups, each contributing its
        # LOCAL top-k — merge to the global top-k (<= nprobe*k rows
        # per left enter this window; WindowGroupLimit bounds the
        # shuffle map-side like the HOF form)
        from pyspark.sql import Window

        w = Window.partitionBy(left_id).orderBy(
            F.col("cos_sim").desc(), F.col("nn_id").desc()
        )
        out = (
            out.drop("rank")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(left_id, "nn_id", F.col("rank").cast("int").alias("rank"), "cos_sim")
        )
    return out


def sq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: int = 4096,
    X=None,
) -> tuple[list[float], list[float]]:
    """Per-dimension (lo, hi) ranges for int8 scalar quantization,
    from the same deterministic bounded sample the other quantizer
    trainers use (the ``sample_size`` lowest-id vectors). Values
    outside the trained range clamp at encode time — the standard SQ
    contract (FAISS ScalarQuantizer semantics)."""
    import numpy as np

    if X is None:
        X = _sample_matrix(df, vec_col, id_col, sample_size)
    lo, hi = X.min(axis=0), X.max(axis=0)
    # degenerate dims (constant in the sample) get a unit span so the
    # scale never divides by zero; every value encodes to 0 there
    hi = np.where(hi > lo, hi, lo + 1.0)
    return [float(x) for x in lo], [float(x) for x in hi]


def sq_encode(vec: Column, lo: list[float], hi: list[float]) -> Column:
    """vec (array<float/double>) -> array<smallint> codes in 0..255.
    4x smaller than float32 storage (the PQ sibling is dim*8/m x —
    SQ trades less compression for zero codebook and per-dim error
    bound span/510 after rounding). Pure JVM expression; the (lo,
    scale) tables ride as flat literals like the IVF centroids."""
    dim = len(lo)
    lo_a = F.expr("array(" + ",".join(repr(float(x)) + "D" for x in lo) + ")")
    sc_a = F.expr(
        "array("
        + ",".join(repr(255.0 / (h - l)) + "D" for l, h in zip(lo, hi))
        + ")"
    )
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    return F.transform(
        idx,
        lambda d: F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.round(
                    (F.element_at(vec, d + 1) - F.element_at(lo_a, d + 1))
                    * F.element_at(sc_a, d + 1)
                ).cast("int"),
            ),
        ).cast("smallint"),
    )


def sq_decode(codes: Column, lo: list[float], hi: list[float]) -> Column:
    """codes -> reconstructed array<double> (midpoint-free affine
    inverse: lo + code * span/255)."""
    lo_a = F.expr("array(" + ",".join(repr(float(x)) + "D" for x in lo) + ")")
    iv_a = F.expr(
        "array("
        + ",".join(repr((h - l) / 255.0) + "D" for l, h in zip(lo, hi))
        + ")"
    )
    return F.zip_with(
        codes,
        F.sequence(F.lit(0), F.lit(len(lo) - 1)),
        lambda c, d: F.element_at(lo_a, d + 1)
        + c.cast("double") * F.element_at(iv_a, d + 1),
    )


def adaptive_nlist(n: int, target_occupancy: int = 128) -> int:
    """Cell count for knn_join that keeps per-cell occupancy (and so
    per-left candidate count) CONSTANT as the corpus grows: with
    nlist = max(16, n // occupancy), total candidate volume is
    O(n * occupancy * nprobe) — linear in n — where a fixed nlist is
    O(n^2 / nlist) (the sf1 probe measured the fixed-16 form at 5.3x
    wall for 10x data; this is the same adaptive dial as
    adaptive_planes for the LSH buckets). The sqrt(n) rule minimizes
    assign+probe cost jointly; occupancy-driven is the right dial
    when the probe side is the whole corpus."""
    return max(16, n // target_occupancy)


def kmeans_train_distributed(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 16,
    iters: int = 5,
    round_digits: int | None = None,
) -> list[list[float]]:
    """Lloyd's iterations over the FULL corpus — the scale-true
    trainer for when :func:`kmeans_train`'s bounded driver sample
    stops being representative (very large ``nlist``, or a corpus
    whose head-of-ids sample is biased). Same contract: deterministic
    first-``nlist``-lowest-ids init, dot-product argmax assignment
    with numpy's first-max tie rule, empty cells keep their centroid.

    Per iteration: ONE corpus scan — a mapInArrow GEMM assignment
    (batch x nlist matmul, centroids ride in the task closure) that
    keeps per-cell sums and counts in numpy across its partition's
    batches and emits them in long form, (cell, d, n, s) — the
    per-partition partial sums MLlib's KMeans combines. One JVM
    ``groupBy(cell, d)`` adds the partials and divides, so the driver
    collects at most nlist x dim rows at any corpus size (that IS the
    model, so it must fit regardless). With more than one iteration
    the source projection is cached across them. Re-derived here so
    the quantizer stack stays dependency-free and its tie/init rules
    stay oracle-replayable.
    """
    import numpy as np
    import pyarrow as pa

    src = df.select(
        F.col(id_col).alias("_id"), as_double(F.col(vec_col)).alias("_v")
    )
    seed = src.orderBy("_id").limit(nlist).collect()  # TakeOrdered
    C = np.array([r["_v"] for r in seed], dtype=np.float64)
    k, dim = C.shape
    src = src.select("_v")
    if iters > 1:
        src = src.persist()
    try:
        for _ in range(iters):
            Cit = C.copy()

            def assign(it, _C=Cit):
                sums = np.zeros((k, dim))
                counts = np.zeros(k, dtype=np.int64)
                for b in it:
                    if b.num_rows == 0:
                        continue
                    V = _dense_rows(b.column(0), dim, "kmeans_train_distributed")
                    S = V @ _C.T
                    if round_digits is not None:
                        # round-before-argmax makes the assignment a
                        # function of published values, so a SQL
                        # oracle can replay it (np.argmax first-max =
                        # lowest cell id among ties); default None
                        # keeps the kmeans_train-pinned contract
                        S = _round_half_away(S, round_digits)
                    cells = np.argmax(S, axis=1)
                    np.add.at(sums, cells, V)
                    counts += np.bincount(cells, minlength=k)
                hit = np.flatnonzero(counts)
                if len(hit):
                    yield pa.record_batch(
                        [
                            pa.array(np.repeat(hit, dim).astype(np.int32)),
                            pa.array(np.tile(np.arange(dim, dtype=np.int32), len(hit))),
                            pa.array(np.repeat(counts[hit], dim)),
                            pa.array(sums[hit].ravel()),
                        ],
                        names=["_cell", "_d", "_n", "_s"],
                    )

            means = (
                src.mapInArrow(assign, "_cell int, _d int, _n long, _s double")
                .groupBy("_cell", "_d")
                .agg((F.sum("_s") / F.sum("_n")).alias("_m"))
                .collect()
            )
            for r in means:
                C[r["_cell"], r["_d"]] = r["_m"]
    finally:
        if iters > 1:
            src.unpersist()
    return [[float(x) for x in c] for c in C]
