"""The all-JVM expression twins of the similarity module's Arrow/GEMM
kernels. They are independent derivations (Catalyst folds, broadcast
and cell equi-joins, no Python worker) that the package's kernels are
pinned against in test_similarity.py and test_knn_join.py; same total
order, same output contract."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dask_awkward_sandbox_spark.functions.similarity import (
    _centroid_sims,
    as_double,
    assign_nearest_centroid,
    cosine_from_norms,
    hyperplane,
    kmeans_train,
    norm,
    round_half_away,
)


def brute_force_topk_hof(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """The all-JVM form of :func:`brute_force_topk` (broadcast join +
    per-pair ``aggregate`` fold). Kept as the no-Python-workers
    fallback and as the independent derivation the GEMM path is
    tested against; same total order, same output contract.
    """
    # norms computed once per row, NOT per pair: the join evaluates
    # its expressions per (query, neighbor) pair, so an inline
    # cosine() would fold over each vector |queries| more times
    # spread the corpus before the broadcast join: a single-file scan
    # is ONE partition, and a broadcast join inherits the streamed
    # side's partitioning — the per-pair cosine work would run on one
    # task regardless of cores
    nparts = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    c = (
        corpus.repartition(nparts)
        .select(F.col(id_col).alias("nb_id"), as_double(F.col(vec_col)).alias("nb_vec"))
        .withColumn("nb_norm", norm(F.col("nb_vec")))
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), as_double(F.col(vec_col)).alias("q_vec")
    ).withColumn("q_norm", norm(F.col("q_vec")))
    j = c.join(F.broadcast(q), F.col("nb_id") != F.col("q_id"))
    sim = round_half_away(
        cosine_from_norms(
            F.col("q_vec"), F.col("nb_vec"), F.col("q_norm"), F.col("nb_norm"),
        ),
        round_digits,
    )
    scored = j.select("q_id", "nb_id", sim.alias("sim"))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("nb_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _projections(vec: Column, dim: int, n_planes: int) -> Column:
    """array<double> of the vector's projection onto each of the
    ``n_planes`` deterministic hyperplanes. The plane components ride
    along as ONE flat (n_planes*dim) literal array and the per-plane
    loop is a ``transform`` lambda — codegen compiles one small loop
    body regardless of plane count, where unrolled per-plane
    aggregates made expression-tree size (and runtime) scale with
    planes*tables. Each projection is the identical left-fold sum the
    SQL oracle computes."""
    flat = F.expr(
        "array("
        + ",".join(
            repr(float(c)) + "D" for p in range(n_planes) for c in hyperplane(dim, p)
        )
        + ")"
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        lambda p: F.aggregate(
            F.zip_with(vec, F.slice(flat, p * dim + 1, dim), lambda x, c: x * c),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    )


def with_lsh_buckets_hof(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    planes: int = 3,
    tables: int = 4,
) -> DataFrame:
    """The all-Catalyst form of :func:`with_lsh_buckets` (scan-side
    expressions, zero Python): all planes*tables projections in ONE
    pass per row (_projections), sign bits packed into per-table
    buckets. Retained as the reference implementation after the r10
    Arrow-kernel rewrite; the pin test holds both bit-identical."""
    v = as_double(F.col(vec_col))
    base = df.select(
        F.col(id_col),
        v.alias("_vec"),
        norm(v).alias("_norm"),
        _projections(v, dim, planes * tables).alias("_projs"),
    )

    def bucket(t: int) -> Column:
        out = F.lit(0)
        for p in range(planes):
            out = out + F.when(
                F.get(F.col("_projs"), t * planes + p) >= 0, F.lit(1 << p)
            ).otherwise(F.lit(0))
        return out

    tb = F.array(
        *[F.struct(F.lit(t).alias("t"), bucket(t).alias("bucket")) for t in range(tables)]
    )
    return base.select(
        id_col,
        "_vec",
        "_norm",
        F.explode(tb).alias("tb"),
    ).select(
        id_col,
        "_vec",
        "_norm",
        F.col("tb.t").alias("t"),
        F.col("tb.bucket").alias("bucket"),
    )


def _knn_sides(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_vec: str,
    right_id: str,
    right_vec: str,
    centroids: list[list[float]],
    nprobe: int,
    round_digits: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Shared cell-blocking prep for both knn_join forms: right rows
    in their nearest cell, left rows exploded to their nprobe probe
    cells, norms precomputed per row."""
    r = right.select(
        F.col(right_id).alias("_rid"),
        as_double(F.col(right_vec)).alias("_rv"),
        assign_nearest_centroid(
            as_double(F.col(right_vec)), centroids, round_digits
        ).alias("_cell"),
    ).withColumn("_rnorm", norm(F.col("_rv")))
    if left is right and nprobe == 1 and (left_id, left_vec) == (right_id, right_vec):
        # self-join fast path: with one probe, the left cell IS the
        # right cell — assignment (the O(n*nlist) term) runs once for
        # both sides instead of twice
        l = r.select(
            F.col("_rid").alias("_lid"),
            F.col("_rv").alias("_lv"),
            F.col("_rnorm").alias("_lnorm"),
            "_cell",
        )
    else:
        sims = _centroid_sims(as_double(F.col(left_vec)), centroids, round_digits)
        if nprobe == 1:
            # argmax, not a full sort: same (sim, id) struct order
            probe = F.array(F.array_max(sims)["i"])
        else:
            probe = F.transform(
                F.slice(F.reverse(F.array_sort(sims)), 1, nprobe), lambda s: s["i"]
            )
        l = (
            left.select(
                F.col(left_id).alias("_lid"),
                as_double(F.col(left_vec)).alias("_lv"),
                probe.alias("_cells"),
            )
            .withColumn("_lnorm", norm(F.col("_lv")))
            .select("_lid", "_lv", "_lnorm", F.explode("_cells").alias("_cell"))
        )
    return l, r


def knn_join_hof(
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
    """The all-JVM expression form of :func:`knn_join` (cell equi-join
    + per-pair fold + rank()<=k window, whose WindowGroupLimit does
    map-side per-key top-k before the shuffle — plan-asserted). Kept
    as the no-Python-workers fallback and the independent derivation
    the GEMM path is pinned against; same total order, same output
    contract INCLUDING zero-norm vectors — null cosines (undefined)
    are filtered before ranking, exactly as the GEMM form's -inf mask
    drops them, so the two stay row-equal on degenerate inputs."""
    from pyspark.sql import Window

    if centroids is None:
        centroids = kmeans_train(right, right_vec, right_id, nlist=nlist)
    l, r = _knn_sides(
        left, right, left_id, left_vec, right_id, right_vec,
        centroids, nprobe, round_digits,
    )
    cos = cosine_from_norms(
        F.col("_lv"), F.col("_rv"), F.col("_lnorm"), F.col("_rnorm")
    )
    if round_digits is not None:
        cos = round_half_away(cos, round_digits)
    cand = l.join(r, "_cell")
    if exclude_self:
        cand = cand.filter(F.col("_lid") != F.col("_rid"))
    w = Window.partitionBy("_lid").orderBy(
        F.col("_s").desc(), F.col("_rid").desc()
    )
    return (
        cand.select("_lid", "_rid", cos.alias("_s"))
        .filter(F.col("_s").isNotNull())
        .withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .select(
            F.col("_lid").alias(left_id),
            F.col("_rid").alias("nn_id"),
            F.col("_rank").cast("int").alias("rank"),
            F.col("_s").alias("cos_sim"),
        )
    )
