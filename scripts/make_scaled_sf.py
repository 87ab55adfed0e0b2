"""Generate a 10x scale probe dataset (sf1) from the driver-provided
sf0.1 parquet, for the round-5 scale verification (VERDICT r4 item 1).

The scale-up is a DERIVED replication, not fresh synthesis (TESTDATA.md
provides sf<=0.1 only): REPLICATE copies of every table with disjoint
key offsets, keeping every per-entity distribution (items per order,
events per user, words per doc) identical to the driver's data so
per-row work scales by exactly REPLICATE.

Cross-copy DECORRELATION — the part that keeps similarity workloads
honest: naive replication would make every document/embedding an exact
duplicate of its 9 siblings, blowing the near-dup pair space up
quadratically (100x instead of 10x) and grading the LSH paths on a
workload shape real corpora don't have. So:

- documents.text: copy i>0 suffixes every whitespace token with
  ``~i`` — a bijection on the vocabulary, so WITHIN-copy shingle
  structure (and thus the within-copy near-dup/cluster graph) is
  preserved exactly, while cross-copy shingle sets become disjoint
  (Jaccard 0);
- embeddings.embedding: copy i>0 applies a seeded random dimension
  permutation + per-dimension sign flips — norms and within-copy
  angles are EXACTLY preserved (orthogonal transform), cross-copy
  cosines collapse to noise around 0.

Fixed dims (region, nation) are copied as-is; all foreign keys shift
by the same per-copy offset so join cardinalities scale linearly.

Usage: python scripts/make_scaled_sf.py [SRC_DIR] [DST_DIR] [COPIES]
Defaults: the sf0.1 testdata -> .scaledata/sf1 in the checkout, 10 copies.
"""

from __future__ import annotations

import json
import os
import random
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

OFF = 10_000_000  # > every key in sf0.1 (max observed: 149_999)
EMB_DIM = 64


# every key column each table's copies shift by OFF
KEYS = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def scale(src: str, dst: str, copies: int) -> None:
    """Write ``copies`` decorrelated copies of ``src`` to ``dst``.
    Raises ValueError, naming the key, when a key of ``src`` reaches
    OFF: copy i shifts keys by i*OFF, so such a source would build
    copies whose keys collide."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark.session import get_spark

    for t, cols in KEYS.items():
        keys = pq.read_table(f"{src}/{t}.parquet", columns=list(cols))
        for c in cols:
            top = pc.max(keys[c]).as_py()
            if top is not None and top >= OFF:
                raise ValueError(
                    f"{src}: {t}.{c} reaches {top}, not below the key offset "
                    f"OFF={OFF}; the {copies} copies' keys would collide"
                )

    spark = get_spark("make-scaled-sf")
    spark.sparkContext.setLogLevel("ERROR")

    def read(t):
        return spark.read.parquet(f"{src}/{t}.parquet")

    # File counts scale with the copy factor: Spark writes one row
    # group per task here, and a parquet scan cannot split WITHIN a
    # row group — fixed file counts would cap every downstream scan at
    # sf1's parallelism no matter the data size (measured: documents
    # as 4 single-row-group files starved q_text_metrics to 4 of 32
    # cores at sf10, reading as fake 15.7x growth).
    file_factor = max(1, copies // 10)

    def write(df, t, nfiles):
        df.repartition(nfiles * file_factor).write.mode("overwrite").parquet(
            f"{dst}/{t}.parquet"
        )

    def fan(df):
        """One row per (row, copy): a single scan feeding all copies."""
        return df.withColumn("_c", F.explode(F.sequence(F.lit(0), F.lit(copies - 1))))

    def shift(col, copy_col="_c"):
        return (F.col(col) + F.col(copy_col).cast("long") * OFF).alias(col)

    # fixed dims: identical at every SF (TPC-H semantics)
    for t in ("region", "nation"):
        write(read(t), t, 1)

    for t, nfiles, cols in (
        ("customer", 4, ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")),
        ("supplier", 2, ("s_suppkey", "s_name", "s_nationkey", "s_acctbal")),
        ("part", 4, ("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")),
        ("orders", 8, ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                       "o_orderdate", "o_orderpriority")),
        ("lineitem", 16, ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate")),
        ("events", 8, ("event_id", "ts", "user_id", "event_type", "value", "props")),
    ):
        rows = fan(read(t)).select(*[shift(c) if c in KEYS[t] else c for c in cols])
        write(rows, t, nfiles)

    # documents: vocabulary-bijective token suffix per copy (see module doc)
    d = fan(read("documents"))
    text = F.when(F.col("_c") == 0, F.col("text")).otherwise(
        F.regexp_replace(
            F.col("text"),
            F.lit(r"(\S+)"),
            F.concat(F.lit("$1~"), F.col("_c").cast("string")),
        )
    )
    write(
        d.select(
            shift("doc_id"),
            text.alias("text"),
            "lang", "source",
            F.length(text).cast("long").alias("n_chars"),
        ),
        "documents", 4,
    )

    # embeddings: per-copy orthogonal transform (permutation + signs)
    emb = read("embeddings")
    parts = []
    for i in range(copies):
        if i == 0:
            out = emb.select("vec_id", "embedding", "label")
        else:
            perm = list(range(EMB_DIM))
            random.Random(1000 + i).shuffle(perm)
            signs = [random.Random(2000 + i * 7 + d).choice((1.0, -1.0)) for d in range(EMB_DIM)]
            new = F.array(
                *[
                    (F.get("embedding", perm[dd]) * F.lit(signs[dd])).cast("float")
                    for dd in range(EMB_DIM)
                ]
            )
            out = emb.select(
                (F.col("vec_id") + i * OFF).alias("vec_id"),
                new.alias("embedding"),
                "label",
            )
        parts.append(out)
    allv = parts[0]
    for q in parts[1:]:
        allv = allv.unionByName(q)
    write(allv, "embeddings", 4)

    with open(os.path.join(dst, "MANIFEST.json"), "w") as f:
        json.dump(
            {
                "src": src,
                "copies": copies,
                "key_offset": OFF,
                "decorrelation": {
                    "documents": "token suffix ~<copy> (vocab bijection)",
                    "embeddings": "seeded dim permutation + sign flips (orthogonal)",
                },
            },
            f,
            indent=2,
        )
    spark.stop()


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, ".scaledata", "sf1")
    copies = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(dst, exist_ok=True)
    scale(src, dst, copies)
    print(json.dumps({"dst": dst, "copies": copies}))


if __name__ == "__main__":
    main()
