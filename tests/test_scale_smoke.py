"""sf1 (10x) correctness smoke: a subset of the oracle-parity gate
run against the scale-probe dataset (VERDICT r4 item 8).

Skipped unless SPARK_GRAFT_SF1_TESTS=1 (each case is a 10x-data Spark
job plus a DuckDB pass). The dataset is the derived 10x replication
under .scaledata/sf1 (scripts/make_scaled_sf.py), generated on demand.

The subset covers every engine area: relational (q1/q3/q16), nested
HOF (reduce/sort/cartesian), strings, events/windows, and the three
heavy LLM paths (minhash clusters, embedding near-dup, text metrics)
— correctness at 10x, not just wall-clock, per the r4 verdict.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SF1_TESTS") != "1",
    reason="sf1 smoke is opt-in: set SPARK_GRAFT_SF1_TESTS=1",
)

SF1_DIR = os.environ.get(
    "SPARK_GRAFT_SCALE_DIR",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scaledata", "sf1"),
)

SUBSET = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q16_supplier_breadth",
    "q_reduce_order_count",
    "q_sort_argsort",
    "q_cartesian_combinations",
    "q_str_surface",
    "q_text_metrics",
    "q_corpus_curation",
    "q_lm_perplexity",  # r6: LM train+score, 20k-doc vocab/bigram joins
    "q_data_mixture",
    "q_tf_idf",         # r6: tf/df joins + ranked window at 20k docs
    "q_dedup_exact",
    "q_dedup_minhash_clusters",
    "q_embedding_neardup",
    "q_ann_bruteforce",
    "q_knn_join",        # r6: per-cell GEMM top-3 at 20k vectors, 156 cells
    "q_kmeans",          # r6: one distributed Lloyd iteration at 20k vectors
    "q_events_windowed",
    "q_window_funcs",
    "q_events_funnel_retention",
    # r5 slot-surgery additions: the new relational + curation slots
    "q_asof_join",
    "q_range_join",
    "q_interval_join",  # r6: bin-bucketed overlap join, naive oracle at 20k
    "q_dedup_paragraph",
]


@pytest.fixture(scope="module", autouse=True)
def sf1_dataset():
    if not os.path.isdir(os.path.join(SF1_DIR, "lineitem.parquet")):
        subprocess.run(
            [
                sys.executable,
                os.path.join(os.path.dirname(__file__), "..", "scripts", "make_scaled_sf.py"),
            ],
            check=True,
            timeout=1200,
        )
    return SF1_DIR


def _duck(sf_dir: str):
    """DuckDB views over the sf1 tables. Unlike the driver's
    single-file testdata, the scaled tables are DIRECTORIES of part
    files, so the views glob."""
    import duckdb

    try:
        from tests.test_oracle_parity import TABLES
    except ImportError:
        from test_oracle_parity import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as "
            f"select * from read_parquet('{sf_dir}/{t}.parquet/*.parquet')"
        )
    return con


# The registered clusters oracle is a recursive-CTE transitive
# closure, which accumulates (node, reachable-label) pairs — fine at
# sf0.01, but QUADRATIC per component, and sf1's 10x-replicated
# planted dup clusters push it past 10 minutes. The ORACLE is the
# bottleneck, not the operator: at sf1 this linear iterative
# min-label propagation (temp tables, same fixpoint) replaces it —
# the same independent-engine value check, in seconds.
def _clusters_oracle_iterative(con):
    from dask_awkward_sandbox_spark.plans.llm import H9, TOKENS, _perm_values_sql

    con.execute(
        f"""
        create temp table _bkey as
        with t as (select doc_id,
                          {H9.replace('w', 'unnest(' + TOKENS + ')')} as h
                   from documents),
        p(pid, a, b) as {_perm_values_sql()},
        sig as (select doc_id, pid, min((a * h + b) % 1000000007) as mh
                from t cross join p group by doc_id, pid)
        select doc_id, pid // 2 as band,
               md5(string_agg(mh::varchar, '_' order by pid)) as key
        from sig group by doc_id, pid // 2
        """
    )
    con.execute(
        "create temp table _lab as select doc_id as doc, doc_id as lab from documents"
    )
    for _ in range(30):
        con.execute(
            """
            create or replace temp table _nxt as
            with bucket_min as (
              select k.band, k.key, min(l.lab) as bmin
              from _bkey k join _lab l on l.doc = k.doc_id
              group by k.band, k.key),
            prop as (
              select k.doc_id as doc, min(bm.bmin) as cand
              from _bkey k join bucket_min bm using (band, key)
              group by k.doc_id)
            select l.doc, least(l.lab, coalesce(p.cand, l.lab)) as lab
            from _lab l left join prop p on p.doc = l.doc
            """
        )
        changed = con.execute(
            "select count(*) from _nxt n join _lab l on l.doc = n.doc "
            "where n.lab <> l.lab"
        ).fetchone()[0]
        con.execute("drop table _lab")
        con.execute("alter table _nxt rename to _lab")
        if changed == 0:
            break
    return con.execute(
        "select cast(doc as bigint) as doc, cast(lab as bigint) as cluster "
        "from _lab"
    ).df()


# Same reasoning for the r6-registered embedding-neardup CLUSTERS
# slot: edges come from the shared SQL fragment (bit-identical to the
# registered oracle's), the closure swaps the recursive walk for
# linear min-label iteration.
def _emb_clusters_oracle_iterative(con):
    from dask_awkward_sandbox_spark.plans.llm import NEARDUP_CLUSTER_EDGES_CTE

    con.execute(
        f"""
        create temp table _eund as
        with {NEARDUP_CLUSTER_EDGES_CTE}
        select a as src, b as dst from verified
        union
        select b as src, a as dst from verified
        """
    )
    con.execute(
        "create temp table _elab as "
        "select vec_id as node, vec_id as lab from embeddings"
    )
    for _ in range(30):
        con.execute(
            """
            create or replace temp table _enxt as
            with prop as (
              select u.src as node, min(l.lab) as cand
              from _eund u join _elab l on l.node = u.dst
              group by u.src)
            select l.node, least(l.lab, coalesce(p.cand, l.lab)) as lab
            from _elab l left join prop p on p.node = l.node
            """
        )
        changed = con.execute(
            "select count(*) from _enxt n join _elab l on l.node = n.node "
            "where n.lab <> l.lab"
        ).fetchone()[0]
        con.execute("drop table _elab")
        con.execute("alter table _enxt rename to _elab")
        if changed == 0:
            break
    return con.execute(
        "select cast(node as bigint) as id, cast(lab as bigint) as cluster "
        "from _elab"
    ).df()


@pytest.mark.parametrize("name", SUBSET)
def test_sf1_query_matches_oracle(spark, name):
    from dask_awkward_sandbox_spark.plans import ORACLES, QUERIES

    try:
        from tests.test_oracle_parity import _canon
    except ImportError:
        from test_oracle_parity import _canon

    sdf = QUERIES[name](spark, SF1_DIR).toPandas()
    if name not in ORACLES:
        assert sdf.shape[0] >= 0
        return
    con = _duck(SF1_DIR)
    if name == "q_dedup_minhash_clusters":
        odf = _clusters_oracle_iterative(con)
    elif name == "q_embedding_neardup":
        odf = _emb_clusters_oracle_iterative(con)
    else:
        odf = con.execute(ORACLES[name]).df()
    scols, srows = _canon(sdf)
    ocols, orows = _canon(odf)
    assert scols == ocols
    assert len(srows) == len(orows)
    assert srows == orows
