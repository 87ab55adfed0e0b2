"""Edge cases the synthetic corpus doesn't contain: token-less
documents (empty/whitespace text). Cluster dedup must emit them as
singleton clusters (totality — every input doc gets a cluster) and
simhash blocking must not pair them (a degenerate simhash of 0 would
otherwise pair every empty doc with every other at hamming 0). The
minhash cluster path is also value-checked on the gate corpus against
a driver-side union-find."""

from __future__ import annotations

from pyspark.sql import functions as F

ROWS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, ""),
    (3, "   "),
    (4, "completely different text about spark engines"),
    (5, None),
]


def _docs(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def test_clusters_include_tokenless_singletons(spark):
    from dask_awkward_sandbox_spark.functions import dedup

    out = dedup.minhash_dedup_clusters(_docs(spark), "text", "doc_id", 8, 4)
    got = {r["doc"]: r["cluster"] for r in out.collect()}
    assert set(got) == {0, 1, 2, 3, 4, 5}, "every doc must receive a cluster"
    assert got[0] == got[1] == 0, "exact dups share the min-id cluster"
    assert got[2] == 2 and got[3] == 3 and got[5] == 5, "token-less are singletons"
    assert got[4] == 4


def _union_find_clusters(ids, groups):
    """{id: min id of its component} over the "shares a group" graph."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in groups:
        for m in members[1:]:
            ra, rb = find(members[0]), find(m)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def test_minhash_clusters_match_union_find(spark, sf):
    """Value check of the registered cluster path on the gate corpus
    (sf0.001), outside the env-gated oracle sweep: clusters must equal
    a driver-side union-find over the collected LSH buckets of ALL
    bands. Roots are min ids by construction (the larger root always
    links under the smaller), and token-less docs, which sit in no
    bucket, stay singletons."""
    from collections import defaultdict

    from dask_awkward_sandbox_spark.functions import dedup
    from dask_awkward_sandbox_spark.plans.llm import NUM_PERMS, _docs

    docs = _docs(spark, sf)
    got = {
        r["doc"]: r["cluster"]
        for r in dedup.minhash_dedup_clusters(
            docs, "text", "doc_id", num_perms=NUM_PERMS, bands=4
        ).collect()
    }
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    buckets = defaultdict(list)
    for r in dedup.minhash_band_buckets(docs, "text", "doc_id", NUM_PERMS, 4).collect():
        buckets[(r["band"], r["key"])].append(r["doc"])
    want = _union_find_clusters(ids, list(buckets.values()))
    assert got == want, {v: (got.get(v), want[v]) for v in want if got.get(v) != want[v]}
    # the corpus exercises cross-band merges: one band alone is not enough
    band0 = _union_find_clusters(ids, [m for (b, _), m in buckets.items() if b == 0])
    assert band0 != want


def test_simhash_neardups_exclude_tokenless(spark):
    from dask_awkward_sandbox_spark.functions import dedup

    pairs = dedup.simhash_neardups(_docs(spark), "text", "doc_id", max_hamming=3)
    ids = {i for r in pairs.collect() for i in (r["id_a"], r["id_b"])}
    assert 2 not in ids and 3 not in ids and 5 not in ids
    assert (0, 1) in {(r["id_a"], r["id_b"]) for r in pairs.collect()}


def test_sample_factor_zero_rejected(spark):
    import pytest

    from dask_awkward_sandbox_spark import inspect as ins

    with pytest.raises(ValueError):
        ins.sample(spark.range(10), factor=0)


def test_salted_join_rejects_outer(spark):
    import pytest

    from dask_awkward_sandbox_spark.operators.joins import salted_join

    big = spark.range(10).select(F.col("id").alias("k"))
    small = spark.createDataFrame([(1, "x")], "k long, v string")
    with pytest.raises(ValueError):
        salted_join(big, small, "k", how="full")


def test_paragraph_dedup(spark):
    """C4-style paragraph dedup: keep-first-globally by (doc, idx),
    short paragraphs exempt, docs reassembled in position order,
    all-boilerplate docs become empty. Cross-checked against an
    independent DuckDB derivation of the same contract."""
    import duckdb

    from dask_awkward_sandbox_spark.functions.dedup import paragraph_dedup

    docs = [
        (1, "alpha beta\n\ncommon boilerplate text\n\ngamma"),
        (2, "common boilerplate text\n\ndelta epsilon"),
        (3, "common boilerplate text"),          # entirely boilerplate
        (4, "x\n\nalpha beta\n\nx"),             # short 'x' exempt (kept twice)
        (5, ""),                                  # empty doc: kept verbatim
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_pars"], r["n_pars_kept"])
        for r in paragraph_dedup(df, "text", "doc_id", min_chars=2).collect()
    }
    assert got[1] == ("alpha beta\n\ncommon boilerplate text\n\ngamma", 3, 3)
    assert got[2] == ("delta epsilon", 2, 1)
    assert got[3] == ("", 1, 0)
    assert got[4] == ("x\n\nx", 3, 2)  # 'alpha beta' lost to doc 1
    assert got[5] == ("", 1, 1)        # '' is short -> exempt, kept

    # independent DuckDB derivation (generate_series ordinality)
    con = duckdb.connect()
    con.execute("create table docs(doc_id bigint, text varchar)")
    con.executemany("insert into docs values (?, ?)", docs)
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute("""
            with pars as (
              select doc_id, i - 1 as idx, l[i] as par
              from (select doc_id, string_split(text, chr(10)||chr(10)) as l from docs) t,
                   unnest(generate_series(1, len(t.l))) as s(i)),
            win as (
              select par, min(struct_pack(d := doc_id, i := idx)) as w
              from pars where length(trim(par)) >= 2 group by par),
            kept as (
              select p.* from pars p left join win on p.par = win.par
              where length(trim(p.par)) < 2
                 or (win.w.d = p.doc_id and win.w.i = p.idx))
            select t.doc_id,
                   coalesce(k.text, '') as text,
                   t.n_pars,
                   coalesce(k.n_kept, 0) as n_kept
            from (select doc_id, count(*) as n_pars from pars group by doc_id) t
            left join (
              select doc_id, count(*) as n_kept,
                     string_agg(par, chr(10)||chr(10) order by idx) as text
              from kept group by doc_id) k using (doc_id)
        """).fetchall()
    }
    assert got == want


def test_paragraph_dedup_properties(spark):
    """Idempotence (dedup of deduped output changes nothing) and
    identity on corpora with no cross-document duplicates."""
    from dask_awkward_sandbox_spark.functions.dedup import paragraph_dedup

    # unique-paragraph corpus: output text == input text
    uniq = spark.createDataFrame(
        [(i, f"para{i}a\n\npara{i}b") for i in range(20)],
        "doc_id long, text string",
    )
    out = paragraph_dedup(uniq, "text", "doc_id", min_chars=2)
    assert {(r["doc_id"], r["text"]) for r in out.collect()} == {
        (i, f"para{i}a\n\npara{i}b") for i in range(20)
    }

    # idempotence on a duplicate-bearing corpus
    dup = spark.createDataFrame(
        [(i, "shared line\n\n" + f"own{i}") for i in range(10)],
        "doc_id long, text string",
    )
    once = paragraph_dedup(dup, "text", "doc_id", min_chars=2).select("doc_id", "text")
    twice = paragraph_dedup(once, "text", "doc_id", min_chars=2).select("doc_id", "text")
    assert sorted(once.collect()) == sorted(twice.collect())


def test_minhash_pair_lister_and_bounded_stats(spark):
    """The pair list a band self-join would return (out of the gate
    slot since r10, and out of the package since: its output is
    O(sum bucket^2)) is rebuilt here by a Python brute force over the
    banding. The package's bucket membership must group docs exactly
    as that reference does, and the registered output-bounded
    derivations (candidate counts + bucket histogram) must be
    arithmetically consistent with the reference pairs:
    sum(n_candidates) == 2 * sum(n_shared_bands) and
    sum over the histogram of n_buckets * bsize * (bsize - 1)."""
    from collections import defaultdict

    from dask_awkward_sandbox_spark.functions import dedup

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),      # exact dup of 0
        (2, "the quick brown fox jumps over the sleepy dog"),    # near dup
        (3, "completely different text about spark engines"),
        (4, "completely different text about spark engines"),    # exact dup of 3
        (5, "yet another unrelated document body here"),
        (6, ""),                                                 # token-less: excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    perms, bands = 8, 4

    # brute-force band keys from the signature frame itself (the
    # banding contract, not the implementation under test)
    sig = dedup.minhash_signature(df, "text", perms).collect()
    band_of = defaultdict(list)  # (band, key-tuple) -> [doc]
    for r in sig:
        if r["minhash_0"] is None:
            continue
        rows_per_band = perms // bands
        for bi in range(bands):
            key = tuple(
                r[f"minhash_{bi * rows_per_band + j}"] for j in range(rows_per_band)
            )
            band_of[(bi, key)].append(r["doc_id"])
    want_pairs = defaultdict(int)
    for docs in band_of.values():
        for i, a in enumerate(sorted(docs)):
            for b in sorted(docs)[i + 1 :]:
                want_pairs[(a, b)] += 1

    got_buckets = defaultdict(set)  # (band, md5 key) -> {doc}
    for r in dedup.minhash_band_buckets(
        df, "text", "doc_id", num_perms=perms, bands=bands
    ).collect():
        got_buckets[(r["band"], r["key"])].add(r["doc"])
    assert sorted((b, sorted(d)) for (b, _k), d in got_buckets.items()) == sorted(
        (b, sorted(d)) for (b, _k), d in band_of.items()
    )

    got_pairs = dict(want_pairs)
    assert (0, 1) in got_pairs and got_pairs[(0, 1)] == bands  # exact dups share all bands
    assert all(6 not in p for p in got_pairs)  # token-less excluded

    cand = {
        r["doc"]: r["n_candidates"]
        for r in dedup.minhash_candidate_counts(
            df, "text", "doc_id", num_perms=perms, bands=bands
        ).collect()
    }
    hist = dedup.minhash_bucket_histogram(
        df, "text", "doc_id", num_perms=perms, bands=bands
    ).collect()
    total_slots = 2 * sum(got_pairs.values())
    assert sum(cand.values()) == total_slots
    assert sum(r["n_buckets"] * r["bsize"] * (r["bsize"] - 1) for r in hist) == total_slots
    assert 6 not in cand
    # per-doc spot check: doc 0 shares all 4 bands with doc 1 plus any
    # bands co-bucketed with doc 2
    assert cand[0] >= bands


def test_simhash_hof_and_codegen_forms_agree(spark):
    """dedup.simhash (append-a-column HOF fold) and
    dedup.simhash_signatures (explode + codegen aggregates, the r9
    fast path both registered users take) must produce bit-identical
    signatures — the two implementations of one contract may not
    drift. Also pins the default width at 56 bits."""
    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark.functions import dedup

    d = _docs(spark).filter(F.col("text").isNotNull() & (F.trim("text") != ""))
    hof = {r["doc_id"]: r["simhash"]
           for r in dedup.simhash(d, "text").select("doc_id", "simhash").collect()}
    fast = {r["doc_id"]: r["simhash"]
            for r in dedup.simhash_signatures(d, "text", "doc_id").collect()}
    assert hof == fast and len(hof) == 3
    assert all(0 <= v < (1 << 56) for v in hof.values())
    # identical texts hash identically; different text differs
    assert hof[0] == hof[1] != hof[4]
    import pytest as _p

    with _p.raises(ValueError, match=r"\[1, 56\]"):
        dedup.simhash_signatures(d, "text", "doc_id", bits=57)
