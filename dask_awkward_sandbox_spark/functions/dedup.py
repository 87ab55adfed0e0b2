"""Deduplication operators for LLM-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram Jaccard dedup, all built on
the cross-engine word hash from text_analysis (so minhash signatures
and simhashes are oracle-checkable in DuckDB).

Scale design (100 TB of documents):
- exact: one shuffle on a 128-bit content hash; group sizes are
  near-1 so no skew.
- minhash: signatures are computed scan-side (JVM expressions,
  no shuffle); banding turns O(n^2) similarity into (band, key)
  bucket membership, which the bucket stats and the clusters read
  with one groupBy or window each, never listing the pairs.
- simhash: 64 scan-side expressions -> one 16/64-bit key; near-dup
  lookup joins on rotated key bands (hamming-ball blocking).
- ngram_jaccard: exact verification on candidate pairs only (never
  all pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dask_awkward_sandbox_spark.functions.similarity import connected_components
from dask_awkward_sandbox_spark.functions.text_analysis import (
    MOD,
    tokens,
    word_hash,
    word_hash56,
)


def minhash_perms(num_perms: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for h_i(x) = (a*x + b) mod p.

    Derived from the golden-ratio multiplier so both the Spark plan
    and the DuckDB oracle can embed the same literals.
    """
    out = []
    for i in range(num_perms):
        a = (2654435761 * (i + 1) + 104729) % MOD
        b = (40503 * (i + 1) * (i + 1) + 12345) % MOD
        if a == 0:
            a = 1
        out.append((a, b))
    return out


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: group by content hash, keep stats + canonical id."""
    return df.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min(F.col(id_col)).alias("keep_id"),
    )


def minhash_signature(df: DataFrame, text_col: str, num_perms: int = 16) -> DataFrame:
    """Append minhash_0..minhash_{n-1} columns (scan-side, no shuffle)."""
    hs = F.transform(tokens(F.col(text_col)), lambda w: word_hash(w))
    out = df.withColumn("_hs", hs)

    def _perm(a: int, b: int):
        return lambda x: F.pmod(F.lit(a) * x + F.lit(b), F.lit(MOD))

    for i, (a, b) in enumerate(minhash_perms(num_perms)):
        out = out.withColumn(f"minhash_{i}", F.array_min(F.transform("_hs", _perm(a, b))))
    return out.drop("_hs")


def minhash_band_buckets(
    df: DataFrame | None,
    text_col: str,
    id_col: str,
    num_perms: int = 16,
    bands: int = 4,
    sig: DataFrame | None = None,
) -> DataFrame:
    """(doc, band, key) LSH bucket membership — scan-side signatures,
    one row per doc per band, no shuffle. Token-less docs carry no LSH
    signal and are excluded (they'd otherwise all collide on the
    empty-signature key; SQL engines instead drop them from the
    unnest, so exclusion is also what the oracle computes). ``sig``
    (a precomputed :func:`minhash_signature` output with at least
    ``num_perms`` columns) skips the signature scan."""
    rows = num_perms // bands
    if sig is None:
        if df is None:
            raise ValueError(
                "minhash_band_buckets: pass df (signatures computed here) "
                "or sig= (a precomputed minhash_signature frame); got neither"
            )
        sig = minhash_signature(df, text_col, num_perms)
    sig = sig.filter(F.col("minhash_0").isNotNull())
    band_cols = []
    for bi in range(bands):
        parts = [F.col(f"minhash_{bi * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(F.lit(bi).alias("band"), F.md5(F.concat_ws("_", *parts)).alias("key"))
        )
    return sig.select(
        F.col(id_col).alias("doc"), F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_bucket_sizes(
    df: DataFrame | None,
    text_col: str,
    id_col: str,
    num_perms: int = 16,
    bands: int = 4,
    sig: DataFrame | None = None,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """(band, key, bsize) — LSH bucket occupancy. One partial-agg
    groupBy over the |docs|*bands membership rows; output is bounded
    by the number of non-empty buckets. ``buckets`` reuses a
    :func:`minhash_band_buckets` frame another leg already paid for."""
    if buckets is None:
        buckets = minhash_band_buckets(df, text_col, id_col, num_perms, bands, sig=sig)
    return buckets.groupBy("band", "key").agg(F.count(F.lit(1)).alias("bsize"))


def minhash_candidate_counts(
    df: DataFrame | None,
    text_col: str,
    id_col: str,
    num_perms: int = 16,
    bands: int = 4,
    sig: DataFrame | None = None,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """Per-doc LSH candidate-comparison count: for each doc, the number
    of (doc, other) comparisons a verify stage would run, summed over
    its bands — sum(bucket_size - 1), WITH band multiplicity (a pair
    sharing 2 bands counts twice, exactly the comparisons an
    unsuppressed verifier performs).

    This is the output-BOUNDED form of the band self-join: listing the
    pairs costs O(sum bucket^2) — corpus-quadratic on template-heavy
    corpora (measured 62.4M -> 641M pairs for 10x docs on the r9 sf10
    probe) — while this one returns |docs| rows off the same bucket
    structure via one groupBy + one equi-join, so it scales no matter
    how skewed the buckets are. Prefer :func:`minhash_dedup_clusters`
    for dedup decisions."""
    if buckets is None:
        buckets = minhash_band_buckets(df, text_col, id_col, num_perms, bands, sig=sig)
    sizes = minhash_bucket_sizes(None, text_col, id_col, buckets=buckets)
    return (
        buckets.join(sizes, ["band", "key"])
        .groupBy("doc")
        .agg(F.sum(F.col("bsize") - 1).cast("long").alias("n_candidates"))
    )


def minhash_bucket_histogram(
    df: DataFrame | None,
    text_col: str,
    id_col: str,
    num_perms: int = 16,
    bands: int = 4,
    sig: DataFrame | None = None,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """(band, bsize, n_buckets) — the bucket-occupancy histogram per
    band, the skew diagnostic for LSH banding: a fat tail here is the
    early warning that a band self-join's pair list would explode. Output
    is tiny (distinct occupancy levels per band); work is the same
    single partial-agg groupBy as :func:`minhash_bucket_sizes`."""
    sizes = minhash_bucket_sizes(
        df, text_col, id_col, num_perms, bands, sig=sig, buckets=buckets
    )
    return sizes.groupBy("band", "bsize").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets")
    )


def minhash_dedup_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perms: int = 16,
    bands: int = 4,
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Near-dup clusters: connected components over the "shares an LSH
    band bucket" graph. Returns (doc, cluster) where cluster is the
    min doc id of the component; keep-set = rows with doc == cluster.

    THE scale path for minhash dedup. Listing every within-bucket pair
    costs O(sum b_i^2), which explodes on real corpora where template/boilerplate text forms
    thousand-doc buckets. Here a bucket of size n contributes n star
    edges (bucket min -> member, one window pass), which have the same
    components as the bucket hypergraph, and
    :func:`similarity.connected_components` collapses them: |docs| *
    bands edges, contracted each round. Every doc id is a node, so
    token-less docs (no bucket) come back as their own singleton
    clusters — the same totality the SQL oracle computes. ``stats``
    and ``max_iter`` pass through to the components loop.
    """
    buckets = minhash_band_buckets(df, text_col, id_col, num_perms, bands)
    star = buckets.select(
        F.min("doc").over(Window.partitionBy("band", "key")).alias("a"),
        F.col("doc").alias("b"),
    )
    ids = df.select(F.col(id_col).alias("id"))
    return connected_components(star, ids, max_iter=max_iter, stats=stats).select(
        F.col("id").alias("doc"), "cluster"
    )


def simhash(df: DataFrame, text_col: str, bits: int = 56) -> DataFrame:
    """Append a ``simhash`` column: sign-aggregated word-hash bits.

    Pure scan-side expression tree (``bits`` folds over the token
    hashes) — at scale this is a per-row map, no shuffle.

    r9: folds the 56-bit md5 word hash (word_hash56) and defaults to
    bits=56, up from a 16-bit fold over the mod-1e9+7 hash. The sf10
    probe caught the 16-bit form at 70.9x wall for 10x data: 16-bit
    blocking gives only 2^4 keys per 4-bit band, so the band join's
    candidate pairs are n^2/64 REGARDLESS of content — hash-space
    saturation, not duplicate density. 56 bits (4 bands x 14 bits =
    16384 keys/band) keeps band buckets proportional to true near-dup
    groups; the pigeonhole recall guarantee (hamming <= bands-1
    shares an exact band) is unchanged. 56 not 64: the md5-derived
    word hash is 56 bits (14 hex chars — exactly what DuckDB's
    ('0x'||substr(md5(w),1,14))::bigint twin reads), and staying
    under the int64 sign bit keeps ``1 << b`` exact in both engines.
    """
    if not 1 <= bits <= 56:
        raise ValueError(f"simhash bits must be in [1, 56], got {bits}")
    hs = F.transform(tokens(F.col(text_col)), lambda w: word_hash56(w))
    out = df.withColumn("_hs", hs)
    acc = F.lit(0).cast("long")

    def _bitstep(b: int):
        return lambda a, x: a + F.shiftright(x, b).bitwiseAND(F.lit(1)) * 2 - 1

    for b in range(bits):
        wb = F.aggregate(F.col("_hs"), F.lit(0).cast("long"), _bitstep(b))
        acc = acc + F.when(wb > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return out.withColumn("simhash", acc).drop("_hs")


def simhash_signatures(
    df: DataFrame, text_col: str, id_col: str, bits: int = 56
) -> DataFrame:
    """(id_col, simhash) via explode + grouped codegen aggregates —
    the fast form of :func:`simhash` for callers that only need the
    signature table (both registered users). The per-bit sign sums run
    as whole-stage-codegen SUM aggregates over exploded token hashes
    instead of ``bits`` interpreted HOF folds per row: measured 2.1x
    faster at sf10 (4.3s vs 9.0s) and equal at gate SF, value-
    identical. Scale shape: the token explode never shuffles — partial
    aggregation collapses to one 56-counter row per doc map-side, so
    the exchange carries |docs| rows. Token-less docs (empty/null
    text) explode to zero rows and drop out — exactly the exclusion
    :func:`simhash_neardups` wants."""
    if not 1 <= bits <= 56:
        raise ValueError(f"simhash bits must be in [1, 56], got {bits}")
    ex = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_w")
    ).select(id_col, word_hash56(F.col("_w")).alias("_h"))
    wb = ex.groupBy(id_col).agg(
        *[
            F.sum(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(
                f"_w{b}"
            )
            for b in range(bits)
        ]
    )
    acc = F.lit(0).cast("long")
    for b in range(bits):
        acc = acc + F.when(F.col(f"_w{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return wb.select(id_col, acc.alias("simhash"))


def hamming64(a, b):
    """Popcount of XOR — hamming distance between hash keys."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_neardups(
    df: DataFrame | None,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    sig: DataFrame | None = None,
    bits: int = 56,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance.

    Blocking: ``max_hamming + 1`` equal bands of ``bits`` (pigeonhole
    — any pair within hamming <= bands-1 shares at least one exact
    band), so the join is equi, not cross; at the default 56/4 each
    band key has 14 bits, so band-bucket sizes track true near-dup
    group sizes instead of saturating. Token-less docs are excluded: their
    simhash degenerates to 0 and every such doc would pair with every
    other at hamming 0 — noise, and a divergence from SQL engines
    whose unnest drops them entirely.

    ``sig``: a precomputed (id_col, simhash) frame to reuse a
    signature scan another leg already paid for — the CALLER then
    owns token-less exclusion (this function cannot re-check it
    without the text column).
    """
    if sig is None:
        if df is None:
            raise ValueError(
                "simhash_neardups: pass df (signatures computed here) or "
                "sig= (a precomputed (id, simhash) frame); got neither"
            )
        # explode-agg signatures: token-less docs drop out natively
        # (the has_tokens exclusion), bit sums run codegen-side
        sig = simhash_signatures(df, text_col, id_col, bits=bits)
    sh = sig.select(F.col(id_col).alias("doc"), "simhash")
    nbands = max_hamming + 1
    if bits % nbands:
        raise ValueError(
            f"bits={bits} must divide into max_hamming+1={nbands} equal bands"
        )
    width = bits // nbands
    bandcols = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftright(F.col("simhash"), i * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("key"),
        )
        for i in range(nbands)
    ]
    ex = sh.select("doc", "simhash", F.explode(F.array(*bandcols)).alias("bk")).select(
        "doc", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a, b = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, pairs: DataFrame, n: int = 1,
    small_candidates: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard for given (id_a, id_b) candidate pairs.

    ``n=1`` is bag-of-words; ``n>=2`` builds shingles scan-side.

    The candidate table is LSH output, which on a boilerplate-heavy
    corpus is O(sum bucket^2) — potentially corpus-sized — so it is
    NOT hinted by default: the id-equi joins let AQE broadcast from
    runtime size when the candidates really are small, and degrade to
    linear shuffle joins when they are not. ``small_candidates=True``
    opts into the pinned broadcast plan when the caller knows the
    candidate set is bounded."""
    toks = tokens(F.col(text_col))
    if n > 1:
        sz = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(sz - n, F.lit(-1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    else:
        grams = toks
    gs = df.select(F.col(id_col).alias("doc"), F.array_distinct(grams).alias("grams"))
    cand = F.broadcast(pairs) if small_candidates else pairs
    j = (
        cand
        .join(gs.withColumnRenamed("doc", "id_a").withColumnRenamed("grams", "ga"), "id_a")
        .join(gs.withColumnRenamed("doc", "id_b").withColumnRenamed("grams", "gb"), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("ga"), F.col("gb"))).cast("double")
    union = F.size(F.col("ga")).cast("double") + F.size(F.col("gb")).cast("double") - inter
    return j.select(
        "id_a", "id_b", F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard")
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep: str = "\n\n",
    min_chars: int = 1,
) -> DataFrame:
    """Paragraph-granular exact dedup (C4/RefinedWeb line dedup): a
    paragraph that occurs in several documents is kept ONLY at its
    globally-first occurrence (min (doc, position)); every other copy
    is removed and the documents are reassembled without them.

    Returns (id, text, n_pars, n_pars_kept) — text is the document
    rebuilt from its surviving paragraphs joined by ``sep`` (possibly
    empty when everything was boilerplate someone else said first).
    Paragraphs shorter than ``min_chars`` (after trim) are kept
    verbatim, exempt from dedup — C4's guard against collapsing empty
    lines and separators.

    Scale design: one groupBy on the paragraph hash (partial-agg min,
    so the boilerplate paragraphs that dominate real corpora — the
    natural hot keys — combine map-side instead of flooding one
    reducer), one equi-join back on the hash, one groupBy(id) to
    reassemble. The paragraph TEXT itself never shuffles twice: the
    winner table carries only (hash, winner-position), and reassembly
    sorts each doc's surviving (position, paragraph) pairs with
    array_sort — no window, no global ordering.
    """
    import re as _re

    # F.split takes a REGEX pattern; the separator is a literal
    pars = df.select(
        F.col(id_col).alias("_doc"),
        F.posexplode_outer(F.split(F.col(text_col), _re.escape(sep), -1)).alias(
            "_idx", "_par"
        ),
    )
    eligible = (F.length(F.trim(F.col("_par"))) >= min_chars)
    hashed = pars.withColumn("_h", F.md5(F.col("_par")))
    winners = (
        hashed.filter(eligible)
        .groupBy("_h")
        .agg(F.min(F.struct(F.col("_doc"), F.col("_idx"))).alias("_w"))
    )
    kept = hashed.join(winners, "_h", "left").filter(
        (~eligible)
        | ((F.col("_w._doc") == F.col("_doc")) & (F.col("_w._idx") == F.col("_idx")))
    )
    rebuilt = kept.groupBy("_doc").agg(
        F.count(F.lit(1)).alias("n_pars_kept"),
        F.array_sort(
            F.collect_list(F.struct(F.col("_idx"), F.col("_par")))
        ).alias("_sorted"),
    )
    totals = pars.groupBy("_doc").agg(F.count(F.lit(1)).alias("n_pars"))
    return (
        totals.join(rebuilt, "_doc", "left")
        .select(
            F.col("_doc").alias(id_col),
            # a doc whose every paragraph lost its dedup race has no
            # kept rows at all -> empty text, not null
            F.when(F.col("_sorted").isNull(), F.lit("")).otherwise(
                F.concat_ws(sep, F.transform("_sorted", lambda s: s["_par"]))
            ).alias(text_col),
            "n_pars",
            F.coalesce("n_pars_kept", F.lit(0)).alias("n_pars_kept"),
        )
    )


def ngram_occurrences(
    df: DataFrame, text_col: str, id_col: str, n: int = 8
) -> DataFrame:
    """One row per n-gram occurrence: (id, pos, gram).

    ``pos`` is the 0-based token index of the window start; ``gram``
    is the 56-bit md5 prefix of the space-joined token window
    (word_hash56 over array_join(slice(toks, i, n), ' ')), so DuckDB
    derives the identical key and the downstream shuffles move 8-byte
    longs instead of 32-char digests. 56-bit collisions make a
    non-duplicated window look duplicated — harmless over-removal at
    ~1-per-2^28-grams odds, same approximation class as MinHash.
    Tokenize-once scan-side work: no shuffle happens here.
    """
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_toks")).withColumn(
        "_ntok", F.size("_toks")
    )
    grams = F.when(
        F.col("_ntok") >= n,
        F.transform(
            F.sequence(F.lit(1), F.col("_ntok") - (n - 1)),
            lambda i: word_hash56(F.array_join(F.slice("_toks", i, n), " ")),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return base.select("_id", F.posexplode(grams).alias("pos", "gram")).select(
        F.col("_id").alias(id_col), "pos", "gram"
    )


def duplicate_ngram_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Substring-level dedup (the Lee et al. 2022 "Deduplicating
    Training Data" shape, re-done as a distributed n-gram inverted
    index instead of a suffix array): find every token span covered
    by an n-gram that occurs >= ``min_count`` times CORPUS-WIDE,
    merge overlapping/adjacent windows into maximal spans, and
    rebuild the text with those spans removed.

    Returns one row per input doc: (id, n_tokens, spans
    array<struct<start,end>> — 0-based token offsets, end exclusive,
    empty when clean — n_dup_tokens, clean_text).

    Scale design (100 TB): the exploded occurrence set is O(total
    tokens) but only ever aggregated or equi-joined — duplicated-gram
    detection is a partial-aggregated groupBy on the gram hash;
    joining occurrences back to the duplicated-gram set is an equi
    join whose output is no larger than its left input (hot grams are
    skewed keys -> AQE skew split, no row amplification per match
    since the right side is distinct grams); span assembly is one
    groupBy per doc with a sorted-positions JVM fold (no window, no
    per-doc Python). Nothing is quadratic in docs or grams.
    """
    occ = ngram_occurrences(df, text_col, id_col, n)
    dup = (
        occ.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("gram")
    )
    span_t = "array<struct<start:int,end:int>>"
    # sorted window starts -> maximal merged spans: fixed-length
    # windows sorted by start merge exactly when the next start is
    # <= the running end (adjacent counts as merged: the dup region
    # is contiguous in tokens)
    merged = F.aggregate(
        F.sort_array(F.collect_list("pos")),
        F.expr(f"cast(array() as {span_t})"),
        lambda acc, p: F.when(
            (F.size(acc) > 0) & (p <= F.element_at(acc, -1)["end"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["start"].alias("start"),
                        (p + n).cast("int").alias("end"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        p.cast("int").alias("start"), (p + n).cast("int").alias("end")
                    )
                ),
            )
        ),
    )
    spans = (
        occ.join(dup, "gram")
        .groupBy(id_col)
        .agg(merged.alias("spans"))
    )
    toks = tokens(F.col(text_col))
    out = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .join(spans, id_col, "left")
        .withColumn("spans", F.coalesce("spans", F.expr(f"cast(array() as {span_t})")))
    )
    in_span = lambda i: F.exists(  # noqa: E731
        F.col("spans"), lambda s: (i >= s["start"]) & (i < s["end"])
    )
    return out.select(
        id_col,
        F.size("_toks").cast("long").alias("n_tokens"),
        "spans",
        F.aggregate(
            "spans", F.lit(0), lambda a, s: a + s["end"] - s["start"]
        ).cast("long").alias("n_dup_tokens"),
        F.array_join(
            F.filter("_toks", lambda t, i: ~in_span(i)), " "
        ).alias("clean_text"),
    )
