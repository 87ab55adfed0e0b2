"""Corpus-curation filters for LLM training-data pipelines.

The Gopher-style repetition signals (Rae et al. 2021, "Scaling
Language Models", table A1: duplicate-line fraction, duplicate-line
character fraction, top/duplicated n-gram character fractions), PII
detection/redaction, benchmark n-gram contamination, and
deterministic token-budget stratified sampling.

Scale design: every per-document signal is a pure Catalyst expression
tree (sorted-array run detection + fold aggregates — no Python, no
shuffle, whole-stage codegen over the scan). Contamination is a
broadcast semi-join against a tiny benchmark gram set; sampling needs
one tiny per-stratum aggregate broadcast back. At 100 TB the whole
suite is one pass over the corpus plus two kilobyte-scale side
frames.

Determinism: the sampling hash is the md5-derived 56-bit word hash
(functions/text_analysis.py) so an independent engine reproduces
every keep/drop decision bit-for-bit — the DuckDB oracle in
plans/llm.py does exactly that.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..io.io import from_lists
from ..operators.structure import let
from . import text_analysis as ta

__all__ = [
    "split_lines",
    "ngrams",
    "dup_stats",
    "dup_line_fraction",
    "dup_line_char_fraction",
    "top_ngram_char_fraction",
    "dup_ngram_char_fraction",
    "pii_counts",
    "redact_pii",
    "ngram_contamination",
    "stratified_token_sample",
    "chunk_documents",
    "pack_chunks",
    "deterministic_shuffle",
    "plan_mixture",
    "apply_mixture",
]


def split_lines(text: Column) -> Column:
    """Split into lines (keeps empties — a blank line is a line)."""
    return F.split(text, "\n", -1)


def ngrams(toks: Column, n: int) -> Column:
    """Word n-grams as space-joined strings; empty when len(toks) < n."""
    if n < 1:
        raise ValueError("n must be >= 1")
    if n == 1:
        return toks

    def build(t: Column) -> Column:
        cnt = F.size(t) - (n - 1)
        idxs = F.when(cnt > 0, F.sequence(F.lit(0), cnt - 1)).otherwise(
            F.array().cast("array<int>")
        )
        # NULL token list -> null grams, not [] (option preserved)
        return F.when(
            t.isNotNull(),
            F.transform(idxs, lambda i: F.array_join(F.slice(t, i + 1, n), " ")),
        )

    return let(toks, body=build)


def dup_stats(arr: Column) -> Column:
    """Multiplicity stats over a string array, one O(n log n) pass:
    ``struct(n, n_dup, chars, dup_chars)`` where *dup* counts every
    occurrence of a value that appears more than once.

    Sorted-neighbor test: after ``array_sort``, an element is part of
    a duplicate group iff it equals its left or right neighbor —
    run detection without a groupBy, entirely inside the row.
    """

    def build(s: Column) -> Column:
        flagged = F.transform(
            s,
            lambda x, i: F.struct(
                F.length(x).alias("ln"),
                (x.eqNullSafe(F.get(s, i - 1)) | x.eqNullSafe(F.get(s, i + 1))).alias(
                    "d"
                ),
            ),
        )
        zero = F.struct(
            F.lit(0).cast("long").alias("n"),
            F.lit(0).cast("long").alias("n_dup"),
            F.lit(0).cast("long").alias("chars"),
            F.lit(0).cast("long").alias("dup_chars"),
        )
        return F.aggregate(
            flagged,
            zero,
            lambda a, p: F.struct(
                (a["n"] + 1).alias("n"),
                (a["n_dup"] + p["d"].cast("long")).alias("n_dup"),
                (a["chars"] + p["ln"]).alias("chars"),
                (a["dup_chars"] + F.when(p["d"], p["ln"]).otherwise(0)).alias(
                    "dup_chars"
                ),
            ),
        )

    return let(F.array_sort(arr), body=build)


def dup_line_fraction(text: Column) -> Column:
    """Fraction of lines that are repeats of another line (Gopher
    duplicate-line fraction). 0 for empty/single-line docs. The stats
    struct is let-bound: read 3x, folded once."""
    return let(
        dup_stats(split_lines(text)),
        body=lambda s: F.when(s["n"] > 0, s["n_dup"].cast("double") / s["n"]).otherwise(
            0.0
        ),
    )


def dup_line_char_fraction(text: Column) -> Column:
    """Fraction of line-characters inside duplicated lines."""
    return let(
        dup_stats(split_lines(text)),
        body=lambda s: F.when(
            s["chars"] > 0, s["dup_chars"].cast("double") / s["chars"]
        ).otherwise(0.0),
    )


def top_ngram_mode(grams: Column) -> Column:
    """Mode of a string array without a groupBy: sort, then one fold
    tracking (prev, run, best, best_gram); returns
    ``struct(..., best, bestg)``. Ascending sort + strict ``>`` makes
    ties break to the lexicographically smallest value —
    deterministic, and trivially mirrored in SQL."""

    def build(s: Column) -> Column:
        zero = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
            F.lit("").alias("bestg"),
        )
        def step(a, x):
            # the run counter is re-spelled 4x instead of let-bound:
            # each eval is two comparisons, while a per-ELEMENT let
            # costs array+struct machinery per step (measured 2.2s ->
            # 0.6s on 5k docs)
            r = F.when(x.eqNullSafe(a["prev"]), a["run"] + 1).otherwise(
                F.lit(1).cast("long")
            )
            return F.struct(
                x.alias("prev"),
                r.alias("run"),
                F.when(r > a["best"], r).otherwise(a["best"]).alias("best"),
                F.when(r > a["best"], x).otherwise(a["bestg"]).alias("bestg"),
            )

        return F.aggregate(s, zero, step)

    return let(F.array_sort(grams), body=build)


def top_ngram_char_fraction_from_mode(mode: Column, text: Column) -> Column:
    """Fraction from a precomputed :func:`top_ngram_mode` struct —
    ``count(top) * len(top) / len(text)``."""
    return F.when(
        (mode["best"] > 0) & (F.length(text) > 0),
        mode["best"].cast("double") * F.length(mode["bestg"]) / F.length(text),
    ).otherwise(0.0)


def top_ngram_char_fraction(text: Column, n: int) -> Column:
    """Characters covered by the single most frequent word n-gram,
    as a fraction of the document length (Gopher top n-gram char
    fraction): ``count(top) * len(top) / len(text)``. The mode struct
    is let-bound — it is read three times and must fold only once."""
    return let(
        top_ngram_mode(ngrams(ta.tokens(text), n)),
        body=lambda m: top_ngram_char_fraction_from_mode(m, text),
    )


def dup_ngram_char_fraction(text: Column, n: int) -> Column:
    """Characters inside word n-grams that occur more than once, as a
    fraction of the document length (Gopher duplicated n-gram char
    fraction; overlapping occurrences counted independently — may
    exceed 1 on pathological repetition, which is exactly the signal)."""
    ln = F.length(text)
    return let(
        dup_stats(ngrams(ta.tokens(text), n)),
        body=lambda s: F.when(ln > 0, s["dup_chars"].cast("double") / ln).otherwise(0.0),
    )


# ---------------------------------------------------------------------------
# PII
# ---------------------------------------------------------------------------

# RE2-compatible (works identically in Spark's Java regex and DuckDB's
# RE2 for these constructs — no lookarounds, no backreferences)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"


def pii_counts(text: Column) -> Column:
    """``struct(emails, ips, phones)`` occurrence counts."""
    return F.struct(
        F.regexp_count(text, F.lit(EMAIL_RE)).cast("long").alias("emails"),
        F.regexp_count(text, F.lit(IPV4_RE)).cast("long").alias("ips"),
        F.regexp_count(text, F.lit(PHONE_RE)).cast("long").alias("phones"),
    )


def redact_pii(text: Column) -> Column:
    """Replace emails/phones/IPs with typed placeholder tags.

    Email first (an address contains dots that could partially match
    the IP pattern), then phone, then IP."""
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PHONE_RE, "<PHONE>")
    return F.regexp_replace(out, IPV4_RE, "<IP>")


# ---------------------------------------------------------------------------
# benchmark contamination
# ---------------------------------------------------------------------------


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Per-document count of distinct word n-grams shared with a
    benchmark corpus — the standard train/test contamination check
    (GPT-3 appendix C / PaLM-style n-gram overlap).

    ``benchmark`` needs the same ``text_col``. Returns
    ``(id_col, contam_ngrams)`` with 0 for clean docs.

    100 TB shape: the benchmark gram set is tiny (benchmarks are MBs,
    corpora are TBs) — ``F.broadcast`` forces a map-side hash join,
    so the corpus is scanned once with no shuffle; the only exchange
    is the per-doc count aggregate. ``explode_outer`` keeps
    shorter-than-n docs in the output (count 0) without a second
    doc-grain join.
    """
    doc_grams = docs.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(ngrams(ta.tokens(F.col(text_col)), n))
        ).alias("gram"),
    )
    bench_grams = (
        benchmark.select(
            F.explode(F.array_distinct(ngrams(ta.tokens(F.col(text_col)), n))).alias("gram")
        )
        .distinct()
        .withColumn("hit", F.lit(1).cast("long"))
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "gram", "left")
        .groupBy(id_col)
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("contam_ngrams"))
    )


# ---------------------------------------------------------------------------
# token-budget stratified sampling
# ---------------------------------------------------------------------------

SAMPLE_PPM = 1_000_000


def stratified_token_sample(
    docs: DataFrame,
    stratum_col: str,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum downsampling to a token budget.

    Each stratum gets an equal share of ``budget_tokens``; its keep
    rate is ``min(1, share / stratum_tokens)`` quantized to parts per
    million, and a doc is kept when
    ``word_hash56(id) % 1e6 < rate_ppm`` — a pure function of the id,
    so the decision is reproducible in any engine (no RNG state, no
    partition dependence; the DuckDB oracle replays it exactly).

    Returns ``(id_col, stratum, n_tokens, rate_ppm, keep)``.

    100 TB shape: one map-side-combined aggregate over the corpus for
    per-stratum token totals (strata cardinality ~languages, so the
    result is KBs), broadcast back onto the scan — the sample itself
    is a stateless filter, trivially parallel, and resumable because
    it depends on nothing but the row.
    """
    base = docs.select(
        F.col(id_col),
        F.col(stratum_col).alias("stratum"),
        ta.token_count_ws(F.col(text_col)).alias("n_tokens"),
    )
    totals = base.groupBy("stratum").agg(F.sum("n_tokens").alias("stratum_tokens"))

    # equal share per stratum, computed against the (tiny) totals
    # frame — the strata count comes from an unpartitioned window over
    # it (KB-scale, one exchange) rather than a cross join, keeping
    # every downstream plan free of nested-loop joins; explicit
    # floor() — Spark's double->long cast truncates but DuckDB's
    # rounds, so the quantization must be spelled out
    from pyspark.sql import Window

    k = F.count(F.lit(1)).over(Window.partitionBy(F.lit(1)))
    strata = totals.select(
        "stratum",
        "stratum_tokens",
        F.least(
            F.lit(SAMPLE_PPM).cast("long"),
            F.floor(
                F.lit(float(budget_tokens))
                / k
                / F.col("stratum_tokens")
                * SAMPLE_PPM
            ).cast("long"),
        ).alias("rate_ppm"),
    )
    return base.join(F.broadcast(strata.select("stratum", "rate_ppm")), "stratum").select(
        id_col,
        "stratum",
        "n_tokens",
        "rate_ppm",
        (
            F.pmod(ta.word_hash56(F.col(id_col).cast("string")), F.lit(SAMPLE_PPM))
            < F.col("rate_ppm")
        ).alias("keep"),
    )


def chunk_documents(
    docs: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into token-window chunks with optional overlap
    — the training-window preparation step (a doc longer than the
    context budget becomes several overlapping windows; short docs
    pass through as one chunk).

    Returns ``(id_col, chunk_idx, n_chunk_tokens, chunk_text)``; chunk
    ``i`` covers tokens ``[i*(max_tokens-overlap), ...+max_tokens)``.
    Empty/whitespace docs yield one empty chunk so every input id
    survives (same totality contract as the other per-doc ops).

    100 TB shape: tokenize once, build the window-start sequence, and
    ``posexplode`` — all scan-side; output size is input size times
    ~1/(1-overlap/max_tokens), no shuffle, no Python.
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    if not 0 <= overlap < max_tokens:
        raise ValueError("overlap must satisfy 0 <= overlap < max_tokens")
    step = max_tokens - overlap

    def build(toks: Column) -> Column:
        n = F.size(toks)
        # window starts: 0, step, 2*step, ... while start < n (at
        # least one chunk even when n == 0)
        last = F.greatest(
            F.floor((n.cast("double") - 1) / step).cast("int"), F.lit(0)
        )
        starts = F.sequence(F.lit(0), last * step, F.lit(step))
        return F.transform(
            starts,
            lambda s: F.struct(
                F.size(F.slice(toks, s + 1, max_tokens)).cast("long").alias("n"),
                F.array_join(F.slice(toks, s + 1, max_tokens), " ").alias("t"),
            ),
        )

    chunks = let(ta.tokens(F.col(text_col)), body=build)
    ex = docs.select(F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "_c"))
    return ex.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("_c")["n"].alias("n_chunk_tokens"),
        F.col("_c")["t"].alias("chunk_text"),
    )


def pack_chunks(
    chunks: DataFrame,
    max_tokens: int,
    shards: int = 32,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    len_col: str = "n_chunk_tokens",
) -> DataFrame:
    """Greedy sequence packing: assemble chunks into training examples
    of at most ``max_tokens`` tokens (the step after
    :func:`chunk_documents` — short chunks share an example instead of
    wasting pad tokens).

    Packing is an inherently sequential fold (an example closes when
    the NEXT chunk would overflow it — not expressible as a window
    cumsum, which would split a chunk across the boundary), so this is
    a legitimate applyInPandas op: chunks are hash-assigned to
    ``shards`` deterministic shards, and each shard packs its own
    chunks in (doc, chunk) order with a vectorized first-fit-sequential
    pass. Bin quality is per-shard greedy — the standard trade
    accepted by training pipelines, where cross-shard packing would
    serialize the corpus.

    Returns the input rows + (shard, seq_id, seq_offset): seq_id is
    globally unique (shard-prefixed), seq_offset is the chunk's token
    start within its example. A single chunk longer than ``max_tokens``
    gets an example of its own (callers that forbid overflow should
    chunk at <= max_tokens first).

    100 TB shape: one shuffle on the shard key; state is one running
    (seq, offset) pair per shard; output rows == input rows. Shard
    count bounds per-task memory: size it so corpus_tokens/shards
    fits an executor's task slice.
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    import pandas as pd

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in chunks.schema.fields
    ) + ", shard int, seq_id long, seq_offset long"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([id_col, idx_col], kind="mergesort").reset_index(
            drop=True
        )
        lens = pdf[len_col].to_numpy()
        shard = int(pdf["shard"].iloc[0])
        seq_ids, offsets = [], []
        seq, fill = 0, 0
        for n in lens:
            if fill > 0 and fill + n > max_tokens:
                seq, fill = seq + 1, 0
            seq_ids.append(seq)
            offsets.append(fill)
            fill += n
        pdf["seq_id"] = [shard * (1 << 40) + s for s in seq_ids]
        pdf["seq_offset"] = offsets
        return pdf

    with_shard = chunks.withColumn(
        "shard",
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(shards)).cast("int"),
    )
    return with_shard.groupBy("shard").applyInPandas(pack, out_schema)


def deterministic_shuffle(
    df: DataFrame, seed: int = 0, shards: int | None = None, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic global shuffle for training order: every row gets
    the same position for the same (id, seed) on any cluster size or
    partitioning of the input — the reproducible-training-run
    contract a random() orderBy cannot give.

    One range-partitioning shuffle on the hash (Spark samples the hash
    space to build balanced ranges) + a partition-local sort: rows
    stream out in globally-increasing ``_shuffle_key`` order across
    shard files. Re-keying with a new seed is a full re-shuffle, as it
    should be (epoch reshuffling). 100 TB: identical shape to any
    sort-write; no driver involvement, no skew (xxhash64 keys are
    uniform by construction).
    """
    keyed = df.withColumn(
        "_shuffle_key", F.xxhash64(F.col(id_col), F.lit(seed))
    )
    parts = shards if shards is not None else int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    return keyed.repartitionByRange(parts, "_shuffle_key").sortWithinPartitions(
        "_shuffle_key"
    )


# ---------------------------------------------------------------------------
# target-weight mixture planning (domain reweighting)
# ---------------------------------------------------------------------------


def plan_mixture(
    docs: DataFrame,
    domain_col: str,
    weights: dict[str, float],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain sampling plan for a TARGET token mixture — the
    DoReMi/The-Pile-style "data recipe" stage; the equal-share cousin
    is :func:`stratified_token_sample`.

    ``weights`` give the desired mixture PROPORTIONS (any positive
    scale — never normalized, so the arithmetic both engines replay
    is exactly the caller's literals). With no upsampling, the
    largest corpus achieving the target mixture has total
    ``T = min_d(avail_d / w_d)`` weighted tokens; each domain keeps
    ``rate_d = w_d * T / avail_d`` of its tokens (the arg-min domain
    keeps everything), quantized to ppm by floor() — spelled out
    because Spark's double->long cast truncates while DuckDB's
    rounds. Domains absent from ``weights`` get rate 0 (dropped).

    Returns ``(domain, avail_tokens, weight, rate_ppm)``.

    100 TB shape: ONE map-side-combined aggregate for per-domain
    token totals (domains ~ languages/sources, so KBs), the min-ratio
    over an unpartitioned window on that tiny frame (one exchange of
    KBs, no cross join), and the plan itself is the broadcast side of
    :func:`apply_mixture`'s stateless filter.
    """
    from pyspark.sql import Window

    spark = docs.sparkSession
    wdf = from_lists(
        spark,
        [(d, float(w)) for d, w in sorted(weights.items())],
        f"{domain_col} string, weight double",
    )
    totals = (
        docs.select(
            F.col(domain_col),
            ta.token_count_ws(F.col(text_col)).alias("_nt"),
        )
        .groupBy(domain_col)
        .agg(F.sum("_nt").alias("avail_tokens"))
    )
    joined = totals.join(F.broadcast(wdf), domain_col, "left")
    # a weighted domain with ZERO available tokens cannot supply any
    # mixture share: it is excluded from the solve (it gets rate 0
    # below) rather than forcing T = 0 — which would silently zero
    # every other domain — or tripping ANSI division-by-zero in the
    # rate arithmetic
    t_min = F.min(
        F.when(
            F.col("weight").isNotNull() & (F.col("avail_tokens") > 0),
            F.col("avail_tokens").cast("double") / F.col("weight"),
        )
    ).over(Window.partitionBy(F.lit(1)))
    return joined.select(
        F.col(domain_col).alias("domain"),
        "avail_tokens",
        "weight",
        # guard BEFORE least(): both Spark's and DuckDB's least()
        # skip nulls, so least(1e6, null-rate) would resurrect an
        # unweighted domain at full rate instead of dropping it
        F.when(
            F.col("weight").isNull() | (F.col("avail_tokens") <= 0),
            F.lit(0).cast("long"),
        ).otherwise(
            F.least(
                F.lit(SAMPLE_PPM).cast("long"),
                F.floor(
                    F.col("weight")
                    * t_min
                    / F.col("avail_tokens").cast("double")
                    * SAMPLE_PPM
                ).cast("long"),
            )
        ).alias("rate_ppm"),
    )


def apply_mixture(
    docs: DataFrame,
    plan: DataFrame,
    domain_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize a :func:`plan_mixture` decision per document:
    keep iff ``md5-hash('mix:' || id) % 1e6 < rate_ppm`` — a pure
    function of the row (reproducible in any engine, no RNG state,
    no partition dependence), salted with ``mix:`` so the decision is
    independent of :func:`stratified_token_sample`'s unsalted hash on
    the same ids. Returns the input columns plus
    ``(rate_ppm, keep)``; unknown domains (absent from the plan)
    drop.

    100 TB: broadcast the KB-scale plan onto the scan; the filter is
    stateless and resumable."""
    p = plan.select(F.col("domain").alias(domain_col), "rate_ppm")
    return docs.join(F.broadcast(p), domain_col, "left").withColumn(
        "keep",
        F.pmod(
            ta.word_hash56(
                F.concat(F.lit("mix:"), F.col(id_col).cast("string"))
            ),
            F.lit(SAMPLE_PPM),
        )
        < F.coalesce(F.col("rate_ppm"), F.lit(0).cast("long")),
    )
