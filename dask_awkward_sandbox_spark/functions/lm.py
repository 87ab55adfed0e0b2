"""Corpus-trained n-gram language model + perplexity quality filter.

The CCNet/RefinedWeb pipeline stage the other quality signals feed
into: train a bigram LM on the corpus (or a reference corpus), score
every document's per-token perplexity, and filter on it. CCNet uses a
pruned KenLM; the distributed analogue here is an add-one-smoothed
bigram model over a top-V vocabulary — small enough to ride as
broadcast join sides, expressive enough that boilerplate/gibberish
separates from running text by an order of magnitude of perplexity.

Everything is DataFrame ops over the shared whitespace tokenizer
(text_analysis.tokens — the same TOKENS fragment every oracle
replays), so the whole train+score path is value-checkable in SQL:
counts are exact ints, the only floats are the final ln/exp folds.

100 TB shape: three corpus scans (unigram count, bigram count, score)
— each a map-side-combined aggregate or an equi-join; the vocabulary
and mapped-unigram tables are KB-to-MB scale broadcast sides; the
bigram table is at most V^2 rows (16M at the default V=4096) and
joins on its natural key, so AQE picks broadcast vs shuffle by
measured size. Pair generation is scan-side (slice+zip, no per-token
window, no lag shuffle). The score itself is a pure function of the
model tables, so scoring new data is one scan + two broadcast joins +
one medium equi-join.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dask_awkward_sandbox_spark.functions import text_analysis as ta
from dask_awkward_sandbox_spark.io.io import from_lists

UNK = "<unk>"


@dataclass
class BigramLM:
    """Trained model: tiny vocab/unigram frames, medium bigram frame,
    and the smoothing denominator's vocabulary size (incl. <unk>)."""

    vocab: DataFrame     # (w)                 — top-V tokens
    unigrams: DataFrame  # (w, c)              — mapped token counts
    bigrams: DataFrame   # (pw, cw, c)         — mapped pair counts
    vn: int              # |vocab| + 1 (the <unk> slot)


def _pair_array(ts: Column) -> Column:
    """array<struct<pw,cw>> of adjacent token pairs, scan-side.
    slice lengths clamp at 0 so empty/one-token docs yield an empty
    array instead of erroring (F.sequence would flip descending)."""
    n = F.greatest(F.size(ts) - 1, F.lit(0))
    return F.zip_with(
        F.slice(ts, 1, n),
        F.slice(ts, 2, n),
        lambda p, c: F.struct(p.alias("pw"), c.alias("cw")),
    )


def _mapped(df: DataFrame, col: str, vocab: DataFrame, out: str) -> DataFrame:
    """Replace out-of-vocabulary tokens with <unk> via one broadcast
    left join (never a per-token array_contains over the vocab)."""
    marker = f"_v_{out}"
    v = vocab.select(F.col("w").alias(marker))
    return df.join(
        F.broadcast(v), df[col] == F.col(marker), "left"
    ).withColumn(out, F.coalesce(F.col(marker), F.lit(UNK))).drop(marker)


def lm_train(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = 4096,
    tokens_col: str | None = None,
) -> BigramLM:
    """Count-based training. Vocabulary is the top ``vocab_size``
    tokens by (count desc, token asc) — a total order both engines
    share, so an oracle can rebuild the identical cutoff.

    The vocabulary and mapped-unigram tables are COLLECTED (bounded:
    at most vocab_size+1 rows) and rebuilt as literal DataFrames with
    no corpus lineage — otherwise every reference to them in the
    scoring DAG (two vocab broadcast joins, one unigram join, plus
    the vn count) would re-run the full explode+groupBy corpus
    aggregate. The <unk> count is total tokens minus the vocabulary's
    (a cheap sum(size) branch — no explode), so training costs ONE
    eager job (r15: the vocab top-V and the total-token count ride a
    single tagged union, where r14 submitted them as two separate
    actions) and scoring three scans, total. The bigram table stays a
    lazy corpus aggregate: it is vocabulary-MAPPED but corpus-sized
    lineage, referenced exactly once per scoring action.

    ``tokens_col`` (r14 optimization): when set, the input frame
    already carries the tokenized array under that column and the
    per-scan re-tokenization is skipped — ``lm_perplexity`` passes a
    PERSISTED tokenized frame so its five corpus passes (two eager
    training collects + bigram/score/base at action time) tokenize
    the corpus ONCE instead of five times (guide §1.2 per-task work:
    the regexp split was the dominant repeated cost)."""
    spark = docs.sparkSession
    ts = F.col(tokens_col) if tokens_col else ta.tokens(F.col(text_col))
    # r15 (guide §1.2): ONE eager action for both training scalars —
    # the top-V vocabulary rows and the total-token count ride one
    # union (branch-tagged by `_t`), so training submits a single job
    # instead of two. The total branch keeps the exact sum(size(ts))
    # form (not sum of unigram counts) so null-text semantics are
    # bit-identical to the two-action form it replaces. Selection is
    # unchanged: (count desc, token asc) limit V — membership is all
    # downstream consumers use, and TakeOrderedAndProject picks the
    # identical cutoff inside the union.
    rows = (
        docs.select(F.explode(ts).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(vocab_size)
        .select(F.lit(True).alias("_t"), "w", "c")
        .unionByName(
            docs.select(F.sum(F.size(ts)).alias("c")).select(
                F.lit(False).alias("_t"),
                F.lit(None).cast("string").alias("w"),
                "c",
            )
        )
        .collect()
    )
    vocab_rows = [r for r in rows if r["_t"]]
    total = next(r["c"] for r in rows if not r["_t"]) or 0
    in_vocab = sum(r["c"] for r in vocab_rows)
    vocab = from_lists(spark, [(r["w"],) for r in vocab_rows], "w string")
    # merge (don't append) the OOV mass: a corpus containing the
    # LITERAL token '<unk>' in-vocabulary would otherwise produce two
    # '<unk>' unigram rows, fanning out the scoring join and
    # corrupting counts — the mapped-aggregate this replaces (and the
    # oracle's coalesce+group by) collapse them into one row
    uni_counts = {r["w"]: r["c"] for r in vocab_rows}
    uni_counts[UNK] = uni_counts.get(UNK, 0) + (total - in_vocab)
    uni = from_lists(spark, sorted(uni_counts.items()), "w string, c long")
    pairs = docs.select(F.explode(_pair_array(ts)).alias("p")).select(
        F.col("p.pw").alias("_rpw"), F.col("p.cw").alias("_rcw")
    )
    pairs = _mapped(pairs, "_rpw", vocab, "pw")
    pairs = _mapped(pairs, "_rcw", vocab, "cw")
    bi = pairs.groupBy("pw", "cw").agg(F.count(F.lit(1)).alias("c"))
    return BigramLM(vocab=vocab, unigrams=uni, bigrams=bi, vn=len(vocab_rows) + 1)


def lm_score(
    docs: DataFrame,
    model: BigramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-document add-one bigram log-likelihood and perplexity.

    For each adjacent pair, logp = ln(c(pw,cw)+1) - ln(c(pw)+vn);
    pairs or contexts the model never saw contribute ln(1)-ln(vn)
    (coalesced zero counts), so scoring held-out data needs no
    special casing. Returns one row per input document:
    (id, n_tokens, n_pairs, sum_bi, avg_logp, ppl) — counts exact,
    avg_logp rounded to 6 and ppl=exp(-avg_logp) to 3 digits so the
    cross-engine ln/exp ulp never flips a value hash; token-free and
    single-token docs carry nulls for the pair-derived columns.
    ``tokens_col``: precomputed token array (see ``lm_train``)."""
    ts = F.col(tokens_col) if tokens_col else ta.tokens(F.col(text_col))
    base = docs.select(
        F.col(id_col), F.size(ts).cast("long").alias("n_tokens")
    )
    pairs = docs.select(
        F.col(id_col), F.explode(_pair_array(ts)).alias("p")
    ).select(id_col, F.col("p.pw").alias("_rpw"), F.col("p.cw").alias("_rcw"))
    pairs = _mapped(pairs, "_rpw", model.vocab, "pw")
    pairs = _mapped(pairs, "_rcw", model.vocab, "cw")
    scored = (
        pairs.join(model.bigrams, ["pw", "cw"], "left")
        .withColumnRenamed("c", "_cbi")
        .join(
            F.broadcast(
                model.unigrams.select(
                    F.col("w").alias("pw"), F.col("c").alias("_cuni")
                )
            ),
            ["pw"],
            "left",
        )
        .select(
            id_col,
            F.coalesce(F.col("_cbi"), F.lit(0)).cast("long").alias("_cbi"),
            F.coalesce(F.col("_cuni"), F.lit(0)).cast("long").alias("_cuni"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("_cbi").alias("sum_bi"),
            F.sum(
                F.log(F.col("_cbi") + F.lit(1).cast("double"))
                - F.log(F.col("_cuni") + F.lit(float(model.vn)))
            ).alias("_slp"),
        )
    )
    return base.join(scored, id_col, "left").select(
        id_col,
        "n_tokens",
        "n_pairs",
        "sum_bi",
        F.round(F.col("_slp") / F.col("n_pairs"), 6).alias("avg_logp"),
        F.round(
            F.exp(-(F.col("_slp") / F.col("n_pairs"))), 3
        ).alias("ppl"),
    )


_TOK_CACHE: list = []


def lm_perplexity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 4096,
    persist_tokens: bool = True,
) -> DataFrame:
    """Train on the corpus and score the same corpus — the held-in
    form the quality-filter stage uses when no reference corpus is
    supplied (outlier-perplexity docs are the boilerplate/gibberish
    tail on BOTH held-in and held-out scoring).

    r14 optimization (guide §1.2 / §5): the corpus is tokenized ONCE
    into a persisted (MEMORY_AND_DISK) ``(id, tokens)`` frame that
    every training/scoring pass reads, instead of re-running the
    regexp tokenizer five times (vocab collect, total collect, bigram
    aggregate, score pairs, per-doc base). Values are bit-identical —
    the tokenizer is a pure deterministic function, evaluated once vs
    five times. The persist is per-invocation (each call re-tokenizes
    from the parquet input; callers/bench clearCache between runs)
    and single-slot resident: a new call unpersists the previous
    frame (the _ROUNDTRIP_CACHE precedent) — so a returned frame must
    be ACTIONED before lm_perplexity is called again: the next call
    evicts the previous call's persisted tokens, and a still-lazy
    result from the earlier call then silently recomputes (values
    stay correct; only the tokenize-once optimization is lost). The
    module-level cache is also unsynchronized — single-threaded
    driver use is assumed (see session.scoped_conf). Callers
    needing overlapping lifecycles should call lm_train/lm_score
    directly with their own persisted tokens frame. At 100 TB the cache is a
    serialized columnar spill ~ corpus-sized; the tokenizer is
    CPU-dense enough (per-doc regexp split) that one materialization
    beats four recomputes, and ``persist_tokens=False`` restores the
    recompute form for deployments where even the spill is unwanted."""
    tok_col = "_lm_toks"
    tok = docs.select(F.col(id_col), ta.tokens(F.col(text_col)).alias(tok_col))
    if persist_tokens:
        from pyspark import StorageLevel

        while _TOK_CACHE:
            _TOK_CACHE.pop().unpersist(blocking=False)
        tok = tok.persist(StorageLevel.MEMORY_AND_DISK)
        _TOK_CACHE.append(tok)
    return lm_score(
        tok,
        lm_train(tok, text_col, vocab_size, tokens_col=tok_col),
        id_col,
        text_col,
        tokens_col=tok_col,
    )


def perplexity_filter(
    docs: DataFrame,
    model: BigramLM,
    max_ppl: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keep documents whose perplexity is at most ``max_ppl`` (plus
    degenerate sub-2-token docs, which have no pairs to score — the
    length filters own those)."""
    s = lm_score(docs, model, id_col, text_col).select(
        id_col, "ppl"
    )
    return (
        docs.join(s, id_col, "left")
        .filter(F.col("ppl").isNull() | (F.col("ppl") <= max_ppl))
        .drop("ppl")
    )
