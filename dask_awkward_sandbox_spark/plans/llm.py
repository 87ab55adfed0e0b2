"""LLM-data-pipeline queries: dedup, text analysis, similarity search,
multimodal — each wired to functions/ and a DuckDB oracle.
The md5-derived word hash AND the hash-mixed LSH hyperplanes are
reproducible in SQL, so minhash signatures, band-join candidates,
connected-component clusters, simhash keys/near-dup pairs,
fingerprints, hyperplane bucket tables, LSH-blocked embedding
near-dup pairs and IVF seed-centroid assignment are ALL value-checked
by the driver; only the end-to-end approximate top-k searches keep
their guarantees in pytest (recall floors vs the exact oracle-checked
brute force — tests/test_similarity.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_awkward_sandbox_spark.functions import (
    dedup,
    quality_filters as qf,
    similarity,
    text_analysis as ta,
)
from dask_awkward_sandbox_spark.io.io import from_lists
from dask_awkward_sandbox_spark.plans.common import (
    parquet_row_count,
    read,
    replay_poison,
    stage_replay,
)
from dask_awkward_sandbox_spark.plans.registry import query
from dask_awkward_sandbox_spark.session import scratch_path

# DuckDB fragments mirroring text_analysis definitions exactly.
def _tokens_sql(col: str) -> str:
    return rf"list_filter(string_split_regex(trim({col}), '\s+'), x -> length(x) > 0)"


TOKENS = _tokens_sql("text")
H9 = "(('0x'||substr(md5(w),1,14))::bigint % 1000000007)"
# the UN-reduced 56-bit md5 word hash (dedup.word_hash56's twin) —
# the simhash fold needs all 56 bits, not the mod-1e9+7 reduction
H56 = "(('0x'||substr(md5(w),1,14))::bigint)"
NUM_PERMS = 8

# DuckDB fragment mirroring similarity.hyperplane exactly: component d
# of plane p is a hash-mix mapped into [-1, 1] — identical float ops,
# so both engines build bit-identical planes.
PLANE_COMP = (
    "((((2654435761 * (pl.plane * 1009 + d + 1) + 97) % 1000000007)"
    " / 1000000007) * 2.0 - 1.0)"
)
# 3 sign bits x 6 tables: ~70% recall of >=0.4-cosine pairs on this
# corpus at a pair budget of tables/2^planes = 3/4 of n^2/2 per
# bucket-size; at real scale planes grows with log2(n/bucket_target)
LSH_PLANES, LSH_TABLES, EMB_DIM = 3, 6, 64

# Per-vector (t, bucket) membership table, rebuilt from scratch in SQL:
# project each embedding onto the 12 deterministic hyperplanes, take
# sign bits, pack each table's 3 bits into a bucket id.
_BUCKETS_CTE = f"""
    e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
    pl as (select unnest(range({LSH_PLANES * LSH_TABLES})) as plane),
    proj as (
      select e.vec_id, pl.plane // {LSH_PLANES} as t, pl.plane % {LSH_PLANES} as bit,
             list_sum(list_transform(range({EMB_DIM}),
                                     d -> e.v[d+1] * {PLANE_COMP})) as pr
      from e cross join pl),
    b as (select vec_id, t,
                 sum(case when pr >= 0 then 1 << bit else 0 end) as bucket
          from proj group by vec_id, t)
"""


def _spread(spark, df):
    """Round-robin the rows across the session's cores before the
    compute-dense scan-side expressions. The test datasets arrive as
    1-4 single-row-group parquet files, and a scan cannot split WITHIN
    a row group — without this every HOF leg (minhash folds, simhash
    bit sums, repetition-signal sorts, LSH projections) runs on ONE of
    32 cores (measured: the minhash pair leg 8.7s -> 1.7s, simhash
    pairs 6.9s -> 1.3s at sf0.1). The exchange moves only the raw
    text/vector bytes once — two orders cheaper than the compute it
    parallelizes — and is UNCONDITIONAL so the physical plan keeps the
    same operator multiset at every SF (the scale probe's stability
    check). At 100 TB the same spread is a no-op-cost rebalance next
    to the downstream work, though real deployments with thousands of
    input files can drop it."""
    return df.repartition(spark.sparkContext.defaultParallelism)


def _docs(spark, sf_dir):
    return _spread(spark, read(spark, sf_dir, "documents"))


def _emb(spark, sf_dir):
    return _spread(spark, read(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@query(
    "q_text_metrics",
    rf"""
    with q as (
      select doc_id,
             cast(len({TOKENS}) as double) as n,
             cast(len(list_distinct({TOKENS})) as double) as d,
             cast(length(text) as double) as ln,
             cast(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) as double) as np
      from documents),
    fp as (
      select doc_id, cast(sum({H9} * i) % 1000000007 as bigint) as fp
      from (select doc_id, unnest({TOKENS}) as w,
                   generate_subscripts({TOKENS}, 1) as i
            from documents)
      group by doc_id),
    lined as (
      select doc_id,
             case when doc_id % 5 = 0
                  then substr(text, 1, 40) || chr(10)
                       || replace(text, ' a ', chr(10)) || chr(10)
                       || substr(text, 1, 40)
                  else replace(text, ' a ', chr(10)) end as lt
      from documents),
    lstat as (
      select doc_id,
             sum(c) as n_l,
             sum(case when c > 1 then c else 0 end) as dup_l,
             sum(c * ln) as ch_l,
             sum(case when c > 1 then c * ln else 0 end) as dup_ch_l
      from (select doc_id, line, count(*) as c, length(line) as ln
            from (select doc_id, unnest(string_split(lt, chr(10))) as line
                  from lined)
            group by doc_id, line)
      group by doc_id),
    tok as (select doc_id, {TOKENS} as toks, length(text) as tln from documents),
    g2c as (
      select doc_id, tln, g, count(*) as c
      from (select doc_id, tln, array_to_string(toks[i:i+1], ' ') as g
            from tok cross join unnest(range(1, greatest(len(toks), 1))) as t(i))
      group by doc_id, tln, g),
    top2 as (
      select doc_id, (c * length(g))::double / tln as top2_frac
      from (select *, row_number() over (partition by doc_id
                                         order by c desc, g asc) as rn
            from g2c)
      where rn = 1),
    dup3 as (
      select doc_id,
             sum(case when c > 1 then c * length(g) else 0 end)::double
               / max(tln) as dup3_frac
      from (select doc_id, tln, g, count(*) as c
            from (select doc_id, tln, array_to_string(toks[i:i+2], ' ') as g
                  from tok cross join unnest(range(1, greatest(len(toks) - 1, 1))) as t(i))
            group by doc_id, tln, g)
      group by doc_id),
    pin as (
      select doc_id,
             text || case when doc_id % 7 = 0
                          then ' contact user' || doc_id
                               || '@example.com or 10.0.' || (doc_id % 200)
                               || '.1 call 555-123-4567'
                          else '' end as ptext
      from documents),
    red as (
      select doc_id, ptext,
             regexp_replace(regexp_replace(regexp_replace(ptext,
               '{qf.EMAIL_RE}', '<EMAIL>', 'g'),
               '{qf.PHONE_RE}', '<PHONE>', 'g'),
               '{qf.IPV4_RE}', '<IP>', 'g') as rtext
      from pin),
    rfp as (
      select doc_id, cast(sum({H9} * i) % 1000000007 as bigint) as red_fp
      from (select doc_id, unnest({_tokens_sql("rtext")}) as w,
                   generate_subscripts({_tokens_sql("rtext")}, 1) as i
            from red)
      group by doc_id)
    select d0.doc_id,
           cast(len({TOKENS}) as bigint) as n_ws,
           cast(len(regexp_extract_all(text, '{ta.BPE_PATTERN}')) as bigint) as n_bpe,
           cast(len(regexp_extract_all(text, '\bthe\b'))
                + len(regexp_extract_all(text, '\band\b'))
                + len(regexp_extract_all(text, '\bof\b')) as bigint) as en_score,
           case when len(regexp_extract_all(text, '\bthe\b'))
                     + len(regexp_extract_all(text, '\band\b'))
                     + len(regexp_extract_all(text, '\bof\b')) > 3
                then 'en' else 'other' end as pred_lang,
           case when q.n > 0 and q.ln > 0
                then 0.3 * least(q.n / 200.0, 1.0) + 0.3 * (q.d / q.n)
                     + 0.4 * (1.0 - q.np / q.ln)
                else 0.0 end as quality,
           fp.fp,
           case when lstat.n_l > 0 then lstat.dup_l::double / lstat.n_l
                else 0.0 end as dup_line_frac,
           case when lstat.ch_l > 0 then lstat.dup_ch_l::double / lstat.ch_l
                else 0.0 end as dup_line_char_frac,
           coalesce(top2.top2_frac, 0.0) as top2_frac,
           coalesce(dup3.dup3_frac, 0.0) as dup3_frac,
           cast(len(regexp_extract_all(pin.ptext, '{qf.EMAIL_RE}')) as bigint) as pii_emails,
           cast(len(regexp_extract_all(pin.ptext, '{qf.IPV4_RE}')) as bigint) as pii_ips,
           cast(len(regexp_extract_all(pin.ptext, '{qf.PHONE_RE}')) as bigint) as pii_phones,
           coalesce(rfp.red_fp, 0) as red_fp
    from documents d0
    join q using (doc_id)
    left join fp on fp.doc_id = d0.doc_id
    left join lstat on lstat.doc_id = d0.doc_id
    left join top2 on top2.doc_id = d0.doc_id
    left join dup3 on dup3.doc_id = d0.doc_id
    join pin on pin.doc_id = d0.doc_id
    left join rfp on rfp.doc_id = d0.doc_id
    """,
)
def q_text_metrics(spark, sf_dir):
    """The text-analysis suite in one per-document pass: whitespace +
    BPE-ish token counting, stopword-count language-ID, heuristic
    quality score (identical expression tree both engines), the
    position-weighted rolling fingerprint on the shared word hash,
    the Gopher-style repetition signals (duplicate-line fraction /
    char fraction over a deterministic line structure with planted
    duplicates on every 5th doc; top-2-gram and duplicated-3-gram
    char fractions — n=3 because this vocab has no natural 5-gram
    repeats), and PII count/redact over planted emails/IPs/phones on
    every 7th doc, value-proved by fingerprinting the redacted text.
    All pure JVM expression trees — one scan plus the _spread
    rebalance exchange, no keyed shuffle."""
    d = _docs(spark, sf_dir)
    rep = F.replace(F.col("text"), F.lit(" a "), F.lit("\n"))
    pre = F.substring(F.col("text"), 1, 40)
    lined = F.when(
        F.col("doc_id") % 5 == 0, F.concat(pre, F.lit("\n"), rep, F.lit("\n"), pre)
    ).otherwise(rep)
    pii_in = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 10.0."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".1 call 555-123-4567"),
            ),
        ).otherwise(F.lit("")),
    )
    # Two-step select: tokenization and each fold struct are computed
    # ONCE in the mid projection and only field-read above it.
    # CollapseProject will not inline a non-cheap expression into
    # multiple references, so the split is a real evaluation barrier —
    # without it every leg re-tokenizes and the mode/dup folds run
    # once per field read (measured: 4.8s -> ~2.4s at sf0.1).
    toks = F.col("_toks")
    mid = d.select(
        "doc_id",
        "text",
        ta.tokens(F.col("text")).alias("_toks"),
        lined.alias("_lined"),
        pii_in.alias("_pii"),
    ).select(
        "doc_id",
        "text",
        "_toks",
        "_pii",
        ta.en_stopword_score(F.col("text")).alias("_en"),
        qf.dup_stats(qf.split_lines(F.col("_lined"))).alias("_ls"),
        qf.top_ngram_mode(qf.ngrams(toks, 2)).alias("_t2"),
        qf.dup_stats(qf.ngrams(toks, 3)).alias("_d3"),
        ta.fingerprint_tokens(toks).alias("_fp"),
        ta.fingerprint(qf.redact_pii(F.col("_pii"))).alias("_rfp"),
        qf.pii_counts(F.col("_pii")).alias("_pc"),
    )
    ls, d3 = F.col("_ls"), F.col("_d3")
    return mid.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_ws"),
        ta.token_count_bpe(F.col("text")).alias("n_bpe"),
        F.col("_en").alias("en_score"),
        F.when(F.col("_en") > 3, F.lit("en")).otherwise(F.lit("other")).alias("pred_lang"),
        ta.quality_score_tokens(toks, F.col("text")).alias("quality"),
        F.col("_fp").alias("fp"),
        F.when(ls["n"] > 0, ls["n_dup"].cast("double") / ls["n"])
        .otherwise(0.0)
        .alias("dup_line_frac"),
        F.when(ls["chars"] > 0, ls["dup_chars"].cast("double") / ls["chars"])
        .otherwise(0.0)
        .alias("dup_line_char_frac"),
        qf.top_ngram_char_fraction_from_mode(F.col("_t2"), F.col("text")).alias(
            "top2_frac"
        ),
        F.when(F.length("text") > 0, d3["dup_chars"].cast("double") / F.length("text"))
        .otherwise(0.0)
        .alias("dup3_frac"),
        F.col("_pc")["emails"].alias("pii_emails"),
        F.col("_pc")["ips"].alias("pii_ips"),
        F.col("_pc")["phones"].alias("pii_phones"),
        F.col("_rfp").alias("red_fp"),
    )


@query(
    "q_corpus_curation",
    rf"""
    with cdoc as (
      select doc_id,
             case when doc_id % 50 = 49 then 'PLANTED DUP' else text end as ctext
      from documents),
    ex as (select doc_id, md5(ctext) as h from cdoc),
    grp as (select h, cast(count(*) as bigint) as n_copies,
                   min(doc_id) as keep_id
            from ex group by h),
    tok8 as (select doc_id, {TOKENS} as toks from documents),
    dg as (select distinct doc_id, array_to_string(toks[i:i+7], ' ') as g
           from tok8 cross join unnest(range(1, greatest(len(toks) - 6, 1))) as t(i)),
    bg as (select distinct g from dg where doc_id < 5),
    contam as (select dg.doc_id, cast(count(*) as bigint) as cn
               from dg join bg using (g) group by dg.doc_id),
    lang as (
      select doc_id,
             case when len(regexp_extract_all(text, '\bthe\b'))
                       + len(regexp_extract_all(text, '\band\b'))
                       + len(regexp_extract_all(text, '\bof\b')) > 3
                  then 'en' else 'other' end as stratum,
             cast(len({TOKENS}) as bigint) as n_tokens
      from documents),
    tot as (select stratum, sum(n_tokens) as st from lang group by stratum),
    kk as (select cast(count(*) as bigint) as k from tot),
    rates as (select stratum,
                     least(1000000,
                           cast(floor(8000.0 / kk.k / tot.st * 1000000) as bigint))
                       as rate_ppm
              from tot cross join kk),
    ctok as (select doc_id, {TOKENS} as toks from documents),
    chn as (select doc_id, toks,
                   greatest((len(toks) - 1) // 12 + 1, 1) as nc
            from ctok),
    che as (select doc_id, i, toks[i*12+1 : i*12+16] as sl
            from chn cross join unnest(range(0, nc)) as t(i)),
    chunks as (select doc_id,
                      cast(count(*) as bigint) as n_chunks,
                      cast(sum(len(sl)) as bigint) as chunk_tokens,
                      md5(string_agg(array_to_string(sl, ' '), '|' order by i))
                        as chunks_md5
               from che group by doc_id)
    select d.doc_id,
           grp.n_copies,
           cast(d.doc_id = grp.keep_id as int) as canonical,
           coalesce(contam.cn, 0) as contam_ngrams,
           lang.stratum,
           lang.n_tokens,
           rates.rate_ppm,
           cast((('0x' || substr(md5(d.doc_id::varchar), 1, 14))::bigint % 1000000)
                < rates.rate_ppm as int) as keep,
           chunks.n_chunks,
           chunks.chunk_tokens,
           chunks.chunks_md5
    from documents d
    join ex on ex.doc_id = d.doc_id
    join grp on grp.h = ex.h
    left join contam on contam.doc_id = d.doc_id
    join lang on lang.doc_id = d.doc_id
    join rates on rates.stratum = lang.stratum
    join chunks on chunks.doc_id = d.doc_id
    """,
)
def q_corpus_curation(spark, sf_dir):
    """The curation pipeline's per-document decision table: every doc
    annotated with (a) its exact-dup group size and canonical flag
    (planted identical text on every 50th doc — parity:
    functions/dedup.py exact_dedup, here joined back to doc grain),
    (b) its 8-gram benchmark-contamination count (benchmark = docs
    0-4; broadcast gram join, explode_outer zero rows), and (c) the
    deterministic token-budget sampling decision (8k-token budget
    split across lang_id strata; md5-ppm threshold replayed exactly
    by the oracle).

    100 TB shape: one corpus scan feeds three doc-keyed branches —
    the dedup annotate shuffles once on the content hash, the
    contamination branch broadcasts the (tiny) benchmark gram set and
    shuffles once on doc_id for the count, the sampler aggregates a
    KB-scale strata table and broadcasts it back. All joins equi,
    nothing quadratic, no Python."""
    d = _docs(spark, sf_dir)
    ctext = F.when(F.col("doc_id") % 50 == 49, F.lit("PLANTED DUP")).otherwise(
        F.col("text")
    )
    ex = d.select("doc_id", F.md5(ctext).alias("h"))
    grp = ex.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keep_id")
    )
    dup_side = ex.join(grp, "h").select(
        "doc_id",
        "n_copies",
        (F.col("doc_id") == F.col("keep_id")).cast("int").alias("canonical"),
    )
    bench = d.filter(F.col("doc_id") < 5)
    contam = qf.ngram_contamination(d, bench, n=8)
    sampled = qf.stratified_token_sample(
        d.withColumn("lang", ta.lang_id(F.col("text"))), "lang", budget_tokens=8000
    ).select(
        "doc_id",
        "stratum",
        "n_tokens",
        "rate_ppm",
        F.col("keep").cast("int").alias("keep"),
    )
    # chunking leg (r5): 16-token windows with 4-token overlap, value-
    # proved text-exactly — the md5 over ordered chunk texts means a
    # single wrong window boundary breaks the hash
    chunks = (
        qf.chunk_documents(d, max_tokens=16, overlap=4)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_chunk_tokens").alias("chunk_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("chunk_idx", "chunk_text"))
                        ),
                        lambda s: s["chunk_text"],
                    ),
                    "|",
                )
            ).alias("chunks_md5"),
        )
    )
    return (
        dup_side.join(contam, "doc_id").join(sampled, "doc_id").join(chunks, "doc_id")
    )


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    rf"""
    with ex as (
      select md5(text) as text_hash,
             cast(count(*) as bigint) as n_copies,
             cast(min(doc_id) as bigint) as keep_id
      from documents group by md5(text)),
    tok as (select doc_id, unnest(list_distinct({TOKENS})) as w from documents),
    c as (select doc_id, count(*) as na from tok group by doc_id),
    i as (select t1.doc_id, count(*) as ni from tok t1
          join tok t2 on t2.doc_id = t1.doc_id + 1 and t2.w = t1.w
          group by t1.doc_id),
    jac as (
      select c1.doc_id,
             cast(coalesce(i.ni, 0) as double)
                   / (c1.na + c2.na - coalesce(i.ni, 0)) as jaccard
      from c c1
      join c c2 on c2.doc_id = c1.doc_id + 1
      left join i on i.doc_id = c1.doc_id)
    ,occ8 as (select doc_id, i - 1 as pos,
                    ('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 14))::bigint as g
             from (select doc_id, {TOKENS} as toks from documents)
             cross join unnest(range(1, greatest(len(toks) - 6, 1))) as t(i)),
    dupg as (select g from occ8 group by g having count(*) >= 2),
    dpos as (select occ8.doc_id, occ8.pos from occ8 join dupg using (g)),
    disl as (select doc_id, pos,
                    case when pos - lag(pos) over
                              (partition by doc_id order by pos) <= 8
                         then 0 else 1 end as brk
             from dpos),
    dgid as (select doc_id, pos,
                    sum(brk) over (partition by doc_id order by pos) as grp
             from disl),
    dsp as (select doc_id, min(pos) as s, max(pos) + 8 as e
            from dgid group by doc_id, grp),
    dagg as (select doc_id, cast(sum(e - s) as bigint) as dup_tokens,
                    string_agg(s || '-' || e, ',' order by s) as spans
             from dsp group by doc_id)
    select 'exact' as leg, text_hash as key, keep_id as id,
           cast(n_copies as double) as val
    from ex
    union all
    select 'jaccard' as leg, cast(null as varchar) as key, doc_id as id,
           jaccard as val
    from jac
    union all
    select 'dupspan' as leg, spans as key, doc_id as id,
           cast(dup_tokens as double) as val
    from dagg
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact-dedup surface in one slot, three legs: content-hash dedup
    ('exact': hash, copy count, kept id), the exact token-set
    Jaccard between consecutive doc ids ('jaccard' — the verification
    kernel the LSH pipeline applies to its candidate pairs), and
    substring-level duplicate spans ('dupspan', r6 — functions/dedup.py
    duplicate_ngram_spans, the Lee-et-al shape as a distributed 8-gram
    inverted index: corpus-wide duplicated windows merged into maximal
    token spans; the key pins every span boundary exactly against an
    independent DuckDB gaps-and-islands derivation). Merged r5 from
    the former q_dedup_exact/q_ngram_jaccard split to free gate
    slots; all legs keep their full value oracles."""
    d = _docs(spark, sf_dir)
    ex = dedup.exact_dedup(d, "text", "doc_id").select(
        F.lit("exact").alias("leg"),
        F.col("text_hash").alias("key"),
        F.col("keep_id").alias("id"),
        F.col("n_copies").cast("double").alias("val"),
    )
    pairs = d.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    j = dedup.ngram_jaccard_pairs(d, "text", "doc_id", pairs, n=1)
    jac = j.select(
        F.lit("jaccard").alias("leg"),
        F.lit(None).cast("string").alias("key"),
        F.col("id_a").alias("id"),
        F.col("jaccard").alias("val"),
    )
    sp = dedup.duplicate_ngram_spans(d, "text", "doc_id", n=8).filter(
        F.col("n_dup_tokens") > 0
    )
    spleg = sp.select(
        F.lit("dupspan").alias("leg"),
        F.array_join(
            F.transform(
                "spans", lambda s: F.concat_ws("-", s["start"], s["end"])
            ),
            ",",
        ).alias("key"),
        F.col("doc_id").alias("id"),
        F.col("n_dup_tokens").cast("double").alias("val"),
    )
    return ex.unionAll(jac).unionAll(spleg)


# The test documents are single-line word streams, so the paragraph
# slot first regroups each document into 6-word "paragraphs"
# (deterministic, same arithmetic both engines) — the planted dup
# clusters then share whole paragraphs across documents, which is
# exactly the C4/RefinedWeb shape the operator exists for.
_PAR_WORDS = 6


@query(
    "q_dedup_paragraph",
    rf"""
    with re as (
      select doc_id,
             list_transform(range(cast(ceil(len(string_split(text,' '))/{_PAR_WORDS}.0) as int)),
                i -> array_to_string(list_slice(string_split(text,' '),
                                                i*{_PAR_WORDS}+1, i*{_PAR_WORDS}+{_PAR_WORDS}), ' ')) as pars
      from documents),
    pars as (
      select doc_id, generate_subscripts(pars,1) - 1 as idx, unnest(pars) as par from re),
    winners as (
      select md5(par) as h, min({{'doc_id': doc_id, 'idx': idx}}) as w
      from pars where length(trim(par)) >= 2 group by md5(par)),
    kept as (
      select p.doc_id, p.idx, p.par from pars p
      left join winners on winners.h = md5(p.par)
      where length(trim(p.par)) < 2
         or (w.doc_id = p.doc_id and w.idx = p.idx)),
    rebuilt as (
      select doc_id, count(*) as n_pars_kept,
             array_to_string(list_transform(list_sort(list({{'idx': idx, 'par': par}})),
                                            s -> s.par), chr(10)||chr(10)) as text
      from kept group by doc_id),
    totals as (select doc_id, count(*) as n_pars from pars group by doc_id)
    select t.doc_id, md5(coalesce(r.text,'')) as text_md5,
           cast(t.n_pars as bigint) as n_pars,
           cast(coalesce(r.n_pars_kept,0) as bigint) as n_pars_kept
    from totals t left join rebuilt r using (doc_id)
    """,
)
def q_dedup_paragraph(spark, sf_dir):
    """Paragraph-granular exact dedup (C4/RefinedWeb line dedup,
    functions/dedup.py:paragraph_dedup): keep each paragraph only at
    its globally-first (doc, position) occurrence, reassemble the
    documents from their survivors. Full value oracle: DuckDB rebuilds
    the regrouping, the keep-first race and the reassembly; the
    rebuilt text is compared by md5 so the driver hashes a bounded
    row. Scale shape: one partial-agg groupBy on the paragraph hash
    (boilerplate hot keys combine map-side), one equi-join back, one
    groupBy(doc) with array_sort reassembly — no window, no global
    order, paragraph text shuffles once."""
    d = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ", -1)
    n_par = F.ceil(F.size(words) / F.lit(float(_PAR_WORDS))).cast("int")
    regrouped = d.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_par - 1),
                lambda i: F.array_join(
                    F.slice(words, i * _PAR_WORDS + 1, _PAR_WORDS), " "
                ),
            ),
            "\n\n",
        ).alias("text"),
    )
    out = dedup.paragraph_dedup(regrouped, "text", "doc_id", sep="\n\n", min_chars=2)
    return out.select(
        "doc_id",
        F.md5(F.col("text")).alias("text_md5"),
        F.col("n_pars").cast("long").alias("n_pars"),
        F.col("n_pars_kept").cast("long").alias("n_pars_kept"),
    )


def _perm_values_sql(n: int = NUM_PERMS) -> str:
    rows = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(dedup.minhash_perms(n))
    )
    return f"(values {rows})"


@query(
    "q_dedup_simhash",
    rf"""
    with tok as (select doc_id, {H56.replace('w', 'unnest(' + TOKENS + ')')} as h from documents),
    bits as (select unnest(generate_series(0, 55)) as b),
    w as (select doc_id, b, sum(((h >> b) & 1) * 2 - 1) as wb
          from tok cross join bits group by doc_id, b),
    sh as (select doc_id,
                  cast(sum(case when wb > 0 then 1::bigint << b else 0 end) as bigint) as simhash
           from w group by doc_id),
    bands as (select unnest(generate_series(0, 3)) as band),
    bk as (select doc_id, simhash, band, (simhash >> (band * 14)) & 16383 as key
           from sh cross join bands),
    pairs as (
      select distinct a.doc_id as id_a, b2.doc_id as id_b,
             cast(bit_count(xor(a.simhash, b2.simhash)) as bigint) as hamming
      from bk a join bk b2 on a.band = b2.band and a.key = b2.key and a.doc_id < b2.doc_id
      where bit_count(xor(a.simhash, b2.simhash)) <= 3)
    select 'sig' as leg, doc_id as id_a, cast(null as bigint) as id_b, simhash as val
    from sh
    union all
    select 'pair' as leg, id_a, id_b, hamming as val from pairs
    """,
)
def q_dedup_simhash(spark, sf_dir):
    """56-bit SimHash surface in one slot, two legs: per-doc signatures
    ('sig') AND the near-dup pairs found by pigeonhole band blocking
    ('pair': 4 bands of 14 bits — any pair within hamming 3 shares a
    band, so the blocking is an equi-join, never all-pairs). Merged r5
    from the former q_minhash_sig/q_simhash_neardups split to free
    gate slots; both legs keep their full value oracles (DuckDB
    rebuilds the simhash, bands, blocking join and hamming filter).
    r9: widened 16 -> 56 bits after the sf10 probe measured the
    16-bit form at 70.9x wall for 10x data — 4-bit band keys give
    only 16 buckets per band, so candidate pairs grow n^2/64 by hash
    saturation alone; 14-bit keys keep buckets proportional to true
    near-dup groups (see functions/dedup.py:simhash).
    Token-less documents are filtered on the Spark side to mirror the
    oracle (whose unnest produces no rows for them); trim(text) != ''
    IS the token-less predicate (tokens split on whitespace), without
    paying a second regex tokenization per row."""
    d = _docs(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    # ONE simhash scan feeds BOTH legs (r8, same move as the minhash
    # slot): the token-less filter above is the exclusion
    # simhash_signatures applies natively (zero exploded rows), so the
    # checkpointed (doc_id, simhash) frame is valid for the pair leg
    # too — the tokenize + 56 bit sums run once instead of twice, as
    # whole-stage-codegen aggregates (r9, see dedup.simhash_signatures).
    sh = dedup.simhash_signatures(d, "text", "doc_id", bits=56).localCheckpoint(
        eager=False
    )
    sig = sh.select(
        F.lit("sig").alias("leg"),
        F.col("doc_id").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
        F.col("simhash").alias("val"),
    )
    pairs = dedup.simhash_neardups(
        None, "text", "doc_id", max_hamming=3, sig=sh
    )
    pairs = pairs.select(
        F.lit("pair").alias("leg"),
        "id_a",
        "id_b",
        F.col("hamming").cast("long").alias("val"),
    )
    return sig.unionAll(pairs)


@query(
    "q_dedup_minhash",
    rf"""
    with t as (select doc_id, {H9.replace('w', 'unnest(' + TOKENS + ')')} as h from documents),
    p8(pid, a, b) as {{perms}},
    p16(pid, a, b) as {{perms16}},
    sig8 as (select doc_id, pid, min((a * h + b) % 1000000007) as mh
             from t cross join p8 group by doc_id, pid),
    sig16 as (select doc_id, pid, min((a * h + b) % 1000000007) as mh
              from t cross join p16 group by doc_id, pid),
    bkey as (select doc_id, pid // 4 as band,
                    md5(string_agg(mh::varchar, '_' order by pid)) as key
             from sig16 group by doc_id, pid // 4),
    bsz as (select band, key, count(*) as bsize from bkey group by band, key),
    cand as (select doc_id, cast(sum(bsize - 1) as bigint) as n_candidates
             from bkey join bsz using (band, key) group by doc_id),
    hist as (select band, bsize, cast(count(*) as bigint) as n_buckets
             from bsz group by band, bsize)
    select 'sig' as leg, doc_id as id_a, cast(pid as bigint) as id_b,
           cast(mh as bigint) as val
    from sig8
    union all
    select 'cand' as leg, doc_id as id_a, cast(null as bigint) as id_b,
           n_candidates as val
    from cand
    union all
    select 'hist' as leg, cast(band as bigint) as id_a,
           cast(bsize as bigint) as id_b, n_buckets as val
    from hist
    """.replace("{perms16}", _perm_values_sql(16)).replace("{perms}", _perm_values_sql()),
)
def q_dedup_minhash(spark, sf_dir):
    """MinHash-LSH surface in one slot, three legs: the raw 8-perm
    signatures ('sig' — min over (a*h+b) mod p of the shared word
    hash, id_b carries the permutation id), the per-doc LSH
    candidate-comparison counts ('cand' — 16 perms, 4 bands of 4,
    sum(bucket_size - 1) over the doc's bands: the verify-stage cost
    the banding implies), and the per-band bucket-occupancy histogram
    ('hist' — the banding skew diagnostic). All three value-oracled:
    DuckDB rebuilds signatures, band keys, occupancy and the candidate
    sums.

    r10 (verdict item 1): the former 'pair' leg LISTED the candidate
    pairs — O(sum bucket^2) OUTPUT, measured 62.4M -> 641M pairs
    (24.96x wall) for 10x docs on this corpus's template groups — so
    it was dropped, the same move as the r6 embedding pair lister.
    'cand'/'hist' derive from the SAME bucket structure through one
    partial-agg groupBy + one equi-join, so every registered leg's
    output is bounded by |docs| regardless of bucket skew. Dedup
    decisions live in q_dedup_minhash_clusters."""
    d = _docs(spark, sf_dir)
    # ONE 16-perm signature scan feeds ALL legs (r8): the perm
    # family is index-generated, so perms(8) == perms(16)[:8] — the
    # sig leg reads columns 0-7 of the same frame the bucket legs band
    # over. Lazy checkpoint: tokenize + 16 interpreted folds run once.
    # Only doc_id + the signature columns are kept so the checkpoint
    # never stores text.
    sig16 = (
        dedup.minhash_signature(d, "text", 16)
        .select("doc_id", *[f"minhash_{i}" for i in range(16)])
        .localCheckpoint(eager=False)
    )
    cols = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("perm_id"),
                F.col(f"minhash_{i}").alias("minhash"),
            )
            for i in range(NUM_PERMS)
        ]
    )
    sig_leg = (
        sig16.select("doc_id", F.explode(cols).alias("s"))
        .select(
            F.lit("sig").alias("leg"),
            F.col("doc_id").alias("id_a"),
            F.col("s.perm_id").alias("id_b"),
            F.col("s.minhash").cast("long").alias("val"),
        )
    )
    # ONE bucket-membership frame feeds BOTH bucket legs: cand joins
    # it to its own sizes, hist re-aggregates the sizes — the lazy
    # checkpoint stops the second leg from re-banding the signatures
    buckets = dedup.minhash_band_buckets(
        None, "text", "doc_id", num_perms=16, bands=4, sig=sig16
    ).localCheckpoint(eager=False)
    cand_leg = dedup.minhash_candidate_counts(
        None, "text", "doc_id", buckets=buckets
    ).select(
        F.lit("cand").alias("leg"),
        F.col("doc").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
        F.col("n_candidates").alias("val"),
    )
    hist_leg = dedup.minhash_bucket_histogram(
        None, "text", "doc_id", buckets=buckets
    ).select(
        F.lit("hist").alias("leg"),
        F.col("band").cast("long").alias("id_a"),
        F.col("bsize").cast("long").alias("id_b"),
        F.col("n_buckets").alias("val"),
    )
    return sig_leg.unionAll(cand_leg).unionAll(hist_leg)


@query(
    "q_dedup_minhash_clusters",
    rf"""
    with recursive
    t as (select doc_id, {H9.replace('w', 'unnest(' + TOKENS + ')')} as h from documents),
    p(pid, a, b) as {{perms}},
    sig as (select doc_id, pid, min((a * h + b) % 1000000007) as mh
            from t cross join p group by doc_id, pid),
    bkey as (select doc_id, pid // 2 as band,
                    md5(string_agg(mh::varchar, '_' order by pid)) as key
             from sig group by doc_id, pid // 2),
    edges as (select distinct a.doc_id as src, b.doc_id as dst
              from bkey a join bkey b on a.band = b.band and a.key = b.key),
    walk(doc, lab) as (
        select doc_id, doc_id from documents
        union
        select e.src, w.lab from walk w join edges e on e.dst = w.doc
    )
    select cast(doc as bigint) as doc, cast(min(lab) as bigint) as cluster
    from walk group by doc
    """.replace("{perms}", _perm_values_sql()),
)
def q_dedup_minhash_clusters(spark, sf_dir):
    """MinHash-LSH dedup, the scale path: connected components over
    the shares-a-band-bucket graph (8 perms, 4 bands of 2), labels =
    component-min doc id. Unlike the all-pairs candidate query, a
    bucket of n near-dups costs n rows, not n^2/2 — boilerplate-heavy
    corpora (and this testdata's planted dup clusters) stay linear.
    Oracle: DuckDB recursive-CTE transitive closure over the same
    bucket graph, min label per doc."""
    d = _docs(spark, sf_dir)
    return dedup.minhash_dedup_clusters(
        d, "text", "doc_id", num_perms=NUM_PERMS, bands=4
    ).orderBy("doc")


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


@query(
    "q_ann_bruteforce",
    """
    with e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
    q as (select * from e where vec_id % 50 = 0),
    top as (
      select q.vec_id as q_id, e.vec_id as nb_id,
             round(list_cosine_similarity(q.v, e.v), 6) as sim
      from q join e on e.vec_id <> q.vec_id
      qualify row_number() over (partition by q.vec_id
                                 order by sim desc, nb_id asc) <= 5),
    samp as (select v from e order by vec_id limit 4096),
    dims as (select unnest(range(64)) as d),
    st as (select dims.d, min(samp.v[dims.d+1]) as lo, max(samp.v[dims.d+1]) as hi
           from samp cross join dims group by dims.d),
    st2 as (select d, lo, case when hi > lo then hi else lo + 1.0 end as hi
            from st),
    lohi as (select list(lo order by d) as lo, list(hi order by d) as hi
             from st2),
    codes as (
      select e.vec_id,
             list_transform(range(64), d ->
               least(255, greatest(0,
                 cast(round((e.v[d+1] - lo[d+1])
                            * (255.0 / (hi[d+1] - lo[d+1]))) as int)))) as c
      from e, lohi),
    dec as (
      select codes.vec_id, c,
             list_transform(range(64), d ->
               lo[d+1] + c[d+1] * ((hi[d+1] - lo[d+1]) / 255.0)) as dv
      from codes, lohi)
    select t.q_id, t.nb_id, t.sim,
           round(list_cosine_similarity(dq.dv, dn.dv), 6) as sq_sim,
           cast(list_sum(dn.c) as bigint) as nb_code_sum,
           cast(dn.c[1] as int) as nb_code0
    from top t
    join dec dn on dn.vec_id = t.nb_id
    join dec dq on dq.vec_id = t.q_id
    """,
)
def q_ann_bruteforce(spark, sf_dir):
    """Exact cosine top-5 for every 50th vector. Arrow-batched GEMM:
    queries broadcast as a dense matrix, each corpus batch computes
    its pair block as one BLAS matmul and emits only per-batch top-k
    candidates (similarity.brute_force_topk; an all-JVM HOF-fold twin
    in tests/similarity_twins.py is pinned equal by
    tests/test_similarity.py — at sf1 the GEMM path measures ~2x
    faster and its per-pair constant is ~40x lower, which is what
    survives the n·q growth of an exact baseline).

    r6 'sq' legs: the int8 SCALAR QUANTIZER under the driver's oracle
    — each result pair also carries (a) the cosine recomputed over
    the sq-decoded (encode -> decode roundtripped) vectors, and (b)
    the neighbor's exact-int code checksum + first code. The oracle
    re-derives the whole quantizer in SQL from the same lowest-id
    sample (per-dim min/max, unit span for degenerate dims, the
    identical divide-then-multiply scale fold, clamp, affine decode)
    — a train/encode/decode bug on either side breaks exact-int
    equality, no rounding slack on the code columns."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 50 == 0)
    base = similarity.brute_force_topk(e, q, k=5)
    lo, hi = similarity.sq_train(e, "embedding", "vec_id")
    enc = e.select(
        "vec_id",
        similarity.sq_encode(
            similarity.as_double(F.col("embedding")), lo, hi
        ).alias("_c"),
    ).select(
        "vec_id", "_c", similarity.sq_decode(F.col("_c"), lo, hi).alias("_d")
    )
    nb = enc.select(
        F.col("vec_id").alias("nb_id"),
        F.aggregate(
            "_c", F.lit(0).cast("long"), lambda a, c: a + c.cast("long")
        ).alias("nb_code_sum"),
        F.element_at("_c", 1).cast("int").alias("nb_code0"),
        F.col("_d").alias("_dn"),
    )
    qd = enc.select(F.col("vec_id").alias("q_id"), F.col("_d").alias("_dq"))
    return (
        base.join(nb, "nb_id")
        .join(qd, "q_id")
        .select(
            "q_id", "nb_id", "sim",
            similarity.round_half_away(
                similarity.cosine(F.col("_dq"), F.col("_dn")), 6
            ).alias("sq_sim"),
            "nb_code_sum", "nb_code0",
        )
    )


# Everything up to the verified near-dup edge set, shared between the
# registered recursive-CTE oracle below and the sf1 smoke's linear
# iterative closure (tests/test_scale_smoke.py — the recursive walk is
# quadratic per component, so at 10x it swaps in min-label temp-table
# iteration over these SAME edges).
NEARDUP_CLUSTER_EDGES_CTE = f"""
    e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
    params as (select greatest({LSH_PLANES},
                               cast(ceil(log2(count(*) / 8.0)) as int)) as np
               from embeddings),
    pl as (select unnest(range((select np from params) * {LSH_TABLES})) as plane),
    proj as (
      select e.vec_id,
             pl.plane // (select np from params) as t,
             pl.plane % (select np from params) as bit,
             list_sum(list_transform(range({EMB_DIM}),
                                     d -> e.v[d+1] * {PLANE_COMP})) as pr
      from e cross join pl),
    b as (select vec_id, t,
                 sum(case when pr >= 0 then 1 << bit else 0 end) as bucket
          from proj group by vec_id, t),
    sizes as (select t, bucket, count(*) as occ, min(vec_id) as rep
              from b group by t, bucket),
    bs as (select b.vec_id as m, b.t, b.bucket, s.occ, s.rep
           from b join sizes s using (t, bucket)),
    cand as (
      select x.m as a, y.m as b
      from bs x join bs y on x.t = y.t and x.bucket = y.bucket
                         and x.m < y.m
      where x.occ <= 64
      union
      select rep as a, m as b from bs where occ > 64 and m <> rep),
    verified as (
      select c.a, c.b from cand c
      join e ea on ea.vec_id = c.a
      join e eb on eb.vec_id = c.b
      where round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.4)
"""


@query(
    "q_embedding_neardup",
    f"""
    with recursive
    {NEARDUP_CLUSTER_EDGES_CTE},
    und as (select a as src, b as dst from verified
            union
            select b as src, a as dst from verified),
    walk(node, lab) as (
        select vec_id, vec_id from e
        union
        select u.src, w.lab from walk w join und u on u.dst = w.node
    )
    select cast(node as bigint) as id, cast(min(lab) as bigint) as cluster
    from walk group by node
    """,
)
def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate CLUSTERS (r6: the gate slot is
    the scale-safe cluster-collapse form — the r5 verdict's item 2;
    the pair LISTER it replaces is output-quadratic on clustered
    embeddings, 15.7x wall at 10x data for 66x output pairs).

    Shape: adaptive fine buckets (occupancy target 8 — planes =
    ceil(log2(n/8))) from the same deterministic hash-mixed
    hyperplanes the oracle rebuilds; hybrid verified edges — ALL
    within-bucket pairs for buckets <= 64 members, star-to-min for
    over-cap tight clusters — each cosine-verified at >= 0.4 (rounded
    to 6 digits on both engines so a last-ulp fold difference cannot
    flip an edge); min-label connected components with pointer
    jumping collapse the verified edges into (id, cluster). Output is
    LINEAR in the corpus no matter how big the dup clusters are.
    Oracle: DuckDB rebuilds planes, buckets, the hybrid edge set, the
    cosine verification, and closes the components with a recursive
    CTE — min label per node, exactly the Spark fixpoint."""
    e = _emb(spark, sf_dir)
    return similarity.embedding_neardup_clusters(
        e, dim=EMB_DIM, threshold=0.4, tables=LSH_TABLES,
        n=parquet_row_count(sf_dir, "embeddings"),
    ).select(F.col("id"), F.col("cluster"))


@query(
    "q_ann_lsh_buckets",
    f"""
    with {_BUCKETS_CTE}
    select vec_id, cast(t as bigint) as t, cast(bucket as bigint) as bucket
    from b
    """,
)
def q_ann_lsh_buckets(spark, sf_dir):
    """The deterministic half of hyperplane-LSH top-k under a full
    value oracle: every vector's (table, bucket) membership — sign
    bits of projections onto the shared deterministic planes."""
    b = similarity.with_lsh_buckets(
        _emb(spark, sf_dir), "vec_id", "embedding", EMB_DIM,
        planes=LSH_PLANES, tables=LSH_TABLES,
    )
    return b.select(
        "vec_id", F.col("t").cast("long").alias("t"), F.col("bucket").cast("long").alias("bucket")
    )


@query(
    "q_ann_ivf_assign",
    """
    with e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
    c as (select row_number() over (order by vec_id) - 1 as list_id, v
          from e order by vec_id limit 16),
    sims as (select e.vec_id, c.list_id,
                    round(list_sum(list_transform(range(64),
                                                  d -> e.v[d+1] * c.v[d+1])), 6) as s
             from e cross join c),
    assign as (
      select vec_id, cast(list_id as bigint) as list_id
      from sims
      qualify row_number() over (partition by vec_id
                                 order by s desc, list_id desc) = 1),
    mm(m) as (select unnest(range(8))),
    pqd as (
      select e.vec_id, mm.m, c.list_id as j,
             list_sum(list_transform(range(8),
               d -> (e.v[mm.m*8+d+1] - c.v[mm.m*8+d+1])
                    * (e.v[mm.m*8+d+1] - c.v[mm.m*8+d+1]))) as d2
      from e cross join mm cross join c),
    codes as (
      select vec_id, m, j
      from pqd
      qualify row_number() over (partition by vec_id, m
                                 order by d2 asc, j asc) = 1)
    select a.vec_id, a.list_id,
           cast(max(case when m = 0 then j end) as int) as code_m0,
           cast(max(case when m = 1 then j end) as int) as code_m1,
           cast(max(case when m = 2 then j end) as int) as code_m2,
           cast(max(case when m = 3 then j end) as int) as code_m3,
           cast(max(case when m = 4 then j end) as int) as code_m4,
           cast(max(case when m = 5 then j end) as int) as code_m5,
           cast(max(case when m = 6 then j end) as int) as code_m6,
           cast(max(case when m = 7 then j end) as int) as code_m7
    from assign a
    join codes using (vec_id)
    group by a.vec_id, a.list_id
    """,
)
def q_ann_ivf_assign(spark, sf_dir):
    """The deterministic half of IVF under a full value oracle,
    r4: routed through the MATERIALIZED index roundtrip. The corpus
    assignment (against the seed centroids — the 16 lowest-id
    vectors, kmeans_train's deterministic init, iters=0) is written
    to parquet PARTITIONED BY list_id (similarity.ivf_write_index:
    the serving shape whose directory layout turns probes into
    partition-pruned scans), read back, and the read-back table is
    what the oracle checks — a write/read/partition-layout bug
    breaks the match. Similarities are rounded to 6 digits on both
    sides so a last-ulp fold difference cannot flip the argmax; ties
    break to the higher list id in both engines.

    r5: the slot also value-checks the PQ ENCODER (similarity.
    pq_encode) on the read-back vectors — iters=0 makes the codebook
    the first-16 vectors' subvectors, so the oracle re-derives it in
    SQL and recomputes every L2 argmin with the identical fold order
    (no rounding needed: exact same IEEE ops, ties to the lower
    centroid id in both engines).

    Late r14: the r6 'knn1' leg (every vector's nearest in-cell
    neighbor, k=1, adaptive cells) was DROPPED from this slot — its
    work is a strict subset of q_knn_join's gate output (the rank=1
    rows of the k=3 run under the IDENTICAL adaptive-cell seeds,
    nprobe=1, 6-digit rounding, and (cos desc, id desc) tie order),
    so the corpus x corpus knn_join code path stays hash-verified
    every round in that slot while this baseline-mapped headliner
    stops paying a duplicated Python-worker cogroup the r01 slot
    never ran."""
    e = _emb(spark, sf_dir)
    path = scratch_path(sf_dir, "ivf_index")
    X = similarity._sample_matrix(e, "embedding", "vec_id", 4096)
    similarity.ivf_write_index(
        e, path, id_col="vec_id", vec_col="embedding", nlist=16, iters=0,
        round_digits=6, X=X,
    )
    books = similarity.pq_train(
        e, vec_col="embedding", id_col="vec_id", m=8, ksub=16, iters=0, X=X
    )
    back = spark.read.parquet(path)
    codes = similarity.pq_encode(F.col("nb_vec"), books)
    return back.select(
        F.col("nb_id").alias("vec_id"),
        F.col("list_id").cast("long").alias("list_id"),
        *[F.get(codes, i).alias(f"code_m{i}") for i in range(8)],
    )


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


# PNG gate-leg geometry: every doc gets a 12x8 RGB image whose pixel
# (y, x) is ((x*7 + i) % 256, (y*11 + 2i) % 256, (x + y + 3i) % 256)
# for i = doc_id — closed-form, so the oracle can recompute the exact
# pixel SUM without a PNG decoder. 3*12*8 = 288 pixels-channels; the
# decoded mean times 288 rounds back to the exact integer sum.
_PNG_W, _PNG_H = 12, 8

@query(
    "q_multimodal_features",
    f"""
    with png as (
      select d.doc_id,
             cast(sum((x.x*7 + d.doc_id) % 256 + (y.y*11 + 2*d.doc_id) % 256
                      + (x.x + y.y + 3*d.doc_id) % 256) as bigint) as png_pixsum
      from documents d, range({_PNG_W}) x(x), range({_PNG_H}) y(y)
      group by d.doc_id),
    jpg as (
      select d.doc_id,
             cast(sum(192 * (128 + 2*((((d.doc_id + b.b) * 13) % 50) - 25)))
                  as bigint) as jpeg_pixsum
      from documents d, range(4) b(b)
      group by d.doc_id)
    select d.doc_id,
           cast(d.n_chars % 256 + 1 as bigint) as width,
           cast(d.doc_id % 128 + 1 as bigint) as height,
           cast(octet_length(encode(d.text)) as bigint) as n_bytes,
           cast({_PNG_W} as bigint) as png_w,
           cast({_PNG_H} as bigint) as png_h,
           png.png_pixsum,
           jpg.jpeg_pixsum
    from documents d join png using (doc_id) join jpg using (doc_id)
    """,
)
def q_multimodal_features(spark, sf_dir):
    """REAL multimodal decode over real bytes, two codec legs:

    - BMP: each document's utf-8 payload is wrapped into a valid BMP
      file image JVM-side (bmp_column: magic, little-endian header
      fields, pixel data), then an Arrow-batched pure-python decoder
      (parse_bmp_header) reads width/height/payload-size back OUT of
      the bytes. The oracle predicts the header fields from the
      source columns.
    - PNG (r9): a 12x8 RGB image whose pixels are a closed-form
      function of doc_id is ENCODED to real PNG bytes executor-side
      (_encode_png_py: IHDR/IDAT/IEND, zlib, CRC framing) and DECODED
      back (decode_png: chunk walk, CRC verify, inflate, unfilter);
      png_pixsum = round(mean * 288) is the exact integer pixel sum,
      which the oracle recomputes from the generator — a bit flipped
      anywhere in the zlib round-trip or filter reconstruction breaks
      the hash. The same write-real-bytes-then-decode pattern as the
      root_* legs in q_small_sources.
    - JPEG (r11): a 16x16 grayscale image of CONSTANT 8x8 blocks
      (block b of doc i = 128 + 2*(((i+b)*13) % 50 - 25)) is ENCODED
      to real baseline-JPEG bytes executor-side (jpegcodec: FDCT,
      Annex K quant/Huffman tables, byte stuffing) and DECODED back
      (marker walk, canonical Huffman, batched IDCT); constant even-
      offset blocks round-trip EXACTLY at quality 50 (DC-only
      spectra), so jpeg_pixsum = round(mean * 768) is the exact
      integer pixel sum the oracle recomputes in closed form — the
      one JPEG geometry where a lossy codec admits a value oracle.

    A construction or parsing bug on either side breaks the match."""
    import numpy as np
    import pyarrow as pa

    from dask_awkward_sandbox_spark.functions.jpegcodec import jpeg_encode
    from dask_awkward_sandbox_spark.functions.multimodal import (
        _encode_png_py,
        bmp_column,
        decode_bmp,
        decode_jpeg,
        decode_png,
    )

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        bmp_column(
            F.col("n_chars") % 256 + 1,
            F.col("doc_id") % 128 + 1,
            F.encode(F.col("text"), "utf-8"),
        ).alias("payload"),
    )
    out = decode_bmp(d)

    w, h = _PNG_W, _PNG_H

    def make_png(batches):
        y, x = np.mgrid[0:h, 0:w]
        for b in batches:
            ids = b.column("doc_id").to_pylist()
            payloads = [
                _encode_png_py(
                    np.stack(
                        [(x * 7 + i) % 256, (y * 11 + 2 * i) % 256,
                         (x + y + 3 * i) % 256],
                        axis=-1,
                    ).astype(np.uint8)
                )
                for i in ids
            ]
            yield pa.record_batch(
                [pa.array(ids, pa.int64()), pa.array(payloads, pa.binary())],
                names=["media_id", "payload"],
            )

    pngs = _docs(spark, sf_dir).select("doc_id").mapInArrow(
        make_png, "media_id long, payload binary"
    )
    png_side = decode_png(pngs).select(
        F.col("media_id"),
        F.col("width").alias("png_w"),
        F.col("height").alias("png_h"),
        F.round(F.col("mean_pixel") * (3 * w * h)).cast("long").alias("png_pixsum"),
    )

    def make_jpeg(batches):
        for b in batches:
            ids = b.column("doc_id").to_pylist()
            payloads = []
            for i in ids:
                px = np.zeros((16, 16), dtype=np.uint8)
                for blk in range(4):
                    by, bx = blk // 2, blk % 2
                    px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                        128 + 2 * (((i + blk) * 13) % 50 - 25)
                    )
                payloads.append(jpeg_encode(px, quality=50))
            yield pa.record_batch(
                [pa.array(ids, pa.int64()), pa.array(payloads, pa.binary())],
                names=["media_id", "payload"],
            )

    jpgs = _docs(spark, sf_dir).select("doc_id").mapInArrow(
        make_jpeg, "media_id long, payload binary"
    )
    jpeg_side = decode_jpeg(jpgs).select(
        F.col("media_id"),
        F.round(F.col("mean_pixel") * (3 * 16 * 16)).cast("long").alias(
            "jpeg_pixsum"
        ),
    )
    return out.join(png_side, "media_id").join(jpeg_side, "media_id").select(
        F.col("media_id").alias("doc_id"), "width", "height", "n_bytes",
        "png_w", "png_h", "png_pixsum", "jpeg_pixsum",
    )


# ---------------------------------------------------------------------------
# language-model perplexity (CCNet-style quality filter)
# ---------------------------------------------------------------------------


@query(
    "q_lm_perplexity",
    f"""
    with t as (select doc_id, {TOKENS} as ts from documents),
    uni_raw as (select w, count(*) as c
                from (select unnest(ts) as w from t) group by w),
    vocab as (select w from uni_raw order by c desc, w asc limit 4096),
    nv as (select count(*) + 1 as vn from vocab),
    uni as (select coalesce(v.w, '<unk>') as mw, sum(c) as c
            from uni_raw u left join vocab v on v.w = u.w group by 1),
    rp as (select doc_id, ts[x.i] as rpw, ts[x.i+1] as rcw
           from t cross join unnest(range(1, greatest(len(ts), 1))) as x(i)),
    pairs as (select doc_id,
                     coalesce(vp.w, '<unk>') as pw,
                     coalesce(vc.w, '<unk>') as cw
              from rp
              left join vocab vp on vp.w = rp.rpw
              left join vocab vc on vc.w = rp.rcw),
    bi as (select pw, cw, count(*) as c from pairs group by pw, cw),
    sc as (select p.doc_id,
                  count(*) as n_pairs,
                  sum(b.c) as sum_bi,
                  sum(ln(b.c + 1) - ln(u.c + (select vn from nv))) as slp
           from pairs p
           join bi b on b.pw = p.pw and b.cw = p.cw
           join uni u on u.mw = p.pw
           group by p.doc_id)
    select t.doc_id,
           cast(len(t.ts) as bigint) as n_tokens,
           cast(sc.n_pairs as bigint) as n_pairs,
           cast(sc.sum_bi as bigint) as sum_bi,
           round(sc.slp / sc.n_pairs, 6) as avg_logp,
           round(exp(-(sc.slp / sc.n_pairs)), 3) as ppl
    from t left join sc using (doc_id)
    """,
)
def q_lm_perplexity(spark, sf_dir):
    """Bigram-LM perplexity scoring (functions/lm.py) — the CCNet
    quality-filter stage — under a FULL value oracle: DuckDB retrains
    the identical model (top-4096 vocabulary at the shared
    (count desc, token asc) cutoff, <unk> mapping, add-one-smoothed
    bigram counts) and re-scores every document. n_tokens / n_pairs /
    sum-of-pair-counts are exact ints — a tokenization, vocabulary
    cutoff, mapping, or counting bug on either side breaks them
    cold; avg_logp and ppl are rounded (6 / 3 digits) so the
    cross-library ln/exp last-ulp never flips the hash. Sub-2-token
    docs carry nulls for pair-derived columns on both engines."""
    from dask_awkward_sandbox_spark.functions import lm

    return lm.lm_perplexity(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# data mixture planning (domain reweighting)
# ---------------------------------------------------------------------------

MIX_WEIGHTS = {"en": 0.5, "de": 0.15, "es": 0.15, "fr": 0.1, "zh": 0.1}


@query(
    "q_data_mixture",
    f"""
    with t as (select doc_id, lang, cast(len({TOKENS}) as bigint) as nt
               from documents),
    tot as (select lang, sum(nt) as avail from t group by lang),
    w(lang, weight) as (values ('de', 0.15), ('en', 0.5), ('es', 0.15),
                               ('fr', 0.1), ('zh', 0.1)),
    j as (select tot.lang, avail, weight from tot left join w using (lang)),
    tm as (select min(case when weight is not null and avail > 0
                           then avail::double / weight end) as t from j),
    plan as (select lang, avail, weight,
                    case when weight is null or avail <= 0 then 0
                         else least(1000000,
                           cast(floor(weight * (select t from tm)
                                      / avail::double * 1000000) as bigint))
                    end as rate_ppm
             from j)
    select t.doc_id, t.lang as domain, t.nt as n_tokens,
           cast(p.avail as bigint) as avail_tokens, p.rate_ppm,
           cast((('0x'||substr(md5('mix:'||t.doc_id),1,14))::bigint % 1000000
                 < p.rate_ppm) as int) as keep
    from t join plan p using (lang)
    """,
)
def q_data_mixture(spark, sf_dir):
    """Target-weight mixture planning (functions/quality_filters.py
    plan_mixture/apply_mixture — the DoReMi/Pile "data recipe" stage)
    under a FULL value oracle: DuckDB recomputes the per-domain token
    totals, the no-upsampling max-corpus solve T = min(avail/w), the
    floor-quantized ppm keep rates, and every per-document salted-md5
    keep decision. avail/rate/keep are exact ints; the one float
    (w*T/avail) is floor-quantized identically on both engines, so
    there is no rounding slack anywhere."""
    d = _docs(spark, sf_dir)
    plan = qf.plan_mixture(d, "lang", MIX_WEIGHTS)
    out = qf.apply_mixture(
        d.select("doc_id", "lang", "text"), plan, "lang"
    ).join(
        F.broadcast(plan.select(F.col("domain").alias("lang"), "avail_tokens")),
        "lang",
    )
    return out.select(
        "doc_id",
        F.col("lang").alias("domain"),
        ta.token_count_ws(F.col("text")).cast("long").alias("n_tokens"),
        F.col("avail_tokens"),
        F.coalesce(F.col("rate_ppm"), F.lit(0).cast("long")).alias("rate_ppm"),
        F.col("keep").cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# corpus x corpus k-NN join (top-k path)
# ---------------------------------------------------------------------------


@query(
    "q_knn_join",
    """
    with e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
    kp as (select greatest(16, count(*) // 128) as nk from e),
    ck as (select row_number() over (order by vec_id) - 1 as list_id, v
           from e order by vec_id limit (select nk from kp)),
    ksims as (select e.vec_id, ck.list_id,
                     round(list_sum(list_transform(range(64),
                                                   d -> e.v[d+1] * ck.v[d+1])), 6) as s
              from e cross join ck),
    asg as (
      select vec_id, list_id
      from ksims
      qualify row_number() over (partition by vec_id
                                 order by s desc, list_id desc) = 1),
    nn as (
      select la.vec_id, ra.vec_id as nn_id,
             round(list_cosine_similarity(le.v, re.v), 6) as cos_sim,
             row_number() over (partition by la.vec_id
                                order by round(list_cosine_similarity(le.v, re.v), 6) desc,
                                         ra.vec_id desc) as rank
      from asg la
      join asg ra on ra.list_id = la.list_id and ra.vec_id <> la.vec_id
      join e le on le.vec_id = la.vec_id
      join e re on re.vec_id = ra.vec_id),
    c16 as (select row_number() over (order by vec_id) - 1 as list_id, v
            from e order by vec_id limit 16),
    s16 as (select e.vec_id, c16.list_id,
                   round(list_sum(list_transform(range(64),
                                                 d -> e.v[d+1] * c16.v[d+1])), 6) as s
            from e cross join c16),
    a16 as (
      select vec_id, cast(list_id as bigint) as list_id
      from s16
      qualify row_number() over (partition by vec_id
                                 order by s desc, list_id desc) = 1)
    select nn.vec_id, cast(nn.nn_id as bigint) as nn_id,
           cast(nn.rank as int) as rank, nn.cos_sim,
           case when nn.vec_id % 50 = 0 then a16.list_id end as stream_list_id
    from nn join a16 on a16.vec_id = nn.vec_id
    where nn.rank <= 3
    """,
)
def q_knn_join(spark, sf_dir):
    """The corpus x corpus knn_join TOP-K path under a full value
    oracle (r6; since late r14 the SOLE gate host for knn_join — the
    redundant k=1 leg q_ann_ivf_assign carried was dropped because it
    is the rank=1 subset of this slot's k=3 output under identical
    seeds/rounding/tie order; this slot drives the per-cell GEMM
    top-k loop, the rank column, and the (cos desc, id desc) tie
    order at k=3): every
    vector's 3 nearest in-cell neighbors under the occupancy-adaptive
    cell count, cosines rounded to 6 digits BEFORE ranking so the
    oracle replays ties exactly. The oracle re-derives the adaptive
    seed cells with its dynamic-LIMIT CTE, self-joins the assignment,
    and ranks with the identical window. Vectors in singleton cells
    emit no rows (k-NN among in-cell candidates — the probe dial, not
    an error).

    r11 (verdict item 6, moved here late-r11 from q_ann_ivf_assign to
    keep that baseline-mapped bench slot comparable to its r01
    ancestor — this slot is gate-verified but not a bench headliner):
    STREAMING IVF MAINTENANCE under the gate. The ~2% sampled vectors
    stream in TWO batches through streaming.stream_ivf_append under
    FROZEN 16-seed centroids (the same deterministic seed rule the
    oracle's c16 CTE replays), so the stream-built index must assign
    every sampled vector to the same list the batch rule does
    (stream_list_id, null for unsampled vectors); a full REPLAY from
    a fresh checkpoint must leave the index row count unchanged
    (dynamic-partition-overwrite exactly-once) or the poison breaks
    every sampled row's hash."""
    import os
    import shutil

    from dask_awkward_sandbox_spark.streaming.similarity import (
        stream_ivf_append,
    )

    e = _emb(spark, sf_dir)
    # footer-metadata count (plans.common.parquet_row_count): the
    # adaptive cell sizing needs only |embeddings|, not a scan job
    nk = similarity.adaptive_nlist(
        parquet_row_count(sf_dir, "embeddings"), target_occupancy=128
    )
    X = similarity._sample_matrix(e, "embedding", "vec_id", max(4096, nk))
    seed = similarity.kmeans_train(
        e, "embedding", "vec_id", nlist=nk, iters=0, X=X
    )
    knn = similarity.knn_join(
        e, e, k=3, centroids=seed, nprobe=1, round_digits=6,
        exclude_self=True,
    ).select(
        "vec_id",
        F.col("nn_id").cast("long").alias("nn_id"),
        F.col("rank").cast("int").alias("rank"),
        "cos_sim",
    )

    c16 = similarity.kmeans_train(
        e, "embedding", "vec_id", nlist=16, iters=0, X=X
    )
    sbase = scratch_path(sf_dir, "stream_ivf")
    # the two-batch vector stream input is a pure function of the
    # embeddings table — staged once OUTSIDE the per-call-rebuilt sbase
    # (the q_stream_dedup treatment); index/checkpoints stay fresh
    in_path = scratch_path(sf_dir, "stream_ivf_in")
    shutil.rmtree(sbase, ignore_errors=True)
    spath = os.path.join(sbase, "index")

    def frames():
        samp = e.filter(F.col("vec_id") % 50 == 0).select("vec_id", "embedding")
        return (
            samp.filter(F.col("vec_id") % 100 == 0),
            samp.filter(F.col("vec_id") % 100 != 0),
        )

    stage_replay(
        in_path,
        f"ivf-v1:{sf_dir}:{parquet_row_count(sf_dir, 'embeddings')}",
        frames,
    )

    def run(ckpt: str) -> None:
        stream_ivf_append(
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .json(in_path),
            centroids=c16,
            path=spath,
            checkpoint=os.path.join(sbase, ckpt),
            id_col="vec_id",
            vec_col="embedding",
            round_digits=6,
        )

    poison = replay_poison(spark, run, spath)
    stream_leg = spark.read.parquet(spath).select(
        F.col("nb_id").alias("vec_id"),
        (F.col("list_id").cast("long") + F.lit(poison)).alias(
            "stream_list_id"
        ),
    )
    return knn.join(stream_leg, "vec_id", "left").select(
        "vec_id", "nn_id", "rank", "cos_sim", "stream_list_id",
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction
# ---------------------------------------------------------------------------


@query(
    "q_tf_idf",
    f"""
    with t as (select doc_id, {TOKENS} as ts from documents),
    nn as (select count(*) as n from t),
    tf as (select doc_id, w as term, count(*) as tf
           from (select doc_id, unnest(ts) as w from t) group by 1, 2),
    dfq as (select w as term, count(*) as df
            from (select distinct doc_id, unnest(ts) as w from t)
            group by 1),
    sc as (select tf.doc_id, tf.term,
                  round(tf.tf::double
                        * ln(((select n from nn) + 1.0) / (dfq.df + 1.0)),
                        6) as score
           from tf join dfq using (term))
    select doc_id, cast(rank as int) as rank, term, score
    from (select *, row_number() over (partition by doc_id
                                       order by score desc, term asc) as rank
          from sc)
    where rank <= 3
    """,
)
def q_tf_idf(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (functions/text_analysis.py
    tf_idf_top_terms — keyword extraction / retrieval weighting)
    under a full value oracle: DuckDB recomputes tf, the
    distinct-per-doc df table, the smoothed IDF, and the ranked
    window. Scores are rounded to 6 digits BEFORE ranking on both
    engines (the knn round-before-rank rule), so ties replay exactly
    and a cross-engine ln ulp cannot flip an order the published
    values don't show."""
    return ta.tf_idf_top_terms(_docs(spark, sf_dir), k=3)


# ---------------------------------------------------------------------------
# distributed k-means (one gate-verified Lloyd iteration)
# ---------------------------------------------------------------------------


@query(
    "q_kmeans",
    """
    with e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
    c as (select row_number() over (order by vec_id) - 1 as list_id, v
          from e order by vec_id limit 16),
    sims as (select e.vec_id, c.list_id,
                    round(list_sum(list_transform(range(64),
                                                  d -> e.v[d+1] * c.v[d+1])), 6) as s
             from e cross join c),
    asg as (
      select vec_id, list_id
      from sims
      qualify row_number() over (partition by vec_id
                                 order by s desc, list_id asc) = 1),
    dims as (select unnest(range(64)) as d),
    m as (select a.list_id, dims.d, avg(e.v[dims.d+1]) as val
          from asg a join e using (vec_id) cross join dims
          group by 1, 2)
    select c.list_id, cast(dims.d as int) as d,
           round(coalesce(m.val, c.v[dims.d+1]), 6) as val
    from c cross join dims
    left join m on m.list_id = c.list_id and m.d = dims.d
    """,
)
def q_kmeans(spark, sf_dir):
    """One distributed Lloyd iteration under the driver's oracle
    (functions/similarity.py kmeans_train_distributed — the
    full-corpus trainer): deterministic lowest-16 init, dot-argmax
    assignment over 6-digit-ROUNDED sims (round-before-argmax makes
    the assignment a function of published values; numpy first-max ==
    the oracle's lowest-cell-id tie rule), per-cell per-dim means,
    empty cells keep their seed. DuckDB replays init, assignment, and
    every mean; centroid components are rounded to 6 at emit so the
    cross-engine sum-order ulp in the means cannot flip the hash.
    Output long-form: (list_id, d, val), 16 x 64 rows."""
    e = _emb(spark, sf_dir)
    cents = similarity.kmeans_train_distributed(
        e, "embedding", "vec_id", nlist=16, iters=1, round_digits=6
    )
    # half-AWAY rounding at emit (Python's round() is half-even and
    # would diverge from DuckDB's round() exactly on .5 boundaries)
    rows = [
        (i, d, float(similarity._round_half_away(v, 6)))
        for i, c in enumerate(cents)
        for d, v in enumerate(c)
    ]
    return from_lists(spark, rows, "list_id long, d int, val double")
