"""Event-stream analytics: windowed aggregation, sessionization, JSON.

These are the batch equivalents of the streaming/ module's structured
streaming pipelines — identical transformations, so the oracle checks
the streaming logic's semantics too (tests/test_streaming.py pins each
stream to its batch twin; the hypertable rollup + heavy-hitters legs
live in q_events_funnel_retention).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dask_awkward_sandbox_spark.plans.common import (
    cents,
    parquet_row_count,
    read,
    replay_poison,
    stage_replay,
)
from dask_awkward_sandbox_spark.plans.registry import query
from dask_awkward_sandbox_spark.session import scoped_conf, scratch_path

SESSION_GAP_US = 1_800_000_000  # 30 min in microseconds — exact integer compare


@query(
    "q_events_windowed",
    """
    select event_type,
           cast(floor(epoch(ts)/900)*900 as bigint) as bucket_start,
           cast(count(*) as bigint) as n,
           cast(sum(cast(round(value*100) as bigint)) as bigint) as sum_value_c
    from events
    group by event_type, bucket_start
    """,
)
def q_events_windowed(spark, sf_dir):
    """15-minute tumbling-window aggregate per event type: one
    ``groupBy(event_type, window)`` over the events table. The
    rollup-cascade, exact heavy-hitter and HLL-merge legs this slot
    once carried live in q_events_funnel_retention, which reads the
    same raw table and keeps them oracle-checked."""
    e = read(spark, sf_dir, "events")
    w = F.window("ts", "15 minutes")
    return (
        e.groupBy("event_type", w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("value"))).alias("sum_value_c"),
        )
        .select(
            "event_type",
            F.unix_timestamp(F.col("w")["start"]).alias("bucket_start"),
            "n",
            "sum_value_c",
        )
    )


@query(
    "q_events_sessionize",
    f"""
    with e as (
      select user_id, event_id, epoch_us(ts) as tus,
             lag(epoch_us(ts)) over (partition by user_id order by ts, event_id) as ptus
      from events),
    f as (
      select user_id, event_id,
             case when ptus is null or tus - ptus > {SESSION_GAP_US} then 1 else 0 end
               as new_sess,
             tus
      from e),
    g as (
      select user_id,
             sum(new_sess) over (partition by user_id order by tus, event_id
                                 rows unbounded preceding) as sess
      from f),
    s as (select user_id, sess, count(*) as c from g group by user_id, sess)
    select user_id, cast(count(*) as bigint) as n_sessions,
           cast(max(c) as bigint) as max_sess_len
    from s group by user_id
    """,
)
def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30 min), the classic stateful-stream
    operator expressed with windows. Scale: both windows partition by
    user_id — one shuffle total, then per-user work is local."""
    e = read(spark, sf_dir, "events")
    byu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tus = F.unix_micros(F.col("ts"))
    prev = F.lag(tus).over(byu)
    flagged = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(prev.isNull() | ((tus - prev) > SESSION_GAP_US), 1).otherwise(0).alias("new_sess"),
    )
    sess = flagged.withColumn(
        "sess", F.sum("new_sess").over(byu.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_sess = sess.groupBy("user_id", "sess").agg(F.count(F.lit(1)).alias("c"))
    return per_sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("c").alias("max_sess_len"),
    )


_VC = "cast(round(value*100) as bigint)"


@query(
    "q_window_funcs",
    f"""
    select user_id, event_id,
           epoch_us(ts) - lag(epoch_us(ts)) over w as prev_gap_us,
           lead(epoch_us(ts)) over w - epoch_us(ts) as next_gap_us,
           cast(row_number() over w as bigint) as rn,
           cast(ntile(4) over w as bigint) as nt,
           cast(rank() over v as bigint) as rk,
           cast(dense_rank() over v as bigint) as dr
    from events
    window w as (partition by user_id order by ts, event_id),
           v as (partition by user_id order by {_VC} desc)
    """,
)
def q_window_funcs(spark, sf_dir):
    """The window-function operator family (operators/windows.py) in
    one pass over events: lag/lead (inter-event gaps), row_number and
    ntile over the time order, rank/dense_rank over the value order —
    tie semantics exercised for real (value cents repeat within a
    user, so rank gaps vs dense ranks diverge).

    Scale shape: both specs partition by user_id, so the whole query
    is ONE hash shuffle on user_id; the second ORDER BY only adds a
    per-partition sort. No global window anywhere (plan-asserted in
    tests/test_plans.py)."""
    from dask_awkward_sandbox_spark.operators import windows as win

    e = read(spark, sf_dir, "events")
    tus = F.unix_micros(F.col("ts"))
    vc = cents(F.col("value"))
    w = win.window_spec(["user_id"], ["ts", "event_id"])
    v = win.window_spec(["user_id"], [vc.desc()])
    return e.select(
        "user_id",
        "event_id",
        (tus - win.lag(tus, w)).alias("prev_gap_us"),
        (win.lead(tus, w) - tus).alias("next_gap_us"),
        win.row_number(w).cast("long").alias("rn"),
        win.ntile(4, w).cast("long").alias("nt"),
        win.rank(v).cast("long").alias("rk"),
        win.dense_rank(v).cast("long").alias("dr"),
    )


WATERMARK_US = 3600 * 1_000_000  # sessionize_stateful's 1-hour watermark


# The state-store cap for the streaming slots. A stateful micro-batch
# runs one task per shuffle partition (stateful plans get no AQE
# coalescing), and every task commits its own state-store instance at a
# fixed ~75-150 ms per micro-batch, whatever the KB of state it holds
# (measured on a 4-CPU box). So never run more instances than the
# session has task slots: each micro-batch's stateful stage is then one
# wave, and extra instances would only add waves of commits.
STREAM_STATE_PARTITIONS = 16


def stream_state_scope(spark):
    """Scope the shuffle partitions, and with them the state-store
    instances per micro-batch, to ``min(STREAM_STATE_PARTITIONS,
    defaultParallelism)`` for the streams a block starts. Results do not
    depend on the count: both slots replay from fresh checkpoints, and a
    persistent checkpoint keeps the count recorded in its offset log."""
    n = min(STREAM_STATE_PARTITIONS, spark.sparkContext.defaultParallelism)
    return scoped_conf(spark, "spark.sql.shuffle.partitions", str(n))


@query(
    "q_stream_sessionize",
    f"""
    with e as (
      select user_id, event_id, epoch_us(ts) as tus,
             lag(epoch_us(ts)) over (partition by user_id order by ts, event_id) as ptus
      from events),
    f as (
      select user_id, event_id, tus,
             case when ptus is null or tus - ptus > {SESSION_GAP_US} then 1 else 0 end as ns
      from e),
    g as (
      select user_id, tus,
             sum(ns) over (partition by user_id order by tus, event_id
                           rows unbounded preceding) as sess
      from f),
    s as (select user_id, sess, min(tus) as session_start_us,
                 max(tus) as last_us, cast(count(*) as bigint) as n_events
          from g group by user_id, sess),
    wm as (select (max(epoch_us(ts)) // 1000) * 1000 - {WATERMARK_US} as w from events)
    select user_id, cast(session_start_us as bigint) as session_start_us, n_events
    from s, wm
    where last_us + {SESSION_GAP_US} <= wm.w
    """,
)
def q_stream_sessionize(spark, sf_dir):
    """The ACTUAL structured-streaming path under the driver's value
    oracle: events are staged as a json file source, replayed through
    ``sessionize_stateful`` (Spark's native ``session_window``
    aggregation, 1-hour watermark, append mode) with
    Trigger.AvailableNow into a memory sink, and the emitted sessions
    are returned as a batch frame. No Python worker runs.

    Nearly all of the wall is the two micro-batches' stateful stages,
    and there each state-store instance pays a fixed ~75-150 ms commit
    per micro-batch. ``stream_state_scope`` caps the instances at the
    session's task slots, so each micro-batch commits in one wave.

    Deterministic because append-mode emission is watermark-final: a
    session is emitted iff last_event + gap <= final_watermark
    (= ms-floored max event time - 1h — Spark truncates event times to
    milliseconds before subtracting the delay, and the oracle floors
    identically so a sub-millisecond boundary can't flip a session),
    independent of micro-batch boundaries — the oracle computes exactly
    that set relationally.

    The replay is deliberately OUT OF ORDER: file 1 holds every event
    except a deferred slice from the last (watermark - 10min) of the
    timeline, file 2 (older mtime ordering, one file per trigger)
    delivers that slice late. Every deferred event is admissible (its
    time is >= final watermark + 10min), so the session operator must
    merge them into sessions already held in state — the driver oracle
    itself exercises the late-merge path, and the final emitted set is
    unchanged because emission is watermark-final."""
    with stream_state_scope(spark):
        from dask_awkward_sandbox_spark.streaming import sessionize_stateful
        from dask_awkward_sandbox_spark.streaming.events import (
            run_stream_to_memory,
            stream_events_from_dir,
        )

        path = scratch_path(sf_dir, "stream_sessionize_json")

        def frames():
            e = read(spark, sf_dir, "events")
            tus = F.unix_micros(F.col("ts"))
            # the scalar max rides the plan as a 1-row broadcast
            # crossJoin (the q11/q15 pattern) — no driver collect, each
            # write stays a single job at any scale
            mx = e.agg(F.max(tus).alias("_max_us"))
            ex = e.crossJoin(F.broadcast(mx))
            # deferred slice: strictly inside (final_watermark + 10min,
            # max - 1min] so batch 1 still carries the stream-head event
            # (the watermark never regresses) and no deferred row is
            # droppable late
            lo = F.col("_max_us") - F.lit(WATERMARK_US - 600_000_000)
            hi = F.col("_max_us") - F.lit(60_000_000)
            deferred = (tus >= lo) & (tus <= hi) & (F.col("event_id") % 7 == 0)
            return (
                ex.filter(~deferred).drop("_max_us"),
                ex.filter(deferred).drop("_max_us"),  # the late file
            )

        # the staged two-file replay is a pure function of the events
        # table: built once, reused across invocations (the stream
        # itself still runs from a fresh ephemeral checkpoint every call)
        stage_replay(
            path,
            f"sessionize-v1:{sf_dir}:{parquet_row_count(sf_dir, 'events')}",
            frames,
        )

        out = sessionize_stateful(
            stream_events_from_dir(spark, path, max_files_per_trigger=1)
        )
        return run_stream_to_memory(out, "q_stream_sessionize_sink").select(
            "user_id", "session_start_us", "n_events"
        )


_ND_OFF = 1_000_000_000_000  # planted near-dup copy id offset (collision-free)


def _stream_dedup_oracle() -> str:
    from dask_awkward_sandbox_spark.plans.llm import H9, TOKENS, _perm_values_sql

    h = H9.replace("w", "unnest(" + TOKENS + ")")
    return f"""
    with b1 as (select doc_id as doc, text from documents where doc_id % 2 = 0),
    b2 as (select doc_id as doc, text from documents where doc_id % 2 = 1
           union all
           select doc_id + {_ND_OFF} as doc, text from documents
           where doc_id % 10 = 0),
    alldocs as (select doc, text from b1 union all select doc, text from b2),
    tok as (select doc, {h} as hh from alldocs),
    p(pid, pa, pb) as {_perm_values_sql(16)},
    sig as (select doc, pid, min((pa * hh + pb) % 1000000007) as mh
            from tok cross join p group by doc, pid),
    bkey as (select doc, pid // 4 as band,
                    md5(string_agg(mh::varchar, '_' order by pid)) as key
             from sig group by doc, pid // 4),
    prs as (select distinct a.doc as old, n.doc as new
            from bkey a join bkey n on a.band = n.band and a.key = n.key
                                   and a.doc <> n.doc),
    agree as (select prs.old, prs.new, count(*) as na
              from prs
              join sig sa on sa.doc = prs.old
              join sig sb on sb.doc = prs.new and sb.pid = sa.pid
                         and sb.mh = sa.mh
              group by prs.old, prs.new),
    ok as (select old, new from agree where na >= 12),
    m1 as (select o.new as doc, min(o.old) as dup_of
           from ok o join b1 x on x.doc = o.old join b1 y on y.doc = o.new
           where o.old < o.new group by o.new),
    kept1 as (select doc from b1 where doc not in (select doc from m1)),
    m2 as (select o.new as doc, min(o.old) as dup_of
           from ok o join b2 y on y.doc = o.new
           where o.old in (select doc from kept1)
              or (o.old in (select doc from b2) and o.old < o.new)
           group by o.new),
    nd as (select 'neardup' as leg, cast(d.doc as varchar) as key,
                  cast(case when m.doc is not null then 1 else 0 end as bigint) as n,
                  m.dup_of as n_users,
                  cast(null as bigint) as sum_value_c,
                  cast(null as double) as score
           from alldocs d
           left join (select * from m1 union all select * from m2) m
                  on m.doc = d.doc),
    curq as (select doc,
                    cast(len({TOKENS}) as bigint) as n_ws,
                    cast(len({TOKENS}) as double) as qn,
                    cast(len(list_distinct({TOKENS})) as double) as qd,
                    cast(length(text) as double) as qln,
                    cast(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                         as double) as qnp
             from alldocs),
    curfp as (select doc,
                     cast(sum({H9} * i) % 1000000007 as bigint) as fp
              from (select doc, unnest({TOKENS}) as w,
                           generate_subscripts({TOKENS}, 1) as i
                    from alldocs)
              group by doc),
    cur as (select 'curation' as leg, cast(curq.doc as varchar) as key,
                   curq.n_ws as n,
                   coalesce(curfp.fp, 0) as n_users,
                   cast(null as bigint) as sum_value_c,
                   case when curq.qn > 0 and curq.qln > 0
                        then 0.3 * least(curq.qn / 200.0, 1.0)
                             + 0.3 * (curq.qd / curq.qn)
                             + 0.4 * (1.0 - curq.qnp / curq.qln)
                        else 0.0 end as score
            from curq left join curfp on curfp.doc = curq.doc),
    ex as (select 'exact' as leg, event_type as key,
                  cast(count(*) as bigint) as n,
                  cast(count(distinct user_id) as bigint) as n_users,
                  cast(sum(cast(round(value * 100) as bigint)) as bigint)
                    as sum_value_c,
                  cast(null as double) as score
           from events group by event_type)
    select * from ex union all select * from nd union all select * from cur
    """


@query("q_stream_dedup", _stream_dedup_oracle())
def q_stream_dedup(spark, sf_dir):
    """Streaming dedup under the driver's value oracle, two legs
    through two REAL readStream paths:

    'exact' (r4 verdict item 7): the events table replayed as a json
    file stream with a PLANTED duplicate file — every event from the
    last 30 minutes of the timeline re-emitted in a second,
    later-mtime file — through ``stream_dedup_exact``
    (dropDuplicatesWithinWatermark on event_id, 1-hour watermark),
    survivors aggregated per event_type. event_id is unique in the
    source and every duplicate arrives within the watermark horizon
    of its original, so the correct output is exactly the original
    event set regardless of micro-batch boundaries.

    'neardup' (r10, verdict item 5 — the production "drop anything
    similar to already-ingested" shape, streaming/neardup.py promoted
    from pytest-only): the documents table split into two stream
    files — evens first, then odds PLUS planted near-identical copies
    (doc_id%10==0 texts under offset ids) — through
    ``stream_neardup_dedup`` (16-perm MinHash, 4 bands, match >= 12/16
    against the growing kept-doc bucket store + smaller-id batchmates;
    exactly-once decisions via batch_id-partitioned store reads). One
    row per doc: n=is_dup, n_users=dup_of. The oracle replays the
    full two-batch contract relationally: batch-1 within-dups, the
    kept-1 store, then batch-2 decisions against store + batchmates.
    A broken store filter, replay leak, or banding drift flips
    decision bits and breaks the hash.

    'curation' (late r11, streaming/curation.py promoted from
    pytest-only): the SAME two-batch document stream scored by the
    batch curation expressions (whitespace tokens, lang-id, quality
    double compared EXACTLY, position-weighted fingerprint) through
    the idempotent batch_id-partitioned sink, then REPLAYED from a
    fresh checkpoint — dynamic partition overwrite must leave the
    sink row count unchanged (the exactly-once contract) or a poison
    breaks every curation row's hash."""
    with stream_state_scope(spark):
        import os
        import shutil

        from dask_awkward_sandbox_spark.streaming import (
            stream_curation_scores,
            stream_neardup_dedup,
        )
        from dask_awkward_sandbox_spark.streaming.events import (
            run_stream_to_memory,
            stream_dedup_exact,
            stream_events_from_dir,
        )

        path = scratch_path(sf_dir, "stream_dedup_json")

        def frames():
            e = read(spark, sf_dir, "events")
            tus = F.unix_micros(F.col("ts"))
            # scalar max as a 1-row broadcast (q11/q15 pattern), not a
            # collect
            mx = e.agg(F.max(tus).alias("_max_us"))
            # last 30 min re-emitted as the duplicate file
            dup_window = tus >= F.col("_max_us") - F.lit(1_800_000_000)
            return e, e.crossJoin(F.broadcast(mx)).filter(dup_window).drop("_max_us")

        # staged once per source table: the replay files are a pure
        # function of events.parquet (the dedup stream itself still runs
        # from a fresh ephemeral checkpoint)
        stage_replay(
            path, f"dedup-v1:{sf_dir}:{parquet_row_count(sf_dir, 'events')}", frames
        )

        deduped = stream_dedup_exact(
            stream_events_from_dir(spark, path, max_files_per_trigger=1),
            keys=["event_id"],
            watermark="1 hour",
        )
        exact_leg = (
            run_stream_to_memory(deduped, "q_stream_dedup_sink")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_c"),
            )
            .select(
                F.lit("exact").alias("leg"),
                F.col("event_type").alias("key"),
                "n",
                "n_users",
                "sum_value_c",
                F.lit(None).cast("double").alias("score"),
            )
        )

        # neardup leg: the two-batch INPUT is a pure function of the
        # documents table — staged once OUTSIDE nd_base; the
        # store/out/checkpoint dirs under nd_base rebuild from scratch
        # each call so the replay (and its store) stays deterministic
        nd_base = scratch_path(sf_dir, "stream_neardup")
        in_path = scratch_path(sf_dir, "stream_neardup_in")

        def doc_frames():
            d = read(spark, sf_dir, "documents").select("doc_id", "text")
            return d.filter(F.col("doc_id") % 2 == 0), (
                d.filter(F.col("doc_id") % 2 == 1).unionByName(
                    d.filter(F.col("doc_id") % 10 == 0).select(
                        (F.col("doc_id") + F.lit(_ND_OFF)).alias("doc_id"), "text"
                    )
                )
            )

        stage_replay(
            in_path,
            f"neardup-v1:{sf_dir}:{parquet_row_count(sf_dir, 'documents')}",
            doc_frames,
        )

        def docs_stream():
            return (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .json(in_path)
            )

        shutil.rmtree(nd_base, ignore_errors=True)
        stream_neardup_dedup(
            docs_stream(),
            store_path=os.path.join(nd_base, "store"),
            out_path=os.path.join(nd_base, "out"),
            checkpoint=os.path.join(nd_base, "ckpt"),
            num_perms=16,
            bands=4,
            min_match=0.75,
            # each micro-batch is ONE json file — spread the signature
            # fold across cores (see _batch_state's r14 note)
            spread=8,
        )
        nd_leg = spark.read.parquet(os.path.join(nd_base, "out")).select(
            F.lit("neardup").alias("leg"),
            F.col("doc").cast("string").alias("key"),
            F.col("is_dup").cast("long").alias("n"),
            F.col("dup_of").alias("n_users"),
            F.lit(None).cast("long").alias("sum_value_c"),
            F.lit(None).cast("double").alias("score"),
        )

        # curation leg: the SAME two-batch document stream through
        # stream_curation_scores — stateless scan-side scoring with the
        # idempotent batch_id-partitioned sink, REPLAYED from a fresh
        # checkpoint (both batches re-delivered): dynamic partition
        # overwrite must leave the sink row count unchanged or the poison
        # breaks every curation row's hash. Scores (whitespace tokens,
        # lang-id, quality double, position-weighted fingerprint) are the
        # exact batch expressions, replayed by the oracle per document.
        cur_base = os.path.join(nd_base, "curation")
        cur_out = os.path.join(cur_base, "out")
        poison = replay_poison(
            spark,
            lambda ckpt: stream_curation_scores(
                docs_stream(), out_path=cur_out, checkpoint=os.path.join(cur_base, ckpt)
            ),
            cur_out,
        )
        cur_leg = spark.read.parquet(cur_out).select(
            F.lit("curation").alias("leg"),
            F.col("doc_id").cast("string").alias("key"),
            (F.col("n_ws") + F.lit(poison)).alias("n"),
            F.col("fp").alias("n_users"),
            F.lit(None).cast("long").alias("sum_value_c"),
            F.col("quality").alias("score"),
        )
        return exact_leg.unionByName(nd_leg).unionByName(cur_leg)


WEEK_US = 7 * 24 * 3600 * 1_000_000


def _rollup_hh_hll_legs(e):
    """The hypertable-rollup / heavy-hitters / HLL-merge gate legs,
    relocated here (late r14) from q_events_windowed so that
    baseline-mapped slot stays comparable to its r01 ancestor (r13
    verdict item 6's offered alternative; the r11/r13 relocation
    precedent). Emitted in q_events_funnel_retention's widened
    section schema: (section, k1, k2, val, sum_c, mn, mx, frac).

    - 'hour': functions.rollup.rollup_once — the time-bucketed
      continuous aggregate from raw events;
    - 'day': the CASCADE — derived by re-aggregating the HOUR ROLLUP
      (rollup_step), never re-reading raw events, while the oracle
      computes day directly from the raw table: the driver's hash
      proves the lossless re-aggregation contract every round;
    - 'hh': functions.sketches.heavy_hitters over event_type (exact
      counts, broadcast 1-row total, no driver action);
    - 'hll' (r6, verdict item 7 — the mergeable-sketch contract under
      the DRIVER's oracle every round): per (day, event_type) distinct
      user_id three ways — the day sketch MERGED from the hour
      rollup's HLL sketches (the cascade column), the day sketch built
      direct from raw, and the exact count. Emits the exact count in
      `val` (hash-compared with the oracle's COUNT(DISTINCT)) and an
      `mn` flag = 1 iff merged-estimate == direct-estimate (HLL merge
      is deterministic) AND the estimate sits within the published
      error of exact (5% at lgConfigK=12, floor 2). The oracle emits
      mn=1 unconditionally: a merge bug or out-of-bound estimate
      flips the flag and the driver's value hash catches it.

    Scale (r15, verdict item 3 — two raw aggregations, was four):
    the hour rollup is localCheckpointed (per-invocation, inside the
    timed region — the q_dedup_simhash precedent) so its THREE
    consumers (the 'hour' leg, the day cascade step, the
    heavy-hitters leg) share one materialization instead of each
    re-scanning raw events under their own column pruning; the
    heavy-hitters counts are SUMMED from the hour rollup's n_rows
    (counts re-aggregate losslessly — identical values, |buckets|
    rows scanned instead of |raw|); and the hll leg's direct-day
    sketch and exact countDistinct are FUSED into one aggregation
    over one raw scan (they share keys), one join instead of two.
    The day grain still derives from the hour ROLLUP (rollup_step —
    the lossless-cascade contract the driver's hash proves), and the
    merged-vs-direct-vs-exact comparison is unchanged."""
    from dask_awkward_sandbox_spark.functions import rollup as ru
    from dask_awkward_sandbox_spark.functions import sketches as sk

    measures = {
        "sum_c": F.sum(cents(F.col("value"))),
        "min_value_c": F.min(cents(F.col("value"))),
        "max_value_c": F.max(cents(F.col("value"))),
    }
    hour = ru.rollup_once(
        e, "ts", "hour", measures, group_by=["event_type"],
        distinct_cols=["user_id"],
    ).localCheckpoint(eager=False)
    cascade = {"hour": hour, "day": ru.rollup_step(hour, "day", ["event_type"])}

    def leg(df, name):
        return df.select(
            F.lit(name).alias("section"),
            F.col("event_type").alias("k1"),
            F.unix_timestamp("bucket").alias("k2"),
            F.col("n_rows").alias("val"),
            "sum_c",
            F.col("min_value_c").alias("mn"),
            F.col("max_value_c").alias("mx"),
            F.lit(None).cast("double").alias("frac"),
        )

    hh = sk.heavy_hitters(
        cascade["hour"], "event_type", min_fraction=0.15, weight_col="n_rows"
    ).select(
        F.lit("hh").alias("section"),
        F.col("value").alias("k1"),
        F.lit(None).cast("long").alias("k2"),
        F.col("n").alias("val"),
        F.lit(None).cast("long").alias("sum_c"),
        F.lit(None).cast("long").alias("mn"),
        F.lit(None).cast("long").alias("mx"),
        F.col("fraction").alias("frac"),
    )

    # 'hll' leg: merged-vs-direct-vs-exact per (day, event_type).
    # r15: the direct-from-raw sketch and the exact countDistinct
    # share their grouping keys, so ONE aggregation over ONE raw scan
    # computes both (mixed distinct + sketch aggregate — Spark plans
    # the distinct via Expand), where r14 ran two independent raw
    # aggregations and joined three ways.
    day_direct_exact = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("bucket"), "event_type"
    ).agg(
        F.countDistinct("user_id").alias("_exact"),
        F.hll_sketch_agg(F.col("user_id"), F.lit(12)).alias("_hs"),
    ).select(
        "bucket", "event_type", "_exact",
        F.hll_sketch_estimate("_hs").alias("_est_direct"),
    )
    merged = cascade["day"].select(
        "bucket", "event_type",
        F.hll_sketch_estimate("hll_user_id").alias("_est_merged"),
    )
    ok = (F.col("_est_merged") == F.col("_est_direct")) & (
        F.abs(F.col("_est_merged") - F.col("_exact"))
        <= F.greatest(F.col("_exact") * 0.05, F.lit(2.0))
    )
    hll_leg = (
        merged.join(day_direct_exact, ["bucket", "event_type"])
        .select(
            F.lit("hll").alias("section"),
            F.col("event_type").alias("k1"),
            F.unix_timestamp("bucket").alias("k2"),
            F.col("_exact").cast("long").alias("val"),
            F.lit(None).cast("long").alias("sum_c"),
            ok.cast("long").alias("mn"),
            F.lit(None).cast("long").alias("mx"),
            F.lit(None).cast("double").alias("frac"),
        )
    )
    return (
        leg(cascade["hour"], "hour")
        .unionAll(leg(cascade["day"], "day"))
        .unionAll(hh)
        .unionAll(hll_leg)
    )


@query(
    "q_events_funnel_retention",
    f"""
    with m as (
      select user_id,
             min(case when event_type = 'view' then epoch_us(ts) end) as v
      from events group by user_id),
    c as (
      select e.user_id, min(epoch_us(e.ts)) as c
      from events e join m on m.user_id = e.user_id
      where e.event_type = 'click' and epoch_us(e.ts) > m.v
      group by e.user_id),
    p as (
      select e.user_id, min(epoch_us(e.ts)) as p
      from events e join c on c.user_id = e.user_id
      where e.event_type = 'purchase' and epoch_us(e.ts) > c.c
      group by e.user_id),
    s as (select user_id, min(epoch_us(ts)) as su
          from events where event_type = 'signup' group by user_id),
    a as (select distinct e.user_id,
                 s.su // {WEEK_US} as cohort_week,
                 (epoch_us(e.ts) - s.su) // {WEEK_US} as week_offset
          from events e join s on s.user_id = e.user_id
          where epoch_us(e.ts) >= s.su),
    rolled as (
      select event_type,
             cast(epoch(date_trunc('hour', ts)) as bigint) as bucket,
             cast(count(*) as bigint) as n,
             cast(sum(cast(round(value*100) as bigint)) as bigint) as sum_c,
             min(cast(round(value*100) as bigint)) as mn,
             max(cast(round(value*100) as bigint)) as mx
      from events group by 1, 2),
    daily as (
      select event_type,
             cast(epoch(date_trunc('day', ts)) as bigint) as bucket,
             cast(count(*) as bigint) as n,
             cast(sum(cast(round(value*100) as bigint)) as bigint) as sum_c,
             min(cast(round(value*100) as bigint)) as mn,
             max(cast(round(value*100) as bigint)) as mx
      from events group by 1, 2),
    counts as (select event_type, count(*) as n from events group by 1),
    hhit as (
      select event_type, cast(n as bigint) as n,
             n / (select sum(n) from counts) as frac
      from counts
      where n > (select sum(n) from counts) * 0.15),
    hll as (
      select event_type,
             cast(epoch(date_trunc('day', ts)) as bigint) as bucket,
             cast(count(distinct user_id) as bigint) as n
      from events group by 1, 2)
    select 'funnel' as section,
           cast(m.user_id as varchar) as k1,
           cast(case when p.p is not null then 3
                     when c.c is not null then 2
                     when m.v is not null then 1
                     else 0 end as bigint) as k2,
           cast(m.v as bigint) as val,
           cast(null as bigint) as sum_c, cast(null as bigint) as mn,
           cast(null as bigint) as mx, cast(null as double) as frac
    from m
    left join c on c.user_id = m.user_id
    left join p on p.user_id = m.user_id
    union all
    select 'retention' as section,
           cast(cohort_week as varchar) as k1,
           cast(week_offset as bigint) as k2,
           cast(count(*) as bigint) as val,
           cast(null as bigint), cast(null as bigint),
           cast(null as bigint), cast(null as double)
    from a group by cohort_week, week_offset
    union all
    select 'hour', event_type, bucket, n, sum_c, mn, mx,
           cast(null as double)
    from rolled
    union all
    select 'day', event_type, bucket, n, sum_c, mn, mx,
           cast(null as double)
    from daily
    union all
    select 'hh', event_type, cast(null as bigint), n,
           cast(null as bigint), cast(null as bigint),
           cast(null as bigint), frac
    from hhit
    union all
    select 'hll', event_type, bucket, n, cast(null as bigint),
           cast(1 as bigint), cast(null as bigint), cast(null as double)
    from hll
    """,
)
def q_events_funnel_retention(spark, sf_dir):
    """Ordered funnel (view -> click -> purchase) AND weekly cohort
    retention per user, both computed awkward-style off ONE shared
    nested build (per-user event list) — merged into a single gate
    slot in r5 (freeing the slot the streaming-dedup oracle query now
    occupies).

    Funnel legs are pure array folds: min view time, min click after
    it, min purchase after that. Retention legs: signup time and
    distinct active-week offsets as array folds, one explode. No
    window functions, no self-joins; at scale this is ONE shuffle
    (the nested build — both sections read the same exchange via
    ReusedExchange) where the oracle does four join-aggregate passes
    over the event table.

    Late r14: the slot also hosts the relocated hypertable-rollup /
    heavy-hitters / HLL-merge gate legs (_rollup_hh_hll_legs — moved
    off the baseline-mapped q_events_windowed, r13 verdict item 6's
    offered relocation; same raw events table, sections 'hour' /
    'day' / 'hh' / 'hll').
    Output is the tagged union (section, k1, k2, val, sum_c, mn, mx,
    frac)."""
    e = read(spark, sf_dir, "events")
    evs = e.groupBy("user_id").agg(
        F.collect_list(
            F.struct(F.unix_micros("ts").alias("tus"), F.col("event_type").alias("et"))
        ).alias("evs")
    )
    # both sections consume this one aggregate: the map side + shuffle
    # write happen once (ReusedExchange), only the small reduce-side
    # re-fold runs per section

    def min_after(kind, after):
        ts = F.transform(
            F.filter(
                F.col("evs"), lambda s: (s["et"] == kind) & (s["tus"] > after)
            ),
            lambda s: s["tus"],
        )
        return F.array_min(ts)

    v = F.array_min(
        F.transform(F.filter(F.col("evs"), lambda s: s["et"] == "view"), lambda s: s["tus"])
    )
    stage = evs.select("user_id", "evs", v.alias("v"), min_after("click", v).alias("c"))
    stage = stage.select(
        "user_id", "v", "c", min_after("purchase", F.col("c")).alias("p")
    )
    _pad = [
        F.lit(None).cast("long").alias("sum_c"),
        F.lit(None).cast("long").alias("mn"),
        F.lit(None).cast("long").alias("mx"),
        F.lit(None).cast("double").alias("frac"),
    ]
    funnel = stage.select(
        F.lit("funnel").alias("section"),
        F.col("user_id").cast("string").alias("k1"),
        F.when(F.col("p").isNotNull(), 3)
        .when(F.col("c").isNotNull(), 2)
        .when(F.col("v").isNotNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("k2"),
        F.col("v").cast("long").alias("val"),
        *_pad,
    )

    su = F.array_min(
        F.transform(F.filter(F.col("evs"), lambda s: s["et"] == "signup"), lambda s: s["tus"])
    )
    offsets = F.array_distinct(
        F.transform(
            F.filter(F.col("evs"), lambda s: s["tus"] >= F.col("su")),
            lambda s: ((s["tus"] - F.col("su")) / WEEK_US).cast("long"),
        )
    )
    per_user = (
        evs.select("user_id", "evs", su.alias("su"))
        .filter(F.col("su").isNotNull())
        .select(
            (F.col("su") / WEEK_US).cast("long").alias("cohort_week"),
            F.explode(offsets).alias("week_offset"),
        )
    )
    retention = per_user.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    ).select(
        F.lit("retention").alias("section"),
        F.col("cohort_week").cast("string").alias("k1"),
        F.col("week_offset").alias("k2"),
        F.col("n_users").alias("val"),
        *_pad,
    )
    return funnel.unionByName(retention).unionByName(_rollup_hh_hll_legs(e))
