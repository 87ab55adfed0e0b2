"""Structured-streaming tests: stream results must equal the batch
plans computed over the same events (which are themselves
oracle-checked in test_oracle_parity)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dask_awkward_sandbox_spark import session

SF = "/root/testdata/sf0.001"
SCRATCH = os.path.join(session.SCRATCH, "streamtest")


def run_complete_to_memory(stream_df, name: str):
    """Drive a streaming aggregation to a complete-mode memory sink
    until all input is consumed (Trigger.AvailableNow); returns the
    in-memory table name. The package drives append-mode memory sinks
    only (``streaming.events.run_stream_to_memory``), so this one mode
    keeps a test-side driver."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return name


def _write_stream_input(spark):
    from dask_awkward_sandbox_spark.plans.common import read

    path = os.path.join(SCRATCH, "events_json")
    e = read(spark, SF, "events")
    # single file: the file-source offers no cross-file time ordering,
    # and gap sessionization needs in-order arrival (the in-batch sort
    # handles intra-file order)
    from dask_awkward_sandbox_spark.streaming.events import JSON_TS_FORMAT

    e.repartition(1).write.mode("overwrite").option(
        "timestampFormat", JSON_TS_FORMAT
    ).json(path)
    return path


def test_windowed_counts_stream_equals_batch(spark):
    from dask_awkward_sandbox_spark.plans.common import read
    from dask_awkward_sandbox_spark.streaming import (
        stream_events_from_dir,
        windowed_counts,
    )

    path = _write_stream_input(spark)
    stream = stream_events_from_dir(spark, path)
    assert stream.isStreaming
    name = run_complete_to_memory(windowed_counts(stream), "win_counts")
    got = {
        (r["event_type"], r["bucket_start"]): (r["n"], r["sum_value_c"])
        for r in spark.table(name).collect()
    }
    # batch twin of the same 15-min tumbling aggregation (== the
    # registered q_events_windowed slot again since the late-r14 leg
    # relocation; the rollup cascade's hour leg, now hosted by
    # q_events_funnel_retention, is covered by test_rollup.py)
    batch = (
        read(spark, SF, "events")
        .groupBy("event_type", F.window("ts", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_c"),
        )
        .select(
            "event_type",
            F.unix_timestamp(F.col("w")["start"]).alias("bucket_start"),
            "n",
            "sum_value_c",
        )
    )
    want = {
        (r["event_type"], r["bucket_start"]): (r["n"], r["sum_value_c"])
        for r in batch.collect()
    }
    assert got == want


WATERMARK_US = 3600 * 1_000_000


def _batch_sessions(spark, df):
    """Window-function sessionization -> {(user, start_us): n}
    restricted to sessions the final watermark closes (last + gap <=
    max_ts - watermark) — exactly the stateful operator's emission
    contract."""
    from pyspark.sql import Window

    from dask_awkward_sandbox_spark.streaming.events import SESSION_GAP_US

    tus = F.unix_micros(F.col("ts"))
    byu = Window.partitionBy("user_id").orderBy("tus", "event_id")
    prev = F.lag("tus").over(byu)
    flagged = df.select("user_id", "event_id", tus.alias("tus")).withColumn(
        "ns",
        F.when(prev.isNull() | ((F.col("tus") - prev) > SESSION_GAP_US), 1).otherwise(0),
    ).withColumn(
        "sess", F.sum("ns").over(byu.rowsBetween(Window.unboundedPreceding, 0))
    )
    per = flagged.groupBy("user_id", "sess").agg(
        F.min("tus").alias("start_us"),
        F.max("tus").alias("last_us"),
        F.count(F.lit(1)).alias("n"),
    )
    # Spark truncates the max event time to MILLISECONDS before
    # subtracting the watermark delay — floor identically or a session
    # ending in the sub-ms window flips between engines
    max_us = df.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    wm = (max_us // 1000) * 1000 - WATERMARK_US
    closed = per.filter(F.col("last_us") + SESSION_GAP_US <= wm)
    return {(r["user_id"], r["start_us"]): r["n"] for r in closed.collect()}


def _run_sessionizer(spark, stream, name):
    from dask_awkward_sandbox_spark.streaming import sessionize_stateful
    from dask_awkward_sandbox_spark.streaming.events import run_stream_to_memory

    out = run_stream_to_memory(sessionize_stateful(stream), name)
    return {
        (r["user_id"], r["session_start_us"]): r["n_events"]
        for r in out.collect()
    }


def test_sessionize_stateful_closed_sessions(spark):
    """The stateful sessionizer must emit exactly the sessions the
    final watermark closes, matching batch sessionization."""
    from dask_awkward_sandbox_spark.plans.common import read
    from dask_awkward_sandbox_spark.streaming.events import stream_events_from_dir

    path = _write_stream_input(spark)
    stream = stream_events_from_dir(spark, path)
    got = _run_sessionizer(spark, stream, "sessions")
    want = _batch_sessions(spark, read(spark, SF, "events"))
    assert got == want


def test_sessionize_stateful_out_of_order(spark):
    """Late events admitted by the watermark must merge into their
    time-order position (bridging/extending sessions), not corrupt
    state — the batch result over the union is the contract."""
    import shutil
    import time

    from dask_awkward_sandbox_spark.streaming.events import (
        JSON_TS_FORMAT,
        stream_events_from_dir,
    )

    path = os.path.join(SCRATCH, "events_ooo_json")
    shutil.rmtree(path, ignore_errors=True)
    t0 = 1_700_000_000_000_000  # us
    minute = 60_000_000

    def mk(rows):
        return spark.createDataFrame(
            [(i, r[0], r[1], "view", 1.0, "{}") for i, r in enumerate(rows)],
            "event_id long, us long, user_id long, event_type string, value double, props string",
        ).select(
            "event_id",
            F.timestamp_micros(F.col("us")).alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )

    # batch 1: in-order events incl. one far ahead; batch 2: a LATE
    # event (t0+30min — admissible: watermark after batch 1 is
    # t0+80min-1h = t0+20min) that bridges into the first session;
    # batch 3: far-future event pushes the watermark so all closes.
    batches = [
        [(t0, 7), (t0 + 10 * minute, 7), (t0 + 80 * minute, 7)],
        [(t0 + 30 * minute, 7)],
        [(t0 + 600 * minute, 7)],
    ]
    for i, rows in enumerate(batches):
        mk(rows).repartition(1).write.mode("append").option(
            "timestampFormat", JSON_TS_FORMAT
        ).json(path)
        # file-source picks up oldest-mtime first; keep ordering strict
        time.sleep(1.1)

    stream = stream_events_from_dir(spark, path, max_files_per_trigger=1)
    got = _run_sessionizer(spark, stream, "sessions_ooo")
    # sessions: [t0, +10, +30] (late event bridges), [+80], [+600 open]
    want = {(7, t0): 3, (7, t0 + 80 * minute): 1}
    assert got == want


def test_sessionize_stateful_emission_boundaries(spark):
    """Gap and watermark boundaries of the sessionizer, one user per
    case, all in one micro-batch. The stream head sits at a sub-ms
    time, so the final watermark is ms-floored(head) - 1h:
    - user 1: events exactly ``gap`` apart merge, ``gap + 1`` splits;
    - user 2: last + gap == watermark is emitted;
    - user 3: last + gap == watermark + 1us is held;
    - user 4: closes only under the unfloored watermark, so is held;
    - user 5: the stream head, open."""
    import shutil

    from dask_awkward_sandbox_spark.streaming.events import (
        JSON_TS_FORMAT,
        SESSION_GAP_US,
        stream_events_from_dir,
    )

    gap = SESSION_GAP_US
    t0 = 1_700_000_000_000_000  # us
    head = t0 + 10 * WATERMARK_US + 123_456
    wm = (head // 1000) * 1000 - WATERMARK_US
    rows = [
        (t0, 1),
        (t0 + gap, 1),
        (t0 + 2 * gap + 1, 1),
        (wm - gap, 2),
        (wm - gap + 1, 3),
        (wm - gap + 400, 4),
        (head, 5),
    ]
    path = os.path.join(SCRATCH, "events_boundary_json")
    shutil.rmtree(path, ignore_errors=True)
    spark.createDataFrame(
        [(i, us, user, "view", 1.0, "{}") for i, (us, user) in enumerate(rows)],
        "event_id long, us long, user_id long, event_type string, value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).repartition(1).write.option("timestampFormat", JSON_TS_FORMAT).json(path)

    stream = stream_events_from_dir(spark, path)
    got = _run_sessionizer(spark, stream, "sessions_boundary")
    assert got == {(1, t0): 2, (1, t0 + 2 * gap + 1): 1, (2, wm - gap): 1}


def test_stream_dedup_exact(spark):
    """Planted duplicates (the input written twice) must collapse to
    the distinct event set, matching batch dropDuplicates."""
    from dask_awkward_sandbox_spark.plans.common import read
    from dask_awkward_sandbox_spark.streaming import stream_dedup_exact
    from dask_awkward_sandbox_spark.streaming.events import (
        JSON_TS_FORMAT,
        run_stream_to_memory,
        stream_events_from_dir,
    )

    path = os.path.join(SCRATCH, "events_dup_json")
    e = read(spark, SF, "events")
    doubled = e.unionAll(e)
    doubled.repartition(1).write.mode("overwrite").option(
        "timestampFormat", JSON_TS_FORMAT
    ).json(path)

    stream = stream_events_from_dir(spark, path)
    got = run_stream_to_memory(
        stream_dedup_exact(stream, ["event_id"]), "dedup_events"
    ).count()
    want = e.select("event_id").distinct().count()
    assert got == want


def test_enrich_with_dim_and_parquet_sink(spark):
    """Stream-static join decorates each event with its user's dim row;
    the foreachBatch parquet sink lands exactly the input rows."""
    import shutil

    from pyspark.sql import functions as F

    from dask_awkward_sandbox_spark.plans.common import read
    from dask_awkward_sandbox_spark.streaming import (
        enrich_with_dim,
        run_stream_to_parquet,
    )
    from dask_awkward_sandbox_spark.streaming.events import stream_events_from_dir

    path = _write_stream_input(spark)
    users = (
        read(spark, SF, "events")
        .select("user_id")
        .distinct()
        .withColumn("tier", F.when(F.col("user_id") % 2 == 0, "a").otherwise("b"))
    )
    out_dir = os.path.join(SCRATCH, "enriched_parquet")
    ckpt = os.path.join(SCRATCH, "enriched_ckpt")
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    stream = stream_events_from_dir(spark, path)
    enriched = enrich_with_dim(stream, users, "user_id")
    run_stream_to_parquet(enriched, out_dir, ckpt)

    back = spark.read.parquet(out_dir)
    src = read(spark, SF, "events")
    assert back.count() == src.count()
    assert "tier" in back.columns
    got = {r["user_id"]: r["tier"] for r in back.select("user_id", "tier").distinct().collect()}
    assert all(t == ("a" if uid % 2 == 0 else "b") for uid, t in got.items())


def test_sessionize_stateful_larger_state(spark):
    """SURVEY §7 'sessionize at larger state': the same stream==batch
    contract with 10x the users and events (sf0.01 — thousands of
    concurrently-open per-user sessions held in state at once, across
    multiple state partitions)."""
    from dask_awkward_sandbox_spark.plans.common import read
    from dask_awkward_sandbox_spark.streaming.events import (
        JSON_TS_FORMAT,
        stream_events_from_dir,
    )

    sf = "/root/testdata/sf0.01"
    path = os.path.join(SCRATCH, "events_json_sf001")
    e = read(spark, sf, "events")
    e.repartition(1).write.mode("overwrite").option(
        "timestampFormat", JSON_TS_FORMAT
    ).json(path)
    stream = stream_events_from_dir(spark, path)
    got = _run_sessionizer(spark, stream, "sessions_large")
    want = _batch_sessions(spark, read(spark, sf, "events"))
    assert len(want) > 1000  # the point: this is real state, not a toy
    assert got == want


def test_streaming_curation_filters(spark):
    """The curation suite composes with Structured Streaming
    unchanged: quality/PII/token expressions are scan-side Catalyst
    trees, so a readStream of documents -> curation projection ->
    memory sink must equal the batch result row-for-row — the shape of
    a continuous ingest pipeline scoring documents as they land."""
    from dask_awkward_sandbox_spark.functions import quality_filters as qf
    from dask_awkward_sandbox_spark.functions import text_analysis as ta
    from dask_awkward_sandbox_spark.plans.common import read
    from dask_awkward_sandbox_spark.streaming.events import run_stream_to_memory

    path = os.path.join(SCRATCH, "docs_json")
    read(spark, SF, "documents").select("doc_id", "text").repartition(1).write.mode(
        "overwrite"
    ).json(path)

    def curate(df):
        return df.select(
            "doc_id",
            ta.token_count_ws(F.col("text")).alias("n_tokens"),
            ta.quality_score(F.col("text")).alias("quality"),
            qf.top_ngram_char_fraction(F.col("text"), 2).alias("top2_frac"),
            qf.pii_counts(F.col("text"))["emails"].alias("pii_emails"),
            qf.redact_pii(F.col("text")).alias("redacted"),
        )

    stream = spark.readStream.schema("doc_id long, text string").json(path)
    got = {
        r["doc_id"]: r
        for r in run_stream_to_memory(curate(stream), "curated_docs").collect()
    }
    exp = {
        r["doc_id"]: r
        for r in curate(spark.read.schema("doc_id long, text string").json(path)).collect()
    }
    assert len(got) == len(exp) > 0
    for k in exp:
        assert got[k] == exp[k]


def test_sessionize_stateful_rocksdb_state_store(spark):
    """Same stream==batch contract under the RocksDB state store —
    the provider a 100 TB streaming job runs (state spills to local
    disk instead of living on the JVM heap, so per-executor state is
    bounded by SSD, not memory). Built into Spark 4; flipping the
    provider must not change a single session boundary."""
    from dask_awkward_sandbox_spark.plans.common import read
    from dask_awkward_sandbox_spark.streaming.events import (
        JSON_TS_FORMAT,
        stream_events_from_dir,
    )

    sf = "/root/testdata/sf0.01"
    path = os.path.join(SCRATCH, "events_json_rocksdb")
    e = read(spark, sf, "events")
    e.repartition(1).write.mode("overwrite").option(
        "timestampFormat", JSON_TS_FORMAT
    ).json(path)

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = stream_events_from_dir(spark, path)
        got = _run_sessionizer(spark, stream, "sessions_rocksdb")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    want = _batch_sessions(spark, read(spark, sf, "events"))
    assert len(want) > 1000
    assert got == want


def test_sessionizer_agrees_with_native_session_window(spark):
    """Cross-validation against Spark's OWN gap-sessionization
    operator: per-user session counts and max session length from
    F.session_window (native, 30-min gap) must equal the
    q_events_sessionize window-function build — two independent
    in-engine implementations of the same semantics."""
    from dask_awkward_sandbox_spark.plans.common import read
    from dask_awkward_sandbox_spark.plans.events import q_events_sessionize

    ev = read(spark, SF, "events")
    native = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("c").alias("max_sess_len"),
        )
    )
    got = {
        r["user_id"]: (r["n_sessions"], r["max_sess_len"])
        for r in native.collect()
    }
    want = {
        r["user_id"]: (r["n_sessions"], r["max_sess_len"])
        for r in q_events_sessionize(spark, SF).collect()
    }
    assert got == want


def test_stream_ivf_append_matches_batch_index(spark, tmp_path):
    """Streaming IVF maintenance: an index built purely from streamed
    micro-batch appends must hold EXACTLY the rows of the
    batch-materialized index over the same corpus and frozen
    centroids (same list ids, vectors and norms), and the streamed
    read must partition-prune on list_id."""
    from dask_awkward_sandbox_spark.functions.similarity import (
        ivf_write_index,
        kmeans_train,
    )
    from dask_awkward_sandbox_spark.streaming import stream_ivf_append

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    centroids = kmeans_train(emb, "embedding", "vec_id", nlist=8, iters=3)

    batch_path = str(tmp_path / "ivf_batch")
    ivf_write_index(emb, batch_path, nlist=8, X=None)  # retrains identically
    # rebuild with the SAME frozen centroids for a fair compare
    from dask_awkward_sandbox_spark.functions.similarity import (
        as_double,
        assign_nearest_centroid,
        norm,
    )
    (
        emb.select(
            F.col("vec_id").alias("nb_id"),
            as_double(F.col("embedding")).alias("nb_vec"),
        )
        .withColumn("list_id", assign_nearest_centroid(F.col("nb_vec"), centroids))
        .withColumn("nb_norm", norm(F.col("nb_vec")))
        .write.partitionBy("list_id").mode("overwrite").parquet(batch_path)
    )

    # stream the same corpus in as parquet micro-batches
    src = str(tmp_path / "vec_stream_src")
    emb.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_path = str(tmp_path / "ivf_streamed")
    stream_ivf_append(
        stream, centroids, stream_path, str(tmp_path / "ckpt"),
    )

    streamed = spark.read.parquet(stream_path)
    assert streamed.count() == emb.count()
    assert streamed.select("batch_id").distinct().count() >= 2  # real micro-batches

    def index_rows(path):
        return sorted(
            (r["nb_id"], r["list_id"], tuple(r["nb_vec"]), r["nb_norm"])
            for r in spark.read.parquet(path).collect()
        )

    assert index_rows(stream_path) == index_rows(batch_path)

    # pruning: a list_id filter must reach PartitionFilters
    plan = (
        spark.read.parquet(stream_path)
        .filter(F.col("list_id") == 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "list_id" in plan.split("PartitionFilters")[1][:120]


def test_streaming_lm_scoring(spark):
    """LM-perplexity scoring composes with streaming the same way the
    other curation stages do: the model is FROZEN (trained batch-side,
    its tables are static broadcast sides), and scoring a micro-batch
    is a pure batch transform — run per batch via foreachBatch, so no
    streaming-aggregation state at all (each doc's pairs live inside
    its batch). Stream-scored results must equal batch scoring of the
    same corpus row-for-row."""
    from dask_awkward_sandbox_spark.functions import lm
    from dask_awkward_sandbox_spark.plans.common import read
    from dask_awkward_sandbox_spark.streaming.events import drive_batches

    import shutil

    src = os.path.join(SCRATCH, "lm_docs_json")
    sink = os.path.join(SCRATCH, "lm_scored")
    ckpt = os.path.join(SCRATCH, "lm_ckpt")
    for p in (sink, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    docs = read(spark, SF, "documents").select("doc_id", "text")
    docs.repartition(4).write.mode("overwrite").json(src)

    model = lm.lm_train(spark.read.schema("doc_id long, text string").json(src))
    stream = spark.readStream.schema("doc_id long, text string").json(src)

    def score_batch(batch_df, batch_id):
        lm.lm_score(batch_df, model).write.mode("append").parquet(sink)

    drive_batches(stream, score_batch, "lm_scoring", ckpt)
    got = {tuple(r) for r in spark.read.parquet(sink).collect()}
    exp = {
        tuple(r)
        for r in lm.lm_score(
            spark.read.schema("doc_id long, text string").json(src), model
        ).collect()
    }
    assert got == exp and len(got) > 100


def test_stream_curation_scores_idempotent_replay(spark, tmp_path):
    """stream_curation_scores (late r11): the scored sink must equal
    the batch projection row-for-row, record micro-batch attribution,
    and — the delivery contract — a full REPLAY from a fresh
    checkpoint (every batch re-delivered) must leave the sink
    unchanged via dynamic partition overwrite."""
    import time

    from dask_awkward_sandbox_spark.functions import text_analysis as ta
    from dask_awkward_sandbox_spark.plans.common import read
    from dask_awkward_sandbox_spark.streaming import stream_curation_scores

    in_path = str(tmp_path / "in")
    d = read(spark, SF, "documents").select("doc_id", "text")
    d.filter(F.col("doc_id") % 2 == 0).repartition(1).write.mode(
        "overwrite"
    ).json(in_path)
    time.sleep(1.2)  # file source orders by mtime: batch 2 second
    d.filter(F.col("doc_id") % 2 == 1).repartition(1).write.mode(
        "append"
    ).json(in_path)

    out = str(tmp_path / "out")

    def run(ckpt):
        stream_curation_scores(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(in_path),
            out_path=out,
            checkpoint=str(tmp_path / ckpt),
        )

    run("ckpt")
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    toks = ta.tokens(F.col("text"))
    exp = {
        r["doc_id"]: r
        for r in d.select(
            "doc_id",
            F.size(toks).cast("long").alias("n_ws"),
            ta.lang_id(F.col("text")).alias("pred_lang"),
            ta.quality_score(F.col("text")).alias("quality"),
            ta.fingerprint(F.col("text")).alias("fp"),
        ).collect()
    }
    assert len(got) == len(exp) > 0
    for k, e in exp.items():
        g = got[k]
        assert (g["n_ws"], g["pred_lang"], g["fp"]) == (
            e["n_ws"], e["pred_lang"], e["fp"],
        )
        assert g["quality"] == e["quality"]  # exact double
        # micro-batch attribution: evens arrived in batch 0, odds in 1
        assert g["batch_id"] == k % 2

    # replay from a fresh checkpoint: both batches re-delivered, the
    # batch_id-partitioned dynamic overwrite makes it a no-op
    run("ckpt_replay")
    again = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert len(again) == len(got)
    assert all(
        (again[k]["n_ws"], again[k]["fp"], again[k]["batch_id"])
        == (got[k]["n_ws"], got[k]["fp"], got[k]["batch_id"])
        for k in got
    )


def _stream_progress(spark, run) -> list:
    """Progress events of the streams that ``run()`` starts, after
    every one of them has reported its termination."""
    import threading
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    lock = threading.Lock()
    started, progress, ended = set(), [], set()

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            with lock:
                started.add(event.runId)

        def onQueryProgress(self, event):
            with lock:
                progress.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with lock:
                ended.add(event.runId)

    def all_ended() -> bool:
        with lock:
            return bool(started) and started <= ended

    listener = _Listener()
    spark.streams.addListener(listener)
    try:
        run()
        # listener delivery is asynchronous: wait for the termination
        # events, which the bus posts after each query's last progress
        deadline = time.monotonic() + 60
        while not all_ended() and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert all_ended(), "no termination event within 60 s"
    with lock:
        return [p for p in progress if p.runId in started]


def test_stream_state_instances_fit_task_slots(spark):
    """Each state-store instance commits at a fixed cost per
    micro-batch, so the streaming slots never run more instances than
    the session has task slots (and at most 16)."""
    from dask_awkward_sandbox_spark.plans.events import (
        STREAM_STATE_PARTITIONS,
        q_stream_sessionize,
    )

    progress = _stream_progress(spark, lambda: q_stream_sessionize(spark, SF).count())
    slots = spark.sparkContext.defaultParallelism
    ops = [
        op
        for p in progress
        if p.name == "q_stream_sessionize_sink"
        for op in p.stateOperators
    ]
    assert ops, "the sessionize stream reported no state operator"
    for op in ops:
        assert op.numStateStoreInstances <= slots
        assert op.numShufflePartitions == min(STREAM_STATE_PARTITIONS, slots)


def test_stream_dedup_streams_are_named(spark):
    """Every stream of q_stream_dedup carries a name, so a per-stream
    profile can tell the near-dup leg's batches from the curation
    leg's without relying on arrival order."""
    from dask_awkward_sandbox_spark.plans.events import q_stream_dedup

    progress = _stream_progress(spark, lambda: q_stream_dedup(spark, SF).count())
    names = [p.name for p in progress]
    assert names and all(names), names
    neardup = {n for n in names if n.startswith("stream_neardup_dedup_")}
    curation = {n for n in names if n.startswith("stream_curation_scores_")}
    assert neardup and curation
    assert neardup.isdisjoint(curation)
