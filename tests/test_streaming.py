"""Structured Streaming equivalence tests: every streaming job must
produce the same answer as its batch twin on the same data — the
batch/stream-unification contract the engine is built on.

The reference has no streaming at all (SURVEY.md §2.3); these tests
cover the Spark-native stream surface (readStream + watermark window
agg; applyInPandasWithState sessionization).
"""

from __future__ import annotations

from ds_mapreduce_spark.sources.catalog import load_table
from ds_mapreduce_spark.streaming.jobs import run_streaming_tumbling_window, windowed_counts
from ds_mapreduce_spark.streaming.sessionize import (
    run_streaming_sessionize,
    sessionize_batch,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_streaming_tumbling_window_matches_batch(spark, sf_dir):
    events_path = f"{sf_dir}/events.parquet"

    batch = windowed_counts(load_table(spark, sf_dir, "events"))
    stream = run_streaming_tumbling_window(spark, events_path, sink_table="t_stream_windows")

    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _rows(stream, cols) == _rows(batch, cols)
    assert stream.count() > 0


def test_streaming_sessionize_matches_batch(spark, sf_dir):
    """The stateful operator emits exactly the CLOSED sessions: every
    batch session except each user's final one (still open in the state
    store when the stream drains — a later batch may extend it)."""
    events_path = f"{sf_dir}/events.parquet"

    batch = sessionize_batch(load_table(spark, sf_dir, "events")).collect()
    last_sid = {}
    for r in batch:
        last_sid[r.user_id] = max(last_sid.get(r.user_id, 0), r.session_id)
    expected = sorted(
        (r.user_id, r.session_start, r.n_events, r.span_sec)
        for r in batch
        if r.session_id != last_sid[r.user_id]
    )

    stream = run_streaming_sessionize(spark, events_path, sink_table="t_stream_sessions")
    got = sorted(
        (r.user_id, r.session_start, r.n_events, r.span_sec) for r in stream.collect()
    )
    assert got == expected
    assert len(got) > 0  # the gap threshold actually splits sessions


def test_streaming_wordcount_matches_batch(spark, tmp_path):
    from ds_mapreduce_spark.streaming.jobs import run_streaming_wordcount

    p = tmp_path / "corpus.txt"
    p.write_text("a b a\nc b a")
    out = run_streaming_wordcount(spark, str(p), sink_table="t_stream_wc")
    got = {r.word: r.cnt for r in out.collect()}
    assert got == {"a": 3, "b": 2, "c": 1}


def test_streaming_attribution_join_matches_batch(spark, sf_dir):
    """Stream-stream interval join (purchases x preceding clicks within
    2h, per user) must equal the identical batch range join."""
    from ds_mapreduce_spark.streaming.jobs import attribution_join, run_streaming_attribution_join

    events_path = f"{sf_dir}/events.parquet"
    ev = load_table(spark, sf_dir, "events")
    batch = attribution_join(
        ev.where(ev.event_type == "click"), ev.where(ev.event_type == "purchase")
    )
    stream = run_streaming_attribution_join(spark, events_path, sink_table="t_stream_attrib")

    cols = ["user_id", "purchase_id", "click_id", "purchase_us", "click_us"]
    assert _rows(stream, cols) == _rows(batch, cols)
    assert stream.count() > 0


def test_foreach_batch_parquet_sink(spark, sf_dir, tmp_path):
    """The production sink pattern: foreachBatch lands each micro-batch
    in parquet partitioned by batch id — idempotent on retry (same
    batchId overwrites its own partition, exactly-once on top of
    at-least-once delivery). Result must equal the batch aggregation."""
    from ds_mapreduce_spark.streaming.jobs import windowed_counts

    events_path = f"{sf_dir}/events.parquet"
    out_dir = str(tmp_path / "sink")

    from pyspark.sql import functions as F

    # raw file schema (ts as INT64 nanos -> long under the legacy conf),
    # converted to timestamp after the streaming read — same as jobs.py
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(events_path).schema
    base, _, fname = events_path.rpartition("/")
    from ds_mapreduce_spark.sources.catalog import normalize_events_ts

    stream = normalize_events_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", fname)
        .parquet(base)
    )
    out = windowed_counts(stream)

    def sink(batch_df, batch_id: int):
        (
            batch_df.withColumn("__batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch")
            .parquet(out_dir)
        )

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()

    landed = spark.read.parquet(out_dir).drop("__batch")
    batch = windowed_counts(load_table(spark, sf_dir, "events"))
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _rows(landed, cols) == _rows(batch, cols)


def test_streaming_sessionize_across_microbatches(spark, sf_dir, tmp_path):
    """The state-merge path: events split into two time-ordered files
    processed as SEPARATE micro-batches (maxFilesPerTrigger=1). Open
    sessions must carry across the batch boundary and close correctly —
    emitted sessions equal the single-batch result."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    # split by event-time halves; file order = arrival order
    bounds = ev.agg(
        F.unix_micros(F.min("ts")).alias("lo"), F.unix_micros(F.max("ts")).alias("hi")
    ).collect()[0]
    mid = (bounds.lo + bounds.hi) // 2
    src = tmp_path / "src"
    first = ev.where(F.unix_micros("ts") <= mid)
    second = ev.where(F.unix_micros("ts") > mid)
    # two files, named so modification/listing order matches event time
    first.coalesce(1).write.parquet(str(src / "batch=0"))
    second.coalesce(1).write.parquet(str(src / "batch=1"))

    multi = run_streaming_sessionize(
        spark,
        str(src),
        schema=first.schema,
        sink_table="t_sessions_multi",
        reader_options={"maxFilesPerTrigger": "1", "recursiveFileLookup": "true"},
    )
    single = run_streaming_sessionize(
        spark, f"{sf_dir}/events.parquet", sink_table="t_sessions_single"
    )
    cols = ["user_id", "session_start", "n_events", "span_sec"]
    assert _rows(multi, cols) == _rows(single, cols)
    assert multi.count() > 0


def test_streaming_dedup_keeps_one_per_key(spark, tmp_path):
    """dropDuplicates on a stream: exactly one surviving row per key,
    and the survivor set equals the batch distinct."""
    from ds_mapreduce_spark.streaming.jobs import run_streaming_dedup

    src = str(tmp_path / "src")
    rows = [(k, i, f"text-{k}") for i, k in enumerate([1, 2, 1, 3, 2, 1, 4])]
    df = spark.createDataFrame(rows, "doc_key bigint, seq bigint, text string")
    df.coalesce(1).write.mode("overwrite").parquet(src)

    out = run_streaming_dedup(
        spark, src, df.schema, ["doc_key"], sink_table="t_stream_dedup"
    )
    keys = sorted(r.doc_key for r in out.collect())
    assert keys == [1, 2, 3, 4]


def test_batch_sessionization_covers_all_events(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    sessions = sessionize_batch(ev)
    agg = sessions.groupBy().sum("n_events").collect()[0][0]
    assert agg == ev.count()


def test_streaming_cdc_merge_matches_batch(spark, sf_dir, tmp_path):
    """The micro-batched foreachBatch merge must converge to exactly the
    batch query's latest-wins state, however the feed is chunked: orders
    are split into 3 files (3 micro-batches via maxFilesPerTrigger=1)."""
    from ds_mapreduce_spark.operators.relational import (
        cdc_change_rows,
        latest_wins_merge,
    )
    from ds_mapreduce_spark.streaming.jobs import run_streaming_cdc_merge

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    feed_dir = str(tmp_path / "orders_feed")
    orders.repartition(3).write.parquet(feed_dir)

    streamed = run_streaming_cdc_merge(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    batch = latest_wins_merge(cdc_change_rows(orders), ["o_orderkey"], "version")

    key = lambda r: r["o_orderkey"]
    srows = sorted(map(tuple, streamed.collect()), key=lambda t: t[0])
    brows = sorted(map(tuple, batch.collect()), key=lambda t: t[0])
    assert srows == brows
    assert len(srows) == orders.count()


def test_streaming_pii_scrub_matches_batch(spark, sf_dir):
    """The stateless scrub must emit exactly the batch transformation's
    rows (same injection, same redaction, same counts) when run as an
    append-mode stream."""
    from ds_mapreduce_spark.plans.text_queries import pii_scrub_rows
    from ds_mapreduce_spark.streaming.jobs import run_streaming_pii_scrub

    streamed = run_streaming_pii_scrub(spark, f"{sf_dir}/documents.parquet")
    batch = pii_scrub_rows(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    srows = sorted(map(tuple, streamed.collect()))
    brows = sorted(map(tuple, batch.collect()))
    assert srows == brows and len(srows) > 0


def test_streaming_incremental_dedup_kept_set_is_chunking_invariant(spark, tmp_path):
    """The kept set (one owner per hash) must equal the one-shot batch
    classification however the feed is micro-batched, given id-ordered
    arrival. Constructed dups cover all three verdicts, including a
    pair SPLIT ACROSS micro-batches (classified dup_of_history by the
    stream, dup_in_batch by the one-shot — same keeper either way)."""
    from ds_mapreduce_spark.operators.dedup import incremental_dedup
    from ds_mapreduce_spark.streaming.jobs import run_streaming_incremental_dedup

    history = spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma")], "doc_id long, text string"
    )
    batch_rows = [
        (10, "alpha  beta"),   # chunk 0: dup of history
        (11, "delta one"),     # chunk 0: new
        (12, "epsilon"),       # chunk 1: new, owns the hash
        (13, "epsilon "),      # chunk 1: dup of 12 in the SAME micro-batch
        (24, "epsilon"),       # chunk 2: dup of 12 from an EARLIER micro-batch
        (25, "zeta"),          # chunk 2: new
    ]
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    feed_dir = str(tmp_path / "feed")
    # three sequential single-file appends → strictly increasing mtimes,
    # so FileStreamSource consumes the chunks in id order (the arrival
    # order the kept-set invariant assumes)
    for chunk in (batch_rows[:2], batch_rows[2:4], batch_rows[4:]):
        (
            spark.createDataFrame(chunk, "doc_id long, text string")
            .coalesce(1)
            .write.mode("append")
            .parquet(feed_dir)
        )

    streamed = run_streaming_incremental_dedup(
        spark, feed_dir, history, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    srows = {r["doc_id"]: r["verdict"] for r in streamed.collect()}
    brows = {
        r["doc_id"]: r["verdict"]
        for r in incremental_dedup(history, batch).collect()
    }
    assert set(srows) == set(brows) == {10, 11, 12, 13, 24, 25}
    # kept sets agree exactly
    s_new = {d for d, v in srows.items() if v == "new"}
    b_new = {d for d, v in brows.items() if v == "new"}
    assert s_new == b_new == {11, 12, 25}
    # the split pair differs only in dup *label*, never in keeper
    assert brows[24] == "dup_in_batch"
    assert srows[24] == "dup_of_history"
    assert srows[10] == brows[10] == "dup_of_history"
    assert srows[13] == brows[13] == "dup_in_batch"


def test_streaming_native_session_window_matches_batch(spark, sf_dir):
    """Native session_window stream (append + watermark) must emit exactly
    the batch sessions whose close is final at the drained watermark —
    i.e. all batch sessions except those still extendable within the 2h
    watermark of max event time."""
    from ds_mapreduce_spark.streaming.jobs import (
        run_streaming_session_window,
        session_window_agg,
    )
    from pyspark.sql import functions as F
    from ds_mapreduce_spark.functions.temporal import epoch_sec

    events_path = f"{sf_dir}/events.parquet"
    ev = load_table(spark, sf_dir, "events")
    batch = session_window_agg(ev)
    wm_cutoff = ev.agg((F.max(epoch_sec("ts")) - 2 * 3600).alias("c")).collect()[0].c
    closed = batch.where(F.col("session_end") <= F.lit(wm_cutoff))

    stream = run_streaming_session_window(
        spark, events_path, sink_table="t_stream_native_sessions"
    )
    cols = ["user_id", "session_start", "session_end", "n_events", "sum_value"]
    assert _rows(stream, cols) == _rows(closed, cols)
    assert stream.count() > 0


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data semantics pinned explicitly. Spark's contract is
    one-sided: in-watermark data is NEVER dropped; too-late data is
    dropped only once the window's state has been EVICTED (a late row
    arriving in the same batch as the eviction still merges). So the
    guaranteed-drop shape needs three micro-batches: (0) advance the
    watermark past the first window, (1) a fresh event — end of this
    batch evicts+emits the first window, (2) the too-late re-arrival —
    its window is gone and its event time is behind the watermark, so
    it must be dropped, never re-emitting the window."""
    import time as _time

    from pyspark.sql import functions as F

    from ds_mapreduce_spark.streaming.jobs import windowed_counts

    base = 1_700_000_000
    src = tmp_path / "late_src"

    def write(rows):
        df = spark.createDataFrame(rows, "event_id long, sec long").select(
            "event_id",
            F.timestamp_seconds("sec").alias("ts"),
            F.lit("click").alias("event_type"),
            F.lit(1.0).alias("value"),
        )
        df.coalesce(1).write.mode("append").parquet(str(src))

    # sequential appends with distinct mtimes → FileStreamSource consumes
    # the files in arrival order, one per micro-batch
    write([(1, base), (2, base + 3600 * 5)])  # wm after this: +5h - 2h
    _time.sleep(1.1)
    write([(3, base + 3600 * 5 + 1)])  # evicts+emits the base-hour window
    _time.sleep(1.1)
    write([(4, base + 1)])  # too late: window evicted, ts < watermark

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = windowed_counts(stream)  # 1h tumbling, 2h watermark
    q = (
        out.writeStream.format("memory")
        .queryName("t_late_drop")
        .outputMode("append")  # append emits only FINALIZED windows
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = [
        (r.window_start, r.n_events) for r in spark.table("t_late_drop").collect()
    ]
    # exactly one emission of the base-hour window, counting ONLY event 1:
    # the too-late event 4 was dropped and never resurrected the window;
    # events 2/3's window is newer than the final watermark and stays in
    # state (append mode emits nothing for it when the stream drains)
    assert emitted == [(base - base % 3600, 1)]


def test_streaming_shard_plan_matches_batch(spark, sf_dir, tmp_path):
    """Ingest-time shard planning must converge to the one-shot batch
    manifest when arrival chunks respect the global md5 order: docs are
    sorted by the plan's key, split into 3 sequential micro-batches, and
    the per-shard census must equal corpus_shard_plan's exactly."""
    import time as _time

    from pyspark.sql import functions as F

    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.streaming.jobs import run_streaming_shard_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", F.md5(F.col("doc_id").cast("string")).alias("__k")
    )
    ordered = docs.orderBy("__k", "doc_id").drop("__k").collect()
    feed = str(tmp_path / "feed")
    third = (len(ordered) + 2) // 3
    for i in range(3):
        chunk = ordered[i * third : (i + 1) * third]
        if chunk:
            spark.createDataFrame(chunk).coalesce(1).write.mode("append").parquet(feed)
            _time.sleep(1.1)

    streamed = run_streaming_shard_plan(
        spark, feed, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    s_census = sorted(
        map(
            tuple,
            streamed.groupBy("shard_id")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tok").cast("bigint").alias("shard_tokens"),
                F.sum("doc_id").cast("bigint").alias("id_checksum"),
            )
            .collect(),
        )
    )
    batch = load_all()["corpus_shard_plan"].fn(spark, sf_dir)
    b_census = sorted(map(tuple, batch.collect()))
    assert s_census == b_census
    assert len(s_census) > 1  # multiple shards actually produced


def test_streaming_mv_maintenance_matches_batch(spark, sf_dir, tmp_path):
    """The micro-batched MV merge must converge to exactly the batch
    query's aggregate, however the feed is chunked: orders split into 4
    files (4 micro-batches via maxFilesPerTrigger=1), partials merged
    through the versioned state chain."""
    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.streaming.jobs import run_streaming_mv_maintenance

    batch = load_all()["incremental_agg_maintenance"].fn(spark, sf_dir)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    feed_dir = str(tmp_path / "orders_feed")
    orders.repartition(4).write.parquet(feed_dir)

    streamed = run_streaming_mv_maintenance(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    srows = sorted(map(tuple, streamed.collect()))
    brows = sorted(map(tuple, batch.collect()))
    assert srows == brows


def test_streaming_scd2_matches_batch_with_late_data(spark, sf_dir, tmp_path):
    """The micro-batched SCD2 maintenance must converge to exactly the
    batch versioning, however the feed is chunked — INCLUDING when a
    later micro-batch delivers earlier-instant changes. Events are split
    into 3 files by a hash that interleaves time, so every batch after
    the first carries late data that must re-version history, not
    append to it."""
    from ds_mapreduce_spark.operators.relational import (
        purchase_change_rows,
        scd2_versions,
    )
    from ds_mapreduce_spark.streaming.jobs import run_streaming_scd2

    ev = load_table(spark, sf_dir, "events")
    feed_dir = str(tmp_path / "events_feed")
    # event_id % 3 interleaves timestamps across files — out-of-order
    # delivery by construction (file order != time order)
    from pyspark.sql import functions as F

    ev.withColumn("__f", F.col("event_id") % 3).repartition(3, "__f").drop(
        "__f"
    ).write.parquet(feed_dir)

    streamed = run_streaming_scd2(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    batch = scd2_versions(purchase_change_rows(ev), "user_id", "s", "cents")

    srows = sorted(map(tuple, streamed.collect()))
    brows = sorted(map(tuple, batch.collect()))
    assert srows == brows
    assert len(srows) > 0


def test_streaming_hourly_resample_matches_batch_with_late_data(
    spark, sf_dir, tmp_path
):
    """The micro-batched rollup maintenance must converge to exactly the
    batch resample, however the feed is chunked — INCLUDING when a later
    micro-batch delivers events for hours already forward-filled (the
    event_id % 3 split interleaves time, so every batch after the first
    carries late data that must adjust earlier hours' partials and
    re-derive the fill, not append)."""
    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.streaming.jobs import run_streaming_hourly_resample

    ev = load_table(spark, sf_dir, "events")
    feed_dir = str(tmp_path / "events_feed")
    from pyspark.sql import functions as F

    ev.withColumn("__f", F.col("event_id") % 3).repartition(3, "__f").drop(
        "__f"
    ).write.parquet(feed_dir)

    streamed = run_streaming_hourly_resample(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    batch = load_all()["events_hourly_resample"].fn(spark, sf_dir)

    srows = sorted(map(tuple, streamed.collect()))
    brows = sorted(map(tuple, batch.collect()))
    assert srows == brows
    assert len(srows) > 0


def test_streaming_heavy_hitters_matches_batch(spark, sf_dir, tmp_path):
    """The micro-batched per-key count merge must converge to exactly
    the batch heavy-hitter profile, however the feed is chunked: events
    split into 4 files (4 micro-batches via maxFilesPerTrigger=1), the
    same keycount partial/merge/present as the batch query."""
    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.sources.catalog import load_table
    from ds_mapreduce_spark.streaming.jobs import run_streaming_heavy_hitters

    batch = load_all()["events_heavy_hitter_profile"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    feed_dir = str(tmp_path / "events_feed")
    ev.repartition(4).write.parquet(feed_dir)

    streamed = run_streaming_heavy_hitters(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    srows = sorted(map(tuple, streamed.collect()))
    brows = sorted(map(tuple, batch.collect()))
    assert srows == brows


def test_streaming_heavy_hitters_resume_and_empty_feed(spark, sf_dir, tmp_path):
    """ADVICE r6: a run in which foreachBatch never fires must not read
    nonexistent v-1 state. Two such runs exist: an availableNow RESUME
    with nothing new (answer = landed state) and a genuinely empty feed
    with no prior state (answer = empty result, correct schema)."""
    from ds_mapreduce_spark.sources.catalog import load_table
    from ds_mapreduce_spark.streaming.jobs import run_streaming_heavy_hitters

    ev = load_table(spark, sf_dir, "events")
    feed_dir = str(tmp_path / "events_feed")
    ev.repartition(2).write.parquet(feed_dir)

    first = run_streaming_heavy_hitters(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    r1 = sorted(map(tuple, first.collect()))
    assert r1  # the normal run produced rows

    # resume: same checkpoint, nothing new -> no batch fires; must
    # return the landed state, not crash on v-1
    resumed = run_streaming_heavy_hitters(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    assert sorted(map(tuple, resumed.collect())) == r1

    # same spent checkpoint against a FRESH state dir: no batch fires
    # and nothing is landed -> empty result with the contract schema
    empty = run_streaming_heavy_hitters(
        spark, feed_dir, str(tmp_path / "state_fresh"), str(tmp_path / "ckpt")
    )
    assert empty.columns == first.columns
    assert empty.count() == 0


def test_versioned_state_jobs_survive_no_batch_run(spark, sf_dir, tmp_path):
    """Every versioned-state foreachBatch sibling shares the v-1 latent
    edge (ADVICE r6): drive each through a spent checkpoint + fresh
    state dir (no micro-batch fires, no landed state) and require an
    empty result with the normal run's schema."""
    from ds_mapreduce_spark.operators.similarity import lloyd_seed_centroids
    from ds_mapreduce_spark.sources.catalog import load_table
    from ds_mapreduce_spark.streaming import jobs as J

    ev = load_table(spark, sf_dir, "events")
    ev_dir = str(tmp_path / "ev_feed")
    ev.limit(2000).repartition(2).write.parquet(ev_dir)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ord_dir = str(tmp_path / "ord_feed")
    orders.limit(500).repartition(2).write.parquet(ord_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    doc_dir = str(tmp_path / "doc_feed")
    docs.limit(50).repartition(2).write.parquet(doc_dir)
    history = docs.limit(10)
    emb_dir = str(tmp_path / "emb_feed")
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60).repartition(
        2
    ).write.parquet(emb_dir)

    cases = {
        "cdc": lambda state, ckpt: J.run_streaming_cdc_merge(
            spark, ord_dir, state, ckpt
        ),
        "mv": lambda state, ckpt: J.run_streaming_mv_maintenance(
            spark, ord_dir, state, ckpt
        ),
        "scd2": lambda state, ckpt: J.run_streaming_scd2(
            spark, ev_dir, state, ckpt
        ),
        "resample": lambda state, ckpt: J.run_streaming_hourly_resample(
            spark, ev_dir, state, ckpt
        ),
        "incdedup": lambda state, ckpt: J.run_streaming_incremental_dedup(
            spark, doc_dir, history, state, ckpt
        ),
        "shard": lambda state, ckpt: J.run_streaming_shard_plan(
            spark, doc_dir, state, ckpt
        ),
        "robust": lambda state, ckpt: J.run_streaming_robust_outliers(
            spark, ev_dir, state, ckpt
        ),
        "cms": lambda state, ckpt: J.run_streaming_cms_sketch(
            spark, ev_dir, state, ckpt
        ),
        "qsketch": lambda state, ckpt: J.run_streaming_quantile_sketch(
            spark, ev_dir, state, ckpt
        ),
        "hll": lambda state, ckpt: J.run_streaming_hll_rollup(
            spark, ord_dir, state, ckpt
        ),
        "prio": lambda state, ckpt: J.run_streaming_priority_sample(
            spark, doc_dir, state, ckpt
        ),
        "minhash": lambda state, ckpt: J.run_streaming_minhash_lsh(
            spark, doc_dir, state, ckpt
        ),
        "cc": lambda state, ckpt: J.run_streaming_connected_components(
            spark, doc_dir, state, ckpt
        ),
        "ingest": lambda state, ckpt: J.run_streaming_ingest_manifest(
            spark, doc_dir, state, ckpt
        ),
        "dsir": lambda state, ckpt: J.run_streaming_dsir_selection(
            spark, doc_dir, state, ckpt
        ),
        "pca": lambda state, ckpt: J.run_streaming_pca_gramian(
            spark, emb_dir, state, ckpt
        ),
        "ivf": lambda state, ckpt: J.run_streaming_ivf_index(
            spark,
            emb_dir,
            spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
                "vec_id < 16"
            ),
            state,
            ckpt,
        ),
        "kmeans": lambda state, ckpt: J.run_streaming_kmeans_centroids(
            spark,
            emb_dir,
            lloyd_seed_centroids(
                spark.read.parquet(f"{sf_dir}/embeddings.parquet"), k=8
            ),
            state,
            ckpt,
        ),
        "pmi": lambda state, ckpt: J.run_streaming_pmi_counts(
            spark, doc_dir, state, ckpt
        ),
        "winnow": lambda state, ckpt: J.run_streaming_winnow_screen(
            spark, doc_dir, state, ckpt
        ),
    }
    for name, run in cases.items():
        normal = run(str(tmp_path / f"{name}_s1"), str(tmp_path / f"{name}_c"))
        cols = normal.columns
        # reuse the spent checkpoint with an untouched state dir
        empty = run(str(tmp_path / f"{name}_s2"), str(tmp_path / f"{name}_c"))
        assert empty.columns == cols, name
        assert empty.count() == 0, name


def _crash_last_batch(state_dir: str, ckpt_dir: str, logs: tuple[str, ...] = ()) -> int:
    """Undo the last micro-batch N as a crash between its state write
    and its commit would: drop ``commits/N`` (and its checksum), then
    strip the data files and ``_SUCCESS`` markers from ``v{N}`` and
    each ``{log}_v{N}``. Returns N."""
    import glob
    import os

    commits = os.path.join(ckpt_dir, "commits")
    n = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(n)))
    crc = os.path.join(commits, f".{n}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    for d in (f"v{n}", *(f"{log}_v{n}" for log in logs)):
        root = os.path.join(state_dir, d)
        for pat in ("part-*", "_SUCCESS"):
            for f in glob.glob(os.path.join(root, "**", pat), recursive=True):
                os.remove(f)
    return n


def test_versioned_state_replays_an_uncommitted_batch(spark, sf_dir, tmp_path):
    """At-least-once replay: when the last micro-batch's version is
    half-written and its commit is missing, a rerun on the same
    checkpoint replays that batch id, rewrites the version from its
    predecessor and returns the uninterrupted answer. One twin per
    state layout: a one-table state (``v{n}``), a multi-table state
    (``v{n}/{table}``) and a seeded state with a per-batch log
    (``v-1`` + ``manifest_v{n}``)."""
    from ds_mapreduce_spark.sources.catalog import load_table
    from ds_mapreduce_spark.streaming import jobs as J

    ev_dir = str(tmp_path / "ev_feed")
    load_table(spark, sf_dir, "events").repartition(3).write.parquet(ev_dir)
    doc_dir = str(tmp_path / "doc_feed")
    spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(3).write.parquet(
        doc_dir
    )

    for name, run, feed, logs in (
        ("hh", J.run_streaming_heavy_hitters, ev_dir, ()),
        ("cms", J.run_streaming_cms_sketch, ev_dir, ()),
        ("ingest", J.run_streaming_ingest_manifest, doc_dir, ("manifest",)),
    ):
        state, ckpt = str(tmp_path / f"{name}_s"), str(tmp_path / f"{name}_c")
        whole = sorted(map(tuple, run(spark, feed, state, ckpt).collect()))
        assert whole, name
        assert _crash_last_batch(state, ckpt, logs) == 2, name
        replayed = sorted(map(tuple, run(spark, feed, state, ckpt).collect()))
        assert replayed == whole, name


def test_log_twins_ignore_versions_above_the_last_batch(spark, sf_dir, tmp_path):
    """A log twin's answer is the union of log versions up to the last
    batch THIS run fired: a fresh checkpoint over a state dir a longer
    previous run left behind must not return that run's higher
    versions (here v1..v3 from a 4-file run under a 1-file rerun)."""
    from ds_mapreduce_spark.operators.bpe import _train_vocab
    from ds_mapreduce_spark.plans.text_queries import _BPE_PATTERN
    from ds_mapreduce_spark.streaming import jobs as J

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").orderBy("doc_id")
    long_feed, short_feed = str(tmp_path / "long"), str(tmp_path / "short")
    docs.limit(80).repartition(4).write.parquet(long_feed)
    docs.limit(20).coalesce(1).write.parquet(short_feed)
    _, rules = _train_vocab(docs.limit(80), _BPE_PATTERN, 3)

    for name, run in (
        ("bpe", lambda *a: J.run_streaming_bpe_encode(spark, a[0], rules, *a[1:])),
        ("media", lambda *a: J.run_streaming_media_features(spark, *a)),
    ):
        state = str(tmp_path / f"{name}_s")
        run(long_feed, state, str(tmp_path / f"{name}_c1"))
        rerun = run(short_feed, state, str(tmp_path / f"{name}_c2"))
        alone = run(short_feed, str(tmp_path / f"{name}_fresh"), str(tmp_path / f"{name}_c3"))
        cols = sorted(alone.columns)
        assert rerun.count() == 20, name
        assert _rows(rerun, cols) == _rows(alone, cols), name


def test_streaming_priority_sample_matches_batch(spark, sf_dir, tmp_path):
    """A constant-size (k=50) landed top-by-priority state, re-taken
    per batch from (landed u batch top-k), must reproduce the batch
    weighted_priority_sample EXACTLY under any chunking — priorities
    are deterministic md5 scores of the row and top_k is mergeable.
    The feed is md5-shuffled so high-priority docs land in different
    micro-batches."""
    from pyspark.sql import functions as F

    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.streaming.jobs import run_streaming_priority_sample

    batch = load_all()["weighted_priority_sample"].fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feed_dir = str(tmp_path / "docs_feed")
    docs.orderBy(F.md5(F.col("doc_id").cast("string"))).repartition(
        4
    ).write.parquet(feed_dir)

    streamed = run_streaming_priority_sample(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_streaming_hll_rollup_matches_batch(spark, sf_dir, tmp_path):
    """The micro-batched HLL sketch-store merge must reproduce the
    batch approx_distinct_rollup EXACTLY — including the
    union-consistency and error-bound booleans, which only hold if the
    unioned per-batch sketches estimate identically to the one-pass
    sketches (Datasketches registers merge by per-register MAX, so the
    union is chunking-invariant): orders split into 4 files
    (4 micro-batches via maxFilesPerTrigger=1)."""
    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.streaming.jobs import run_streaming_hll_rollup

    batch = load_all()["approx_distinct_rollup"].fn(spark, sf_dir)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    feed_dir = str(tmp_path / "orders_feed")
    orders.repartition(4).write.parquet(feed_dir)

    streamed = run_streaming_hll_rollup(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    srows = sorted(map(tuple, streamed.collect()))
    brows = sorted(map(tuple, batch.collect()))
    assert srows == brows
    assert len(srows) > 0
    # the booleans are live assertions, not vacuous constants
    assert all(r[-1] and r[-2] for r in srows)


def test_streaming_cms_sketch_matches_batch(spark, sf_dir, tmp_path):
    """The micro-batched Count-Min merge must land a sketch
    BIT-IDENTICAL to the one-pass batch sketch (elementwise counter
    addition is associative — the mergeable-summary property), and the
    estimates derived from landed state through the shared probe tail
    must equal the batch query exactly: events split into 4 files
    (4 micro-batches via maxFilesPerTrigger=1)."""
    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.plans.stream_queries import cms_counters
    from ds_mapreduce_spark.sources.catalog import load_table
    from ds_mapreduce_spark.streaming.jobs import (
        existing_state_versions,
        run_streaming_cms_sketch,
    )

    batch = load_all()["cms_heavy_hitter_estimates"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    feed_dir = str(tmp_path / "events_feed")
    ev.repartition(4).write.parquet(feed_dir)

    state_dir = str(tmp_path / "state")
    streamed = run_streaming_cms_sketch(
        spark, feed_dir, state_dir, str(tmp_path / "ckpt")
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )

    # the landed counter table IS the one-pass sketch, counter for
    # counter — not just "close": merged partials are bit-identical
    final = existing_state_versions(spark, state_dir)[-1]
    landed = spark.read.parquet(f"{state_dir}/v{final}/sketch")
    onepass = cms_counters(ev, depth=4, width=256)
    assert sorted(map(tuple, landed.collect())) == sorted(
        map(tuple, onepass.collect())
    )


def test_streaming_quantile_sketch_matches_batch(spark, sf_dir, tmp_path):
    """The micro-batched log-bucket quantile sketch must land a counter
    table BIT-IDENTICAL to the one-pass batch sketch (elementwise
    addition is associative — the deterministic-mergeable property the
    bucket design was chosen for over KLL/t-digest), and the estimates
    derived from landed state through the shared tail must equal the
    batch query exactly: events split into 4 micro-batches."""
    from ds_mapreduce_spark.operators.sketch import qsketch_counters
    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.sources.catalog import load_table
    from ds_mapreduce_spark.streaming.jobs import (
        existing_state_versions,
        run_streaming_quantile_sketch,
    )

    batch = load_all()["quantile_sketch_estimates"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    feed_dir = str(tmp_path / "events_feed")
    ev.repartition(4).write.parquet(feed_dir)

    state_dir = str(tmp_path / "state")
    streamed = run_streaming_quantile_sketch(
        spark, feed_dir, state_dir, str(tmp_path / "ckpt")
    )
    assert streamed.columns == batch.columns
    srows = sorted(map(tuple, streamed.collect()))
    assert srows == sorted(map(tuple, batch.collect()))
    assert srows and all(r[-1] == 1 for r in srows)  # in_bounds everywhere

    # the landed counter table IS the one-pass sketch, bucket for
    # bucket — not just "close": merged partials are bit-identical
    final = existing_state_versions(spark, state_dir)[-1]
    landed = spark.read.parquet(f"{state_dir}/v{final}/sketch")
    onepass = qsketch_counters(ev)
    assert sorted(map(tuple, landed.collect())) == sorted(
        map(tuple, onepass.collect())
    )


def test_streaming_bm25_index_matches_batch(spark, sf_dir, tmp_path):
    """The maintained inverted index (postings/dl/dfreq/stats as
    associative versioned state) must reproduce the batch bm25_search
    top-20 EXACTLY under a chunked, arrival-order-shuffled feed: docs
    land in 4 micro-batches ordered by md5 (so doc_ids — including the
    needle-source min doc — arrive scattered and 'late'), and the
    query-time scorer runs off state only, never the corpus."""
    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.streaming.jobs import run_streaming_bm25_index

    batch = load_all()["bm25_search"].fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feed_dir = str(tmp_path / "docs_feed")
    # md5-ordered round-robin chunks: every batch holds a scatter of
    # doc_ids, the min doc arrives in whichever chunk its hash lands
    from pyspark.sql import functions as F
    docs.orderBy(F.md5(F.col("doc_id").cast("string"))).repartition(4).write.parquet(
        feed_dir
    )

    streamed = run_streaming_bm25_index(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    srows = sorted(map(tuple, streamed.collect()))
    brows = sorted(map(tuple, batch.collect()))
    assert streamed.columns == batch.columns
    assert srows == brows
    assert len(srows) == 20


def test_streaming_bm25_index_resume_and_empty_feed(spark, sf_dir, tmp_path):
    """The search twin shares the versioned-state v-1 edge (ADVICE r6):
    resume-with-nothing-new returns the landed index's answer; a spent
    checkpoint against a fresh state dir returns an empty result with
    the contract schema."""
    from ds_mapreduce_spark.streaming.jobs import run_streaming_bm25_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feed_dir = str(tmp_path / "docs_feed")
    docs.repartition(2).write.parquet(feed_dir)

    first = run_streaming_bm25_index(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    r1 = sorted(map(tuple, first.collect()))
    assert r1

    resumed = run_streaming_bm25_index(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    assert sorted(map(tuple, resumed.collect())) == r1

    empty = run_streaming_bm25_index(
        spark, feed_dir, str(tmp_path / "state_fresh"), str(tmp_path / "ckpt")
    )
    assert empty.columns == first.columns
    assert empty.count() == 0


def test_streaming_robust_outliers_matches_batch(spark, sf_dir, tmp_path):
    """The per-(user, cents) count table is an associative sufficient
    statistic: merged across 4 arrival-shuffled micro-batches, the
    derived exact median/MAD census must equal the batch query
    bit-for-bit (the exact-causal design chosen over a lossy sketch —
    operators/robust.py)."""
    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.sources.catalog import load_table
    from ds_mapreduce_spark.streaming.jobs import run_streaming_robust_outliers

    batch = load_all()["events_robust_outliers"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    feed_dir = str(tmp_path / "events_feed")
    from pyspark.sql import functions as F
    ev.orderBy(F.md5(F.col("event_id").cast("string"))).repartition(4).write.parquet(
        feed_dir
    )

    streamed = run_streaming_robust_outliers(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    assert streamed.columns == batch.columns
    srows = sorted(map(tuple, streamed.collect()))
    brows = sorted(map(tuple, batch.collect()))
    assert srows == brows
    assert len(srows) > 0


def test_streaming_minhash_lsh_matches_batch(spark, sf_dir, tmp_path):
    """LSH-at-ingest: probing each micro-batch against the accumulated
    band index and unioning the per-batch pair discoveries must equal
    the one-shot batch dedup_minhash_lsh pair set exactly, however the
    feed is chunked (a pair is found when its later member arrives)."""
    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.streaming.jobs import run_streaming_minhash_lsh

    batch = load_all()["dedup_minhash_lsh"].fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feed_dir = str(tmp_path / "docs_feed")
    from pyspark.sql import functions as F
    docs.orderBy(F.md5(F.col("doc_id").cast("string"))).repartition(4).write.parquet(
        feed_dir
    )

    streamed = run_streaming_minhash_lsh(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    srows = sorted(map(tuple, streamed.select("doc_a", "doc_b").collect()))
    brows = sorted(map(tuple, batch.select("doc_a", "doc_b").collect()))
    assert srows == brows
    assert len(srows) > 0


def test_streaming_connected_components_matches_batch(spark, sf_dir, tmp_path):
    """Incremental cluster maintenance: folding each batch's verified
    edges into the landed partition component-locally (touched
    components re-solve from their star edges + the new edges,
    untouched labels pass through) must converge to EXACTLY the batch
    dedup_connected_components labels, however the feed is chunked —
    CC(star(CC(E1)) u E2) = CC(E1 u E2) and comp = min doc_id is
    canonical, so label values (not just the partition) must match.
    The feed is md5-shuffled so related docs land in different
    micro-batches (cross-batch edges exercise the landed-index probe
    and the star-edge re-entry, not just within-batch pairs)."""
    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.streaming.jobs import (
        run_streaming_connected_components,
    )

    from pyspark.sql import functions as F

    batch = load_all()["dedup_connected_components"].fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feed_dir = str(tmp_path / "docs_feed")
    docs.orderBy(F.md5(F.col("doc_id").cast("string"))).repartition(4).write.parquet(
        feed_dir
    )

    streamed = run_streaming_connected_components(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    srows = sorted(map(tuple, streamed.collect()))
    brows = sorted(map(tuple, batch.collect()))
    assert srows == brows
    assert len(srows) > 0
    # the partition is non-trivial: at least one multi-doc cluster
    assert len({c for _, c in srows}) < len(srows)


def test_streaming_pmi_counts_matches_batch(spark, sf_dir, tmp_path):
    """Collocation-statistics maintenance: merging per-batch unigram/
    bigram count partials and recomputing the PMI top-k from the
    merged state must equal the one-shot registered query EXACTLY —
    including pairs whose support accumulates ACROSS batches (the
    floor applies to merged counts, never partials), which the
    md5-shuffled 4-file feed exercises."""
    from pyspark.sql import functions as F

    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.streaming.jobs import run_streaming_pmi_counts

    batch = load_all()["collocation_pmi_topk"].fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feed_dir = str(tmp_path / "docs_feed")
    docs.orderBy(F.md5(F.col("doc_id").cast("string"))).repartition(4).write.parquet(
        feed_dir
    )

    streamed = run_streaming_pmi_counts(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    srows = sorted(map(tuple, streamed.collect()))
    brows = sorted(map(tuple, batch.collect()))
    assert srows == brows
    assert len(srows) > 0


def test_streaming_winnow_screen_matches_batch(spark, sf_dir, tmp_path):
    """Winnowing prescreen at ingest: probing each micro-batch's
    fingerprints against the accumulated index — with a collision
    retro-flagging the landed member — must reproduce the one-shot
    batch screen (`winnow_flagged_docs`, the registered eval row's
    flagged CTE) EXACTLY, however the feed is chunked: a doc is
    flagged when the LATER member of its first colliding pair
    arrives."""
    from pyspark.sql import functions as F

    from ds_mapreduce_spark.operators.dedup import winnow_flagged_docs
    from ds_mapreduce_spark.streaming.jobs import run_streaming_winnow_screen

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = winnow_flagged_docs(docs, L=20, k=3)
    feed_dir = str(tmp_path / "docs_feed")
    # md5-shuffled 4-file feed: colliding docs land in different batches
    docs.orderBy(F.md5(F.col("doc_id").cast("string"))).repartition(4).write.parquet(
        feed_dir
    )

    streamed = run_streaming_winnow_screen(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    srows = sorted(r.doc_id for r in streamed.collect())
    brows = sorted(r.doc_id for r in batch.collect())
    assert srows == brows
    assert len(srows) > 0


def test_streaming_ingest_manifest_matches_batch(spark, sf_dir, tmp_path):
    """The composed ingest pipeline (scrub -> quality gate -> dedup ->
    shard routing) streamed in okey-ordered micro-batches must equal
    the one-shot batch manifest EXACTLY — including the dup branch,
    exercised by injecting exact-duplicate docs (the raw corpus has
    none) whose owners and dups land in DIFFERENT batches."""
    import time as _time

    from pyspark.sql import functions as F

    from ds_mapreduce_spark.operators.ingest import ingest_manifest
    from ds_mapreduce_spark.streaming.jobs import run_streaming_ingest_manifest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # inject exact duplicates under fresh doc_ids: 10 copied texts
    dups = (
        docs.orderBy("doc_id")
        .limit(10)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    corpus = docs.unionByName(dups)

    batch = ingest_manifest(corpus, budget=2000, quality_threshold=0)
    b_rows = sorted(map(tuple, batch.collect()))
    assert any(r[1] == "dup" for r in b_rows)  # the branch actually fires

    ordered = (
        corpus.withColumn("__k", F.md5(F.col("doc_id").cast("string")))
        .orderBy("__k", "doc_id")
        .drop("__k")
        .collect()
    )
    feed = str(tmp_path / "feed")
    third = (len(ordered) + 2) // 3
    for i in range(3):
        chunk = ordered[i * third : (i + 1) * third]
        if chunk:
            spark.createDataFrame(chunk).coalesce(1).write.mode("append").parquet(feed)
            _time.sleep(1.1)

    streamed = run_streaming_ingest_manifest(
        spark, feed, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    assert sorted(map(tuple, streamed.collect())) == b_rows


def test_streaming_ivf_index_matches_batch(spark, sf_dir, tmp_path):
    """IVF-at-ingest: per-batch assignment against fixed centroids
    appended into the versioned inverted index, probed by the same
    ivf_topk the batch knn_ivf runs, must reproduce the batch top-k
    exactly under an arrival-shuffled chunked feed."""
    from pyspark.sql import functions as F

    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.streaming.jobs import run_streaming_ivf_index

    batch = load_all()["knn_ivf"].fn(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = emb.where(F.col("vec_id") < 16).localCheckpoint(eager=True)
    feed_dir = str(tmp_path / "emb_feed")
    emb.orderBy(F.md5(F.col("vec_id").cast("string"))).repartition(4).write.parquet(
        feed_dir
    )

    streamed = run_streaming_ivf_index(
        spark, feed_dir, centroids, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    srows = sorted(map(tuple, streamed.collect()))
    brows = sorted(map(tuple, batch.collect()))
    assert streamed.columns == batch.columns
    assert srows == brows
    assert len(srows) > 0


def test_streaming_dsir_selection_matches_batch(spark, sf_dir, tmp_path):
    """The maintained DSIR state (bucket counts merged by SUM + per-doc
    bucket profiles appended) must reproduce the batch
    dsir_importance_select top-50 EXACTLY under a chunked,
    arrival-order-shuffled feed — weights depend on the WHOLE corpus,
    so this proves late-arriving target text re-weights earlier docs
    correctly (sum-over-tokens(w) == sum-over-buckets(n*w))."""
    from pyspark.sql import functions as F

    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.streaming.jobs import run_streaming_dsir_selection

    batch = load_all()["dsir_importance_select"].fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feed_dir = str(tmp_path / "docs_feed")
    docs.orderBy(F.md5(F.col("doc_id").cast("string"))).repartition(4).write.parquet(
        feed_dir
    )

    streamed = run_streaming_dsir_selection(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    srows = sorted(map(tuple, streamed.collect()))
    brows = sorted(map(tuple, batch.collect()))
    assert streamed.columns == batch.columns
    assert srows == brows
    assert len(srows) == 50


def test_streaming_pca_gramian_matches_batch(spark, sf_dir, tmp_path):
    """The maintained Gramian (per-(pi,pj) SUM state — sums of outer
    products are the textbook mergeable second moment) must reproduce
    the batch embedding_pca_power loading vector EXACTLY under a
    chunked, arrival-order-shuffled feed."""
    from pyspark.sql import functions as F

    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.streaming.jobs import run_streaming_pca_gramian

    batch = load_all()["embedding_pca_power"].fn(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    feed_dir = str(tmp_path / "emb_feed")
    emb.orderBy(F.md5(F.col("vec_id").cast("string"))).repartition(4).write.parquet(
        feed_dir
    )

    streamed = run_streaming_pca_gramian(
        spark, feed_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    srows = sorted(map(tuple, streamed.collect()))
    brows = sorted(map(tuple, batch.collect()))
    assert streamed.columns == batch.columns
    assert srows == brows
    assert len(srows) == 64


def test_streaming_dsir_and_pca_resume_with_nothing_new(spark, sf_dir, tmp_path):
    """The versioned-state resume edge for the two newest twins: a
    second run over a spent checkpoint with the SAME state dir must
    return the landed answer (not crash on v-1, not return empty)."""
    from ds_mapreduce_spark.streaming.jobs import (
        run_streaming_dsir_selection,
        run_streaming_pca_gramian,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    doc_dir = str(tmp_path / "doc_feed")
    docs.repartition(2).write.parquet(doc_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb_dir = str(tmp_path / "emb_feed")
    emb.repartition(2).write.parquet(emb_dir)

    for name, run, feed in (
        ("dsir", run_streaming_dsir_selection, doc_dir),
        ("pca", run_streaming_pca_gramian, emb_dir),
    ):
        state, ckpt = str(tmp_path / f"{name}_s"), str(tmp_path / f"{name}_c")
        first = sorted(map(tuple, run(spark, feed, state, ckpt).collect()))
        assert first, name
        resumed = sorted(map(tuple, run(spark, feed, state, ckpt).collect()))
        assert resumed == first, name


def test_streaming_kmeans_centroids_matches_batch(spark, sf_dir, tmp_path):
    """The maintained Lloyd-step state (per-(cid, dim) component
    sum + member count against frozen seeds — associative, shared
    lloyd_step_* functions) must reproduce lloyd_centroids(iters=1)
    EXACTLY under a chunked, arrival-order-shuffled feed, and a
    resume over the spent checkpoint must return the landed answer."""
    from pyspark.sql import functions as F

    from ds_mapreduce_spark.operators.similarity import (
        lloyd_centroids,
        lloyd_seed_centroids,
    )
    from ds_mapreduce_spark.streaming.jobs import run_streaming_kmeans_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    batch = lloyd_centroids(emb, k=8, iters=1)
    seeds = lloyd_seed_centroids(emb, k=8).localCheckpoint(eager=True)
    feed_dir = str(tmp_path / "emb_feed")
    emb.orderBy(F.md5(F.col("vec_id").cast("string"))).repartition(4).write.parquet(
        feed_dir
    )

    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    streamed = run_streaming_kmeans_centroids(spark, feed_dir, seeds, state, ckpt)
    srows = sorted((r["cid"], tuple(r["cv"])) for r in streamed.collect())
    brows = sorted((r["cid"], tuple(r["cv"])) for r in batch.collect())
    assert streamed.columns == batch.columns
    assert srows == brows
    assert len(srows) == 8

    resumed = run_streaming_kmeans_centroids(spark, feed_dir, seeds, state, ckpt)
    rrows = sorted((r["cid"], tuple(r["cv"])) for r in resumed.collect())
    assert rrows == srows


def test_streaming_bpe_encode_matches_batch(spark, sf_dir, tmp_path):
    """The tokenizer APPLY stream: frozen offline-trained merge rules
    applied per micro-batch (shared segment_words_with_rules /
    encode_census_rows) must reproduce the batch bpe_encode_census
    EXACTLY under a chunked, arrival-order-shuffled feed — rule
    application is deterministic per word and corpus-independent, so
    per-doc rows are batch-independent and their union is the batch
    answer. A resume over the spent checkpoint returns the landed
    results instead of crashing."""
    from pyspark.sql import functions as F

    from ds_mapreduce_spark.operators.bpe import _train_vocab, bpe_encode_census
    from ds_mapreduce_spark.plans.text_queries import _BPE_PATTERN
    from ds_mapreduce_spark.streaming.jobs import run_streaming_bpe_encode

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = bpe_encode_census(docs, _BPE_PATTERN, n_merges=3)
    _, rules = _train_vocab(docs, _BPE_PATTERN, 3)

    feed_dir = str(tmp_path / "docs_feed")
    docs.orderBy(F.md5(F.col("doc_id").cast("string"))).repartition(
        4
    ).write.parquet(feed_dir)

    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    streamed = run_streaming_bpe_encode(spark, feed_dir, rules, state, ckpt)
    cols = [
        "doc_id", "lang", "n_words", "n_char_tokens", "n_bpe_tokens",
        "saved_bp",
    ]
    assert sorted(streamed.columns) == sorted(batch.columns)
    srows = _rows(streamed, cols)
    assert srows == _rows(batch, cols)
    assert len(srows) > 0

    resumed = run_streaming_bpe_encode(spark, feed_dir, rules, state, ckpt)
    assert _rows(resumed, cols) == srows


def test_streaming_media_features_matches_batch(spark, sf_dir, tmp_path):
    """The codec stream: the real JPEG chain applied per micro-batch
    must reproduce the batch multimodal_jpeg_roundtrip EXACTLY under a
    chunked, arrival-order-shuffled feed — decode is a deterministic
    per-row map, so per-doc feature rows are batch-independent and
    their union is the batch answer. A resume over the spent
    checkpoint returns the landed results instead of crashing."""
    from pyspark.sql import functions as F

    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.streaming.jobs import run_streaming_media_features

    batch = load_all()["multimodal_jpeg_roundtrip"].fn(spark, sf_dir)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feed_dir = str(tmp_path / "docs_feed")
    docs.orderBy(F.md5(F.col("doc_id").cast("string"))).repartition(
        4
    ).write.parquet(feed_dir)

    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    streamed = run_streaming_media_features(spark, feed_dir, state, ckpt)
    cols = ["doc_id", "width", "height", "n_blocks", "sum_v", "sum_sq"]
    assert sorted(streamed.columns) == sorted(batch.columns)
    srows = _rows(streamed, cols)
    assert srows == _rows(batch, cols)
    assert len(srows) > 0

    resumed = run_streaming_media_features(spark, feed_dir, state, ckpt)
    assert _rows(resumed, cols) == srows


def test_streaming_media_features_empty_feed(spark, tmp_path):
    """An empty feed returns an empty result with the contract schema."""
    from ds_mapreduce_spark.streaming.jobs import run_streaming_media_features

    feed_dir = str(tmp_path / "empty_media_feed")
    spark.createDataFrame(
        [], "doc_id bigint, text string, lang string"
    ).write.parquet(feed_dir)
    state, ckpt = str(tmp_path / "state2"), str(tmp_path / "ckpt2")
    out = run_streaming_media_features(spark, feed_dir, state, ckpt)
    assert out.count() == 0
    assert "sum_sq" in out.columns


def test_streaming_bpe_encode_empty_feed(spark, tmp_path):
    """An empty feed returns an empty result with the contract schema
    (no landed state, no crash)."""
    from pyspark.sql import functions as F

    from ds_mapreduce_spark.streaming.jobs import run_streaming_bpe_encode

    feed_dir = str(tmp_path / "empty_feed")
    spark.createDataFrame(
        [], "doc_id bigint, text string, lang string"
    ).write.parquet(feed_dir)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    out = run_streaming_bpe_encode(
        spark, feed_dir, [("h", "e", 1)], state, ckpt
    )
    assert out.count() == 0
    assert "saved_bp" in out.columns


def test_versioned_state_reads_reuse_the_written_schema(
    spark, sf_dir, tmp_path, monkeypatch, jobs_launched
):
    """``_run_versioned`` reads the state versions this run wrote with
    the schema it wrote there: no state read launches a schema job, and
    each reads the schema inference gives the same path(s). One twin per
    layout: one-table states (heavy hitters, MV maintenance), a
    multi-table state (CMS), and a seeded state with a per-batch log
    read back by ``get`` and unioned at the end (ingest manifest). As a
    control, every state read is repeated with inference on the same
    thread, which must launch a job."""
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from ds_mapreduce_spark.streaming import jobs as J

    feeds = {}
    for table in ("events", "orders", "documents"):
        feeds[table] = str(tmp_path / f"{table}_feed")
        load_table(spark, sf_dir, table).repartition(3).write.parquet(feeds[table])
    states = str(tmp_path / "states")
    parquet_read, parquet_write = DataFrameReader.parquet, DataFrameWriter.parquet
    reads, writes = [], {}

    def read(self, *paths, **options):
        if not paths[0].startswith(states):
            return parquet_read(self, *paths, **options)
        df, jobs = jobs_launched(lambda: parquet_read(self, *paths, **options))
        ref, ref_jobs = jobs_launched(lambda: parquet_read(self._spark.read, *paths))
        reads.append((paths, jobs, ref_jobs, df.schema == ref.schema))
        return df

    def write(self, path, *args, **kwargs):
        parquet_write(self, path, *args, **kwargs)
        if path.startswith(states):
            writes[path] = self._df.schema

    monkeypatch.setattr(DataFrameReader, "parquet", read)
    monkeypatch.setattr(DataFrameWriter, "parquet", write)
    for name, run, feed in (
        ("hh", J.run_streaming_heavy_hitters, "events"),
        ("mv", J.run_streaming_mv_maintenance, "orders"),
        ("cms", J.run_streaming_cms_sketch, "events"),
        ("ingest", J.run_streaming_ingest_manifest, "documents"),
    ):
        reads.clear()
        writes.clear()
        run(spark, feeds[feed], f"{states}/{name}", str(tmp_path / f"{name}_c"))
        assert len(reads) >= 3 and writes, name
        assert [r[0] for r in reads if r[1]] == [], f"{name}: state reads that inferred"
        assert all(r[2] >= 1 for r in reads), f"{name}: the inference control saw no job"
        assert [r[0] for r in reads if not r[3]] == [], f"{name}: schema differs"
        for path, schema in writes.items():
            given = parquet_read(spark.read.schema(schema), path).schema
            assert given == parquet_read(spark.read, path).schema, (name, path)
