"""Structured Streaming jobs (E13 stream form).

The reference has no streaming at all (SURVEY.md §2.3 — tokio-stream
is a dead dependency, src never imports it); this is the Spark-native
stream surface for the same event-time window semantics as the batch
queries in plans/stream_queries.py: identical transformation code,
``readStream`` instead of ``read``, plus a watermark for late data.

Scale notes: the windowed aggregation keeps state per (window, type)
in the state store; the watermark bounds state size by evicting
windows older than max(event_time) - delay. With
``availableNow`` the same job is an incremental batch — how a 100 TB
backfill and the live stream share one code path.

Every twin reads its feed through ``_feed``. The state-store twins
drain into the in-memory sink (``_to_memory``); the ``foreachBatch``
twins run one ``reduce(k, [v])`` per micro-batch — merge the batch
into version n-1, write version n — through ``_run_versioned``, which
owns one contract for all of them:

- **Paths.** Micro-batch ``n`` writes version ``n`` under
  ``state_dir``: ``v{n}`` for a one-table state, ``v{n}/{table}`` for
  a multi-table one, ``{name}v{n}`` for a table or per-batch log whose
  name ends in ``_`` (``uni_v{n}``, ``verdicts_v{n}``).
- **Seeds.** A state with an initial value (a history fingerprint
  store, a zero token cursor) is written to ``v-1`` before the stream
  starts, so batch 0 reads its predecessor like every other batch; an
  unseeded state starts from batch 0's partial alone.
- **Replay.** Batch ``n`` reads only version ``n-1`` and overwrites
  version ``n`` (and its log entry). A batch Spark re-runs after a
  crash (at-least-once delivery) therefore rewrites the same version
  from the same predecessor: the landed state is exactly-once.
- **Resume.** The answer is read from the last version this run
  fired; if no batch fired (an availableNow restart with nothing new)
  from the latest landed version >= 0.
- **Empty feed.** If no batch fired and nothing has landed, the answer
  is the twin's answer on an empty batch of the feed's schema: the
  right columns, no rows.
- **Logs.** A twin whose answer is a per-batch log returns the union
  of the log versions <= the last batch that fired (versions a
  previous run left above it are stale), else of all landed ones.
- **Schemas.** State is written with ``catalog.write_parquet`` and
  read with ``catalog.read_parquet``: a version this process wrote is
  read with the schema of the DataFrame written there, and launches no
  schema inference job, while its files are unchanged; a version an
  earlier process left is inferred once.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ds_mapreduce_spark.functions.temporal import epoch_sec, epoch_us
from ds_mapreduce_spark.sources.catalog import fs_path, normalize_events_ts, read_parquet, write_parquet


def existing_state_versions(
    spark: SparkSession, state_dir: str, prefix: str = "v"
) -> list[int]:
    """Batch ids with landed state under ``state_dir`` (dirs named
    ``{prefix}{int}``). The versioned-state jobs need this for the two
    cases where ``foreachBatch`` never fires: a genuinely empty feed,
    and an availableNow RESUME whose checkpoint says nothing is new —
    in the second case the right answer is the state already on disk,
    not a crash on ``v-1`` (ADVICE r6)."""
    fs, path = fs_path(spark, state_dir)
    if not fs.exists(path):
        return []
    out = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if name.startswith(prefix):
            try:
                out.append(int(name[len(prefix):]))
            except ValueError:
                pass
    return sorted(out)


def _feed(
    spark: SparkSession,
    path: str,
    *,
    per_file: bool = False,
    events: bool = False,
    schema=None,
    text: bool = False,
    options: dict | None = None,
) -> DataFrame:
    """The stream a twin reads: parquet under ``path`` with the schema
    inferred from it (unless given; ``read_parquet`` infers it once per
    unchanged listing), or text lines (``text``).
    ``per_file`` makes each file one micro-batch; ``events`` reads the
    events table (``ts`` as INT64 nanos is read as long, then
    normalized to a UTC timestamp). A file ``path`` is read as its
    directory narrowed to that file name, since FileStreamSource only
    accepts directories."""
    if events:
        # before the schema is inferred: Spark 4 reads INT64 nanos only
        # as long, under this flag
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    reader = spark.readStream
    if not text:
        reader = reader.schema(
            schema if schema is not None else read_parquet(spark, path).schema
        )
    if per_file:
        reader = reader.option("maxFilesPerTrigger", "1")
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    fs, p = fs_path(spark, path)
    if fs.isFile(p):
        path, _, name = path.rpartition("/")
        reader = reader.option("pathGlobFilter", name)
    stream = reader.text(path) if text else reader.parquet(path)
    return normalize_events_ts(stream) if events else stream


def _to_memory(df: DataFrame, table: str, mode: str) -> DataFrame:
    """Drain the stream ``df`` (availableNow) into the in-memory table
    ``table``; returns that table."""
    (
        df.writeStream.format("memory")
        .queryName(table)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return df.sparkSession.table(table)


class _Version:
    """One micro-batch's handle on the versioned state: ``prev`` reads
    version n-1 (absent when ``first``: batch 0 of an unseeded state),
    ``put`` writes version n, ``get`` reads back what ``put`` wrote.
    ``table`` names a table or log as in the module docstring. Writes go
    through ``catalog.write_parquet`` and reads through
    ``catalog.read_parquet``, so reading a version this process wrote
    launches no schema job."""

    def __init__(self, batch: DataFrame, at: Callable, n: int, first: bool):
        self.sess, self.at, self.n, self.first = batch.sparkSession, at, n, first

    def prev(self, table: str | None = None) -> DataFrame:
        return read_parquet(self.sess, self.at(self.n - 1, table))

    def put(self, df: DataFrame, table: str | None = None) -> None:
        write_parquet(df, self.at(self.n, table))

    def get(self, table: str | None = None) -> DataFrame:
        return read_parquet(self.sess, self.at(self.n, table))


def _run_versioned(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    step: Callable[[DataFrame, _Version], None],
    *,
    present: Callable[..., DataFrame] = lambda df: df,
    empty: Callable[[DataFrame], DataFrame] | str,
    tables: tuple = (None,),
    log: str | None = None,
    seed: DataFrame | dict | None = None,
) -> DataFrame:
    """Drain ``stream`` (availableNow, checkpointed) through ``step``,
    one call per micro-batch, and return the answer under the contract
    in the module docstring. ``seed`` (a DataFrame, or one per table)
    is written to ``v-1`` first. Without ``log``, the answer is
    ``present(*tables at the final version)``; with one, it is
    ``present(union of the log)``. With no version to read, it is
    ``empty(an empty batch)``, or an empty frame of schema ``empty``
    when that is a DDL string."""
    spark = stream.sparkSession

    def series(table: str | None) -> str:
        return f"{table}v" if table and table.endswith("_") else "v"

    def at(n: int, table: str | None) -> str:
        nested = table and not table.endswith("_")
        return f"{state_dir}/{series(table)}{n}" + (f"/{table}" if nested else "")

    def landed(table: str | None) -> list[int]:
        versions = existing_state_versions(spark, state_dir, series(table))
        return [n for n in versions if n >= 0]

    if seed is not None:
        for table, df in (seed if isinstance(seed, dict) else {None: seed}).items():
            write_parquet(df, at(-1, table))
    fired = -1

    def sink(batch: DataFrame, n: int) -> None:
        nonlocal fired
        step(batch, _Version(batch, at, n, n == 0 and seed is None))
        fired = max(fired, n)

    (
        stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
        .awaitTermination()
    )
    if log is not None:
        versions = [n for n in landed(log) if fired < 0 or n <= fired]
        if versions:
            return present(read_parquet(spark, *[at(n, log) for n in versions]))
    else:
        final = fired if fired >= 0 else max(landed(tables[0]), default=None)
        if final is not None:
            return present(*[read_parquet(spark, at(final, t)) for t in tables])
    if isinstance(empty, str):
        return spark.createDataFrame([], empty)
    return empty(spark.createDataFrame([], stream.schema))


def windowed_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """The shared batch/stream transformation (event-time tumbling agg)."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 4).alias(
                "sum_value"
            ),
        )
        .select(
            epoch_sec(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_window_agg(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """The shared batch/stream transformation for NATIVE session windows
    (F.session_window): merge-on-overlap inside the aggregation. In
    streaming the state store merges overlapping per-key windows across
    micro-batches and the watermark closes sessions; in batch the same
    plan is a single merging aggregation. Used by the graded batch query
    (plans/stream_queries.py events_native_session_window) and
    run_streaming_session_window."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .select(
            "user_id",
            epoch_sec(F.col("w.start")).alias("session_start"),
            epoch_sec(F.col("w.end")).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def run_streaming_session_window(
    spark: SparkSession, events_dir: str, sink_table: str = "stream_session_windows"
) -> DataFrame:
    """Native session windows as a stream (availableNow drain → memory
    sink). Append mode + watermark: the state store emits each merged
    session once its close is final — sessions still extendable within
    the watermark of max event time stay in state, exactly like the
    applyInPandasWithState twin's open sessions."""
    out = session_window_agg(_feed(spark, events_dir, events=True))
    return _to_memory(out, sink_table, "append")


def run_streaming_wordcount(
    spark: SparkSession, text_path: str, sink_table: str = "stream_wordcount"
) -> DataFrame:
    """The reference's flagship job as a LIVE stream: word counts over a
    text directory, updated incrementally per micro-batch (running
    aggregation state per word — Spark's state store is the global,
    fault-tolerant version of the reference's in-memory per-chunk
    HashMap). availableNow drains what exists and stops; the identical
    query tails a growing directory in production.
    """
    lines = _feed(spark, text_path, text=True)
    counts = (
        lines.select(F.explode(F.split(F.col("value"), r"\s+")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _to_memory(counts, sink_table, "complete")


def run_streaming_dedup(
    spark: SparkSession,
    src_dir: str,
    schema,
    key_cols: list[str],
    watermark: tuple[str, str] | None = None,
    sink_table: str = "stream_dedup",
) -> DataFrame:
    """Incremental exact dedup: ``dropDuplicates(key_cols)`` on a stream
    keeps first-seen rows per key across micro-batches (state = one
    entry per distinct key). Unbounded by default — pass
    ``watermark=(ts_col, delay)`` to use dropDuplicatesWithinWatermark
    semantics where late re-occurrences outside the delay are allowed
    through and state is evicted: the 100 TB configuration, since an
    unbounded distinct-key state store eventually IS the corpus.
    """
    stream = _feed(spark, src_dir, schema=schema)
    if watermark is not None:
        ts_col, delay = watermark
        stream = stream.withWatermark(ts_col, delay)
        deduped = stream.dropDuplicatesWithinWatermark(key_cols)
    else:
        deduped = stream.dropDuplicates(key_cols)
    return _to_memory(deduped, sink_table, "append")


def attribution_join(clicks: DataFrame, purchases: DataFrame, horizon: str = "2 hours") -> DataFrame:
    """The shared batch/stream transformation: each purchase joined to
    every click by the same user in the preceding ``horizon`` —
    the classic attribution (stream-stream interval) join.

    Streaming: both sides carry watermarks, so the state store can
    discard clicks older than the horizon and the join is bounded;
    batch: the identical range predicate. One shuffle of each side on
    user_id either way.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if clicks.isStreaming:
        c = c.withWatermark("click_ts", horizon)
        p = p.withWatermark("purchase_ts", "0 seconds")
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}")),
    )
    return joined.select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        epoch_us("purchase_ts").alias("purchase_us"),
        epoch_us("click_ts").alias("click_us"),
    )


def run_streaming_attribution_join(
    spark: SparkSession, events_dir: str, horizon: str = "2 hours",
    sink_table: str = "stream_attrib",
) -> DataFrame:
    """Stream-stream interval join over the events parquet with an
    availableNow trigger; returns the joined rows from the memory sink."""
    stream = _feed(spark, events_dir, events=True)
    clicks = stream.where(F.col("event_type") == "click")
    purchases = stream.where(F.col("event_type") == "purchase")
    return _to_memory(attribution_join(clicks, purchases, horizon), sink_table, "append")


def run_streaming_tumbling_window(
    spark: SparkSession, events_dir: str, schema=None, sink_table: str = "stream_windows"
) -> DataFrame:
    """Run the windowed agg as a stream over a parquet directory with an
    availableNow trigger (process-everything-then-stop), landing in an
    in-memory sink; returns the sink contents as a DataFrame.
    """
    out = windowed_counts(_feed(spark, events_dir, events=True, schema=schema))
    return _to_memory(out, sink_table, "complete")


def run_streaming_cdc_merge(
    spark: SparkSession, orders_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming CDC upsert: the change feed arrives as micro-batches
    and each batch MERGES into the landed state via ``foreachBatch`` —
    the latest-wins reduction is the same ``latest_wins_merge`` the
    batch query (``cdc_latest_wins_merge``) runs in one plan. Returns
    the final merged state; versioned state as in the module docstring.
    100 TB: each micro-batch shuffles only |state ∩ batch keys| +
    |batch| rows; a bucketed state table drops the state side of that
    shuffle entirely, and compaction of the version chain is the same
    incremental-compaction plan as batch.
    """
    from ds_mapreduce_spark.operators.relational import (
        cdc_change_rows,
        latest_wins_merge,
    )

    def merge(rows: DataFrame) -> DataFrame:
        return latest_wins_merge(rows, ["o_orderkey"], "version")

    def step(batch: DataFrame, v: _Version) -> None:
        v.put(merge(batch if v.first else v.prev().unionByName(batch)))

    feed = cdc_change_rows(_feed(spark, orders_dir, per_file=True))
    return _run_versioned(feed, state_dir, checkpoint_dir, step, empty=merge)


def run_streaming_pii_scrub(
    spark: SparkSession, docs_dir: str, sink_table: str = "stream_pii"
) -> DataFrame:
    """PII scrubbing as a stream: the batch transformation
    (``plans.text_queries.pii_scrub_rows`` — stateless column
    expressions) applied unchanged to a ``readStream`` over the
    documents parquet, landing per-row redacted records in a memory
    sink (append mode — a scrub emits rows as they arrive, no state,
    no watermark). 100 TB: this is the always-on ingest scrubber; each
    micro-batch is map-only, so throughput is scan-bound and the job
    scales by adding executors."""
    from ds_mapreduce_spark.plans.text_queries import pii_scrub_rows

    return _to_memory(pii_scrub_rows(_feed(spark, docs_dir)), sink_table, "append")


def run_streaming_incremental_dedup(
    spark: SparkSession,
    batch_dir: str,
    history: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming ingest dedup: documents arrive as micro-batches and
    each batch is classified against the ACCUMULATED fingerprint store
    (seed store = the history corpus's fingerprints) with the same
    ``incremental_dedup`` reduction the batch query grades; hashes of
    this batch's 'new' docs are appended to the store for the next
    batch. The answer is the per-batch verdict log.

    Semantics note vs the one-shot batch run: a duplicate pair split
    across micro-batches classifies as dup_of_history (the store saw it
    first) rather than dup_in_batch — but the KEPT SET (one owner per
    hash, smallest id wins when arrival order is id-ordered) is
    identical however the feed is chunked, which is the invariant
    ``tests/test_streaming.py`` pins. 100 TB: the store is fingerprints
    only (append-only, bucketed by hash); a day's batch never joins
    more than |store ∩ batch| + |batch| rows.
    """
    from pyspark.sql import Window

    from ds_mapreduce_spark.functions.text import portable_fingerprint

    hist_fp = (
        history.select(portable_fingerprint(F.col("text")).alias("text_md5"))
        .distinct()
    )

    def step(batch: DataFrame, v: _Version) -> None:
        store = v.prev()
        # same reduction as operators.dedup.incremental_dedup, but the
        # history side is already a fingerprint store (hashes, not text)
        b = batch.select("doc_id", portable_fingerprint(F.col("text")).alias("text_md5"))
        b = b.withColumn("batch_keep", F.min("doc_id").over(Window.partitionBy("text_md5")))
        joined = b.join(store.withColumn("__seen", F.lit(1)), "text_md5", "left")
        verdict = (
            F.when(F.col("__seen").isNotNull(), "dup_of_history")
            .when(F.col("doc_id") != F.col("batch_keep"), "dup_in_batch")
            .otherwise("new")
        )
        out = joined.select("doc_id", "text_md5", verdict.alias("verdict"))
        v.put(out, "verdicts_")
        new_hashes = out.where(F.col("verdict") == "new").select("text_md5")
        v.put(store.select("text_md5").unionByName(new_hashes).distinct())

    def empty(batch: DataFrame) -> DataFrame:
        return batch.select(
            "doc_id",
            portable_fingerprint(F.col("text")).alias("text_md5"),
            F.lit("new").alias("verdict"),
        )

    return _run_versioned(
        _feed(spark, batch_dir, per_file=True), state_dir, checkpoint_dir, step,
        empty=empty, log="verdicts_", seed=hist_fp,
    )


def run_streaming_shard_plan(
    spark: SparkSession,
    batch_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    budget: int = 2000,
) -> DataFrame:
    """Streaming ingest shard planning: documents arrive as micro-batches
    and each batch's docs are packed into token-budget shards CONTINUING
    from the accumulated token total — the ingest-time twin of the batch
    ``corpus_shard_plan`` query. Within a batch the assignment is the
    same ``prefix_sum_over_total_order`` operator (md5 order); the
    carried offset is a 1-row state seeded at 0, and the answer is the
    per-batch assignment log. When arrival chunks respect the global
    md5 order, assignments equal the one-shot batch plan exactly — the
    invariant tests/test_streaming.py pins.

    100 TB: per-batch work is one range exchange over the BATCH (not the
    corpus); state is a single row; the shard manifest appends forever.
    """
    from ds_mapreduce_spark.functions.temporal import idiv_floor
    from ds_mapreduce_spark.functions.text import tokens
    from ds_mapreduce_spark.operators.relational import prefix_sum_over_total_order

    def step(batch: DataFrame, v: _Version) -> None:
        carried = v.prev()
        base = batch.select(
            "doc_id",
            F.md5(F.col("doc_id").cast("string")).alias("__key"),
            F.size(tokens(F.col("text"))).cast("bigint").alias("n_tok"),
        )
        cum = prefix_sum_over_total_order(
            base, [F.col("__key"), F.col("doc_id")], F.col("n_tok"), "cum_local"
        )
        assigned = (
            cum.crossJoin(F.broadcast(carried))
            .withColumn("cum", F.col("cum_local") + F.col("carried"))
            .withColumn("shard_id", idiv_floor(F.col("cum") - F.col("n_tok"), budget))
            .select("doc_id", "n_tok", "shard_id")
        )
        v.put(assigned, "assign_")
        new_total = (
            v.get("assign_")
            .agg((F.sum("n_tok")).cast("bigint").alias("b"))
            .crossJoin(F.broadcast(carried))
            .select((F.col("carried") + F.coalesce(F.col("b"), F.lit(0))).alias("carried"))
        )
        v.put(new_total)

    def empty(batch: DataFrame) -> DataFrame:
        return batch.select(
            "doc_id",
            F.lit(0).cast("bigint").alias("n_tok"),
            F.lit(0).cast("bigint").alias("shard_id"),
        )

    return _run_versioned(
        _feed(spark, batch_dir, per_file=True), state_dir, checkpoint_dir, step,
        empty=empty, log="assign_",
        seed=spark.createDataFrame([(0,)], "carried bigint"),
    )


def run_streaming_mv_maintenance(
    spark: SparkSession, orders_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming aggregate-MV maintenance: the orders feed arrives as
    micro-batches and each batch's partials MERGE into the landed MV via
    ``foreachBatch`` — the same ``mv_partial``/``mv_merge`` the batch
    query (``incremental_agg_maintenance``) composes in one plan, so the
    maintained state converges to the batch answer under ANY chunking of
    the feed (associative DECIMAL partials). Returns the final MV
    through the shared ``mv_present`` projection; versioned state as in
    the module docstring. 100 TB: each micro-batch scans ONLY its delta
    and shuffles |groups| partial rows; the state store is
    group-cardinality-sized — the continuous-aggregate contract."""
    from ds_mapreduce_spark.operators.relational import mv_merge, mv_partial, mv_present

    def step(batch: DataFrame, v: _Version) -> None:
        part = mv_partial(batch, ["o_orderpriority"], "o_totalprice")
        v.put(mv_merge(part) if v.first else mv_merge(v.prev(), part))

    return _run_versioned(
        _feed(spark, orders_dir, per_file=True), state_dir, checkpoint_dir, step,
        present=mv_present,
        empty=lambda b: mv_present(mv_merge(mv_partial(b, ["o_orderpriority"], "o_totalprice"))),
    )


def run_streaming_scd2(
    spark: SparkSession, events_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """SCD2 dimension maintenance as a stream: the purchase change feed
    arrives in micro-batches; each batch MERGES into a keyed state of
    one row per (user, instant) via ``foreachBatch``, and the versioned
    history is derived from that state with the SAME ``scd2_versions``
    the batch query runs — so late-arriving changes (an earlier instant
    landing in a later micro-batch) re-version exactly instead of
    corrupting history, which a compressed-state design could not do
    (dropping a compressed row is only safe if nothing ever lands
    between it and its predecessor).

    Versioned state as in the module docstring. The per-batch reduction
    (groupBy MAX per (user, s)) is associative and commutative, so any
    micro-batching of the input converges to the same state. 100 TB:
    each micro-batch shuffles |state ∩ batch keys| + |batch| rows once
    bucketed by user_id; re-versioning touches only keys present in the
    delta (join state on batch keys); state size is |distinct change
    instants|, the minimum any exact late-data-correct SCD2 can hold.
    """
    from ds_mapreduce_spark.operators.relational import (
        purchase_change_rows,
        scd2_versions,
    )

    def keyed(rows: DataFrame) -> DataFrame:
        return rows.groupBy("user_id", "s").agg(F.max("cents").alias("cents"))

    def history(state: DataFrame) -> DataFrame:
        return scd2_versions(state, "user_id", "s", "cents")

    def step(batch: DataFrame, v: _Version) -> None:
        v.put(keyed(batch if v.first else v.prev().unionByName(batch)))

    feed = purchase_change_rows(_feed(spark, events_dir, events=True))
    return _run_versioned(
        feed, state_dir, checkpoint_dir, step,
        present=history, empty=lambda b: history(keyed(b)),
    )


def run_streaming_hourly_resample(
    spark: SparkSession, events_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming forward-fill resample: the events feed arrives as
    micro-batches; each batch's per-(user, hour) partials (count +
    exact cents sum — ``hourly_cents_rollup``, shared with the batch
    query ``events_hourly_resample``) MERGE into a keyed rollup state
    by summation, and the dense-grid forward fill
    (``resample_forward_fill``, also shared) derives the presentation
    from the final state. Because the fill runs on the maintained
    rollup — never on raw events — a late event for an hour already
    emitted simply adjusts that hour's partials and the re-derived fill
    is exact, which an emit-as-you-go design could not do (a carried-
    forward value may change retroactively).

    Versioned state as in the module docstring; (n, sum_cents) merge is
    associative+commutative, so any chunking of the feed converges to
    the batch rollup. 100 TB: each micro-batch shuffles |batch| rows
    into |users × active hours| state — the continuous-aggregate
    contract; the fill's window partitions stay bounded by span hours,
    never event volume."""
    from ds_mapreduce_spark.operators.temporal import (
        hourly_cents_rollup,
        resample_forward_fill,
    )

    def step(batch: DataFrame, v: _Version) -> None:
        part = hourly_cents_rollup(batch)
        if not v.first:
            part = (
                v.prev()
                .unionByName(part)
                .groupBy("user_id", "h")
                .agg(
                    F.sum("n").cast("bigint").alias("n"),
                    F.sum("sum_cents").cast("bigint").alias("sum_cents"),
                )
            )
        v.put(part)

    return _run_versioned(
        _feed(spark, events_dir, events=True), state_dir, checkpoint_dir, step,
        present=resample_forward_fill,
        empty=lambda b: resample_forward_fill(hourly_cents_rollup(b)),
    )


def run_streaming_heavy_hitters(
    spark: SparkSession, events_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming heavy-hitter maintenance: the events feed arrives as
    micro-batches and each batch's per-key partial counts MERGE into a
    landed (key, n_events) state table via ``foreachBatch`` — the same
    ``keycount_partial``/``keycount_merge`` the batch profile
    (``events_heavy_hitter_profile``) composes in one plan, so the
    maintained state converges to the batch answer under ANY chunking
    of the feed (counts are associative). Versioned state as in the
    module docstring. Returns the final top-10 through the shared
    ``heavy_hitter_present`` projection. 100 TB: each micro-batch scans
    only its delta and shuffles |keys-in-batch| partial rows; the state
    store is key-cardinality-sized — the skew monitor you leave running
    NEXT to the pipeline it tunes."""
    from ds_mapreduce_spark.operators.skew import (
        heavy_hitter_present,
        keycount_merge,
        keycount_partial,
    )

    def step(batch: DataFrame, v: _Version) -> None:
        part = keycount_partial(batch)
        v.put(keycount_merge(part) if v.first else keycount_merge(v.prev(), part))

    return _run_versioned(
        _feed(spark, events_dir, per_file=True, events=True), state_dir,
        checkpoint_dir, step, present=heavy_hitter_present,
        empty=lambda b: heavy_hitter_present(keycount_merge(keycount_partial(b))),
    )


def run_streaming_cms_sketch(
    spark: SparkSession, events_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming Count-Min sketch maintenance: each micro-batch is
    sketched by the SAME ``cms_counters`` the batch query uses and the
    partial sketches MERGE into a landed (j, bucket, c) counter table
    via ``cms_merge`` — elementwise addition, the mergeable-summary
    property that is the entire point of the sketch (Cormode/
    Muthukrishnan): the landed state is BIT-IDENTICAL to the one-pass
    sketch under ANY chunking or arrival order of the feed, and it is
    CONSTANT-SIZE (depth x width = 1024 counters) however long the
    stream runs — the state-bounded alternative the pipeline keeps
    when the exact profile's per-key store
    (``run_streaming_heavy_hitters``) outgrows memory. A second landed
    table maintains the exact per-key counts through the shared
    ``keycount_partial``/``keycount_merge`` — the same exact profile
    the batch query probes with, kept here so the twin reproduces the
    batch answer (exact, estimate, overcount) end-to-end; a real
    deployment reads its probe keys from whatever candidate tracker it
    runs beside the sketch. The final answer derives ENTIRELY from
    landed state (``v{n}/sketch``, ``v{n}/counts``) through the shared
    ``cms_probe_estimates`` scoring tail. 100 TB: each micro-batch
    shuffles at most 1024 sketch partial rows plus |keys-in-batch|
    count partials; the sketch merge cost is a constant regardless of
    stream size."""
    from ds_mapreduce_spark.operators.skew import (
        keycount_merge,
        keycount_partial,
    )
    from ds_mapreduce_spark.plans.stream_queries import (
        cms_counters,
        cms_merge,
        cms_probe_estimates,
    )

    def step(batch: DataFrame, v: _Version) -> None:
        sketch = cms_counters(batch, depth=4, width=256)
        counts = keycount_partial(batch)
        if v.first:
            sketch, counts = cms_merge(sketch), keycount_merge(counts)
        else:
            sketch = cms_merge(v.prev("sketch"), sketch)
            counts = keycount_merge(v.prev("counts"), counts)
        v.put(sketch, "sketch")
        v.put(counts, "counts")

    def present(sketch: DataFrame, counts: DataFrame) -> DataFrame:
        top = counts.orderBy(F.col("n_events").desc(), "user_id").limit(10)
        return cms_probe_estimates(sketch, top, depth=4, width=256)

    return _run_versioned(
        _feed(spark, events_dir, per_file=True, events=True), state_dir,
        checkpoint_dir, step, present=present,
        empty=lambda b: cms_probe_estimates(cms_counters(b), keycount_partial(b).limit(0)),
        tables=("sketch", "counts"),
    )


def run_streaming_quantile_sketch(
    spark: SparkSession, events_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming quantile-sketch maintenance — the rank member of the
    sketch-store family beside the Count-Min twin: each micro-batch is
    bucketed by the SAME ``qsketch_counters`` the batch query uses and
    the partial sketches MERGE into a landed (event_type, bucket, c)
    counter table via ``qsketch_merge`` — elementwise addition, so the
    landed state is BIT-IDENTICAL to the one-pass sketch under ANY
    chunking or arrival order of the feed, and CONSTANT-SIZE per type
    (<= 64 buckets per octave) however long the stream runs. This is
    exactly why the deterministic log-bucket design was chosen over
    KLL/t-digest (randomized / merge-order-dependent — see
    operators/sketch.py). A second landed table maintains the exact
    per-(type, cents) count state (associative, the evaluation side —
    same trick as ``run_streaming_robust_outliers``) so the twin
    reproduces the batch answer (estimate bounds, exact value,
    containment guarantee) end-to-end through the shared
    ``qsketch_estimates_from_state`` tail. Versioned state as in the
    module docstring. 100 TB: each micro-batch shuffles at most
    |buckets-in-batch| sketch partials plus the batch's distinct
    (type, cents) pairs; the sketch merge cost is a per-type constant
    regardless of stream size."""
    from ds_mapreduce_spark.operators.sketch import (
        qsketch_counters,
        qsketch_estimates_from_state,
        qsketch_merge,
        type_cents_counts,
        type_cents_merge,
    )

    def step(batch: DataFrame, v: _Version) -> None:
        sketch, vcounts = qsketch_counters(batch), type_cents_counts(batch)
        if v.first:
            sketch, vcounts = qsketch_merge(sketch), type_cents_merge(vcounts)
        else:
            sketch = qsketch_merge(v.prev("sketch"), sketch)
            vcounts = type_cents_merge(v.prev("vcounts"), vcounts)
        v.put(sketch, "sketch")
        v.put(vcounts, "vcounts")

    return _run_versioned(
        _feed(spark, events_dir, per_file=True, events=True), state_dir,
        checkpoint_dir, step, present=qsketch_estimates_from_state,
        empty=lambda b: qsketch_estimates_from_state(qsketch_counters(b), type_cents_counts(b)),
        tables=("sketch", "vcounts"),
    )


def run_streaming_hll_rollup(
    spark: SparkSession, orders_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming sketch-store maintenance — the daily-sketch-store
    pattern the batch ``approx_distinct_rollup`` docstring describes,
    actually run: orders arrive as micro-batches and each batch's
    per-(priority, status) Datasketches-HLL partials MERGE into a
    landed sketch store via the shared ``hll_pgs_partial``/
    ``hll_pgs_merge`` (register-wise MAX union + count SUM — both
    associative, so the landed store is chunking-invariant: the twin's
    equivalence test pins the full batch answer, booleans included,
    proving the unioned sketches estimate IDENTICALLY to the one-pass
    sketches). Three landed tables: the (priority, status) sketch
    store, the per-priority direct sketch (same union merge), and the
    exact (priority, custkey) pair set the error-bound boolean needs
    (key-cardinality-sized — the evaluation side, not the production
    state). The final answer derives entirely from landed state through
    the shared ``hll_rollup_from_pgs``/``hll_rollup_present`` tail.
    Versioned state as in the module docstring. 100 TB: per batch the
    work is the batch's group partials plus a group-cardinality-sized
    sketch union — the fact table is never re-read; a year of dailies
    rolls up by unioning 365 sketch rows per group."""
    from ds_mapreduce_spark.plans.relational_queries import (
        hll_pgs_merge,
        hll_pgs_partial,
        hll_rollup_from_pgs,
        hll_rollup_present,
    )

    def step(batch: DataFrame, v: _Version) -> None:
        pgs = hll_pgs_partial(batch)
        pri = batch.groupBy("o_orderpriority").agg(F.hll_sketch_agg("o_custkey").alias("sk"))
        custs = batch.select("o_orderpriority", "o_custkey").distinct()
        if v.first:
            pgs = hll_pgs_merge(pgs)
        else:
            pgs = hll_pgs_merge(v.prev("pgs"), pgs)
            pri = (
                v.prev("pri")
                .unionByName(pri)
                .groupBy("o_orderpriority")
                .agg(F.hll_union_agg("sk").alias("sk"))
            )
            custs = v.prev("custs").unionByName(custs).distinct()
        v.put(pgs, "pgs")
        v.put(pri, "pri")
        v.put(custs, "custs")

    def present(pgs: DataFrame, pri: DataFrame, custs: DataFrame) -> DataFrame:
        direct = (
            pri.groupBy("o_orderpriority")
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__direct"))
            .join(
                custs.groupBy("o_orderpriority").agg(
                    F.countDistinct("o_custkey").cast("bigint").alias("exact_custs")
                ),
                "o_orderpriority",
            )
        )
        return hll_rollup_present(hll_rollup_from_pgs(pgs), direct)

    def empty(batch: DataFrame) -> DataFrame:
        direct = batch.groupBy("o_orderpriority").agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("__direct"),
            F.countDistinct("o_custkey").cast("bigint").alias("exact_custs"),
        )
        return hll_rollup_present(hll_rollup_from_pgs(hll_pgs_partial(batch)), direct)

    return _run_versioned(
        _feed(spark, orders_dir, per_file=True), state_dir, checkpoint_dir, step,
        present=present, empty=empty, tables=("pgs", "pri", "custs"),
    )


def run_streaming_priority_sample(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming weighted sampling without replacement — priority
    sampling (Duffield/Lund/Thorup) as a one-pass O(k) stream state:
    documents arrive as micro-batches, each batch scores through the
    SAME deterministic ``priority_scores`` the batch query uses, and
    the landed state is just the CURRENT TOP-k (50 rows, constant
    size), merged per batch by re-taking the top-k of (landed ∪ batch
    top-k) — exact because top_k(A ∪ B) = top_k(top_k(A) ∪ top_k(B))
    and the md5-derived priorities depend only on the row (the
    deterministic-reproducibility contract the batch query documents).
    This is THE way to keep a weighted sub-corpus cut warm while a
    100 TB crawl lands: per batch the work is one map-side scoring
    pass + a TakeOrdered(k); state never exceeds k rows no matter how
    long the stream runs — the sampling sibling of the CMS twin's
    constant-size sketch. The final answer derives from landed state
    through the shared ``priority_sample_present`` tail; versioned
    state as in the module docstring."""
    from ds_mapreduce_spark.plans.text_queries import (
        priority_sample_present,
        priority_scores,
        priority_top_k,
    )

    def step(batch: DataFrame, v: _Version) -> None:
        top = priority_top_k(priority_scores(batch), 50)
        v.put(top if v.first else priority_top_k(v.prev().unionByName(top), 50))

    return _run_versioned(
        _feed(spark, docs_dir, per_file=True), state_dir, checkpoint_dir, step,
        present=priority_sample_present,
        empty=lambda b: priority_sample_present(priority_top_k(priority_scores(b))),
    )


def run_streaming_bm25_index(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming search-index maintenance (VERDICT r6 #3): documents
    arrive as micro-batches and each batch's index partials MERGE into
    a landed inverted index via ``foreachBatch`` — four state tables,
    all associative (the MV/heavy-hitters contract):

      postings (doc_id, tok, tf)  append (docs are atomic rows, so a
                                  slice never splits a document);
      dl       (doc_id, dl)       append;
      dfreq    (tok, dft)         merge by per-token SUM;
      stats    (d, sum_dl) 1-row  merge by SUM.

    The final answer is derived ENTIRELY from the maintained state by
    ``operators.search.bm25_scores_from_index`` — the same arithmetic
    the batch ``bm25_search`` runs (shared SCORE_EXPR/IDF_EXPR/needle
    selection), but with tf probed from the postings table instead of
    re-tokenizing the corpus: the always-on search tier, where a query
    touches the needle terms' posting lists, never the documents.
    Because every state merge is an associative BIGINT partial and the
    scorer is a pure function of the final state, ANY chunking or
    arrival order of the feed converges to the batch answer exactly —
    the invariant tests/test_streaming.py pins (chunked + shuffled
    feed vs the batch bm25_search top-20). Versioned state as in the
    module docstring.

    100 TB: each micro-batch tokenizes only its delta and shuffles
    |delta postings| rows; postings/dfreq state is bucketed by token in
    a real deployment so the merge is shuffle-free; the per-query probe
    cost is posting-list-sized."""
    from pyspark.sql import Window

    from ds_mapreduce_spark.operators.search import (
        bm25_corpus_stats_partial,
        bm25_dfreq_partial,
        bm25_docstats_partial,
        bm25_postings_partial,
        bm25_scores_from_index,
    )

    def step(batch: DataFrame, v: _Version) -> None:
        post = bm25_postings_partial(batch)
        dl = bm25_docstats_partial(batch)
        dfreq = bm25_dfreq_partial(post)
        stats = bm25_corpus_stats_partial(dl)
        if not v.first:
            post = v.prev("postings").unionByName(post)
            dl = v.prev("dl").unionByName(dl)
            dfreq = (
                v.prev("dfreq")
                .unionByName(dfreq)
                .groupBy("tok")
                .agg(F.sum("dft").cast("bigint").alias("dft"))
            )
            stats = (
                v.prev("stats")
                .unionByName(stats)
                .agg(
                    F.sum("d").cast("bigint").alias("d"),
                    F.sum("sum_dl").cast("bigint").alias("sum_dl"),
                )
            )
        v.put(post, "postings")
        v.put(dl, "dl")
        v.put(dfreq, "dfreq")
        v.put(stats, "stats")

    def present(*index: DataFrame) -> DataFrame:
        # same bounded presentation as the batch query: TakeOrdered(20)
        # first, rank window on <=20 rows
        agg = bm25_scores_from_index(*index)
        top = agg.orderBy(F.col("bm25_scaled").desc(), "doc_id").limit(20)
        w = Window.orderBy(F.col("bm25_scaled").desc(), "doc_id")
        return top.withColumn("rnk", F.row_number().over(w).cast("bigint"))

    def empty(batch: DataFrame) -> DataFrame:
        post, dl = bm25_postings_partial(batch), bm25_docstats_partial(batch)
        return present(post, dl, bm25_dfreq_partial(post), bm25_corpus_stats_partial(dl))

    return _run_versioned(
        _feed(spark, docs_dir, per_file=True), state_dir, checkpoint_dir, step,
        present=present, empty=empty, tables=("postings", "dl", "dfreq", "stats"),
    )


def run_streaming_robust_outliers(
    spark: SparkSession, events_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming robust-outlier census — the EXACT causal twin of the
    batch ``events_robust_outliers`` (VERDICT r6 #7, the stronger
    option chosen over a lossy sketch: see operators/robust.py for the
    design argument). The median is not associative, but the
    per-(user, cents) count table IS: each micro-batch's histogram
    partial merges into versioned state by per-key summation, and the
    final exact median/MAD/outlier derivation
    (``robust_census_from_counts``) is a pure function of that state —
    so ANY chunking or arrival order of the feed reproduces the batch
    answer bit-for-bit, which the equivalence test pins. Versioned
    state as in the module docstring. 100 TB: per batch, |delta
    histogram| rows shuffle; state is Σ per-user distinct cents —
    bounded by the value domain (money quantized to cents), the
    explicit trade against an O(1)-state approximate sketch."""
    from ds_mapreduce_spark.operators.robust import (
        robust_census_from_counts,
        user_cents_counts,
    )

    def step(batch: DataFrame, v: _Version) -> None:
        part = user_cents_counts(batch)
        if not v.first:
            part = (
                v.prev()
                .unionByName(part)
                .groupBy("user_id", "cents")
                .agg(F.sum("cnt").cast("bigint").alias("cnt"))
            )
        v.put(part)

    return _run_versioned(
        _feed(spark, events_dir, per_file=True, events=True), state_dir,
        checkpoint_dir, step, present=robust_census_from_counts,
        empty=lambda b: robust_census_from_counts(user_cents_counts(b)),
    )


def _lsh_cross_pairs(bands_new: DataFrame, index: DataFrame) -> DataFrame:
    """(doc_a < doc_b) pairs of batch docs colliding with landed ones."""
    hit = bands_new.join(
        index.withColumnRenamed("doc_id", "doc_old"), ["band", "band_key"]
    )
    return hit.select(
        F.least("doc_id", "doc_old").alias("doc_a"),
        F.greatest("doc_id", "doc_old").alias("doc_b"),
    )


def run_streaming_minhash_lsh(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Near-dedup AT INGEST: documents arrive as micro-batches and each
    batch is LSH-probed against the accumulated band index — the
    production shape of MinHash dedup for a training-data pipeline,
    where you cannot re-run the corpus-wide self-join per arriving
    shard. State is the banded signature index (doc_id, band,
    band_key): n_bands fixed-size rows per document, APPEND-ONLY (the
    signature computation ``minhash_signatures`` is per-doc map-only,
    so any slicing of the feed produces identical index rows — shared
    with the batch query via ``operators.dedup.lsh_bands``).

    Per batch, the discovered pairs are exactly the batch docs' bucket
    collisions: within-batch bucket pairs (``lsh_band_pairs`` on the
    batch signatures) plus batch x landed-index joins on (band,
    band_key). A pair (a, b) is found when its LATER member arrives —
    so the UNION of per-batch pair sets over any chunking equals the
    one-shot batch ``dedup_minhash_lsh`` pair set exactly, the
    invariant the equivalence test pins (normalized doc_a < doc_b,
    distinct at the final read; the per-batch pair files are the log
    of the module docstring's contract).

    100 TB: per batch the work is |batch bands| map-side rows plus a
    join keyed on (band, band_key) against the index — posting-list
    sized, never corpus-sized; the hot-bucket guard (max_shingle_df in
    the batch family) applies unchanged; the index is bucketed by
    band_key in a real deployment so the probe is shuffle-free."""
    from ds_mapreduce_spark.operators.dedup import (
        lsh_bands,
        lsh_bucket_pairs,
        minhash_signatures,
    )

    num_hashes, band_size = 8, 2

    def step(batch: DataFrame, v: _Version) -> None:
        sig = minhash_signatures(batch, k=3, num_hashes=num_hashes)
        bands_new = lsh_bands(sig, num_hashes, band_size).localCheckpoint(eager=True)
        # within-batch pairs from the SAME checkpointed band table that
        # appends into the index: one signature pipeline per batch
        pairs = lsh_bucket_pairs(bands_new)
        merged = bands_new
        if not v.first:
            index = v.prev()
            pairs = pairs.unionByName(_lsh_cross_pairs(bands_new, index)).distinct()
            merged = index.unionByName(bands_new)
        v.put(pairs, "pairs_")
        v.put(merged)

    return _run_versioned(
        _feed(spark, docs_dir, per_file=True), state_dir, checkpoint_dir, step,
        present=DataFrame.distinct, empty="doc_a bigint, doc_b bigint", log="pairs_",
    )


def run_streaming_connected_components(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Incremental dedup-cluster maintenance: documents arrive as
    micro-batches and the CLUSTER PARTITION (connected components of
    the Jaccard-verified MinHash-LSH pair graph — the batch
    ``dedup_connected_components``) is maintained against each batch,
    so keep/drop representatives are always current while the crawl
    lands, instead of re-clustering the corpus per shard.

    Three landed state tables:

      bands    (doc_id, band, band_key)   append-only LSH index (the
                                          ``run_streaming_minhash_lsh``
                                          state, shared ``lsh_bands``);
      profiles (doc_id, sh, n_shingles)   append-only shingle profiles
                                          (shared ``shingle_profiles``)
                                          — verification always scores
                                          the two docs' full shingle
                                          sets, so arrival order cannot
                                          change a verdict;
      labels   (id, comp)                 the maintained partition,
                                          comp = min doc_id.

    Per batch: candidate pairs are the batch docs' bucket collisions
    (within-batch + batch x landed index, found when the LATER member
    arrives — union over any chunking = the one-shot LSH pair set),
    verified through the shared ``jaccard_verify_pairs`` arithmetic,
    and folded into the partition COMPONENT-LOCALLY: only components
    touched by a new edge endpoint are re-solved (their landed labels
    re-enter as star edges id->comp, which preserve node sets,
    connectivity, and min-id canonicality), untouched components pass
    through unread. CC(star(CC(E1)) u E2) = CC(E1 u E2) — the
    associativity that makes min-id labels a mergeable state, pinned by
    the equivalence test under a 4-way-chunked feed. Versioned state as
    in the module docstring.

    100 TB: per batch the work is |batch bands| probe rows against a
    band_key-bucketed index, a posting-list-sized verify join, and a
    CC re-solve bounded by the TOUCHED components' star edges plus the
    new edges — never the corpus, and never the untouched partition
    (dedup clusters are tiny and dense, so the touched subgraph is a
    few star edges per new pair). The bands/profiles stores append to
    one bucketed table in a real deployment; the versioned rewrite
    here is the test-scale stand-in."""
    from ds_mapreduce_spark.operators.dedup import (
        cc_fold,
        jaccard_verify_pairs,
        lsh_bands,
        lsh_bucket_pairs,
        minhash_signatures,
        shingle_profiles,
    )

    k, num_hashes, band_size, threshold = 3, 8, 2, 0.8

    def step(batch: DataFrame, v: _Version) -> None:
        sig = minhash_signatures(batch, k=k, num_hashes=num_hashes)
        bands_new = lsh_bands(sig, num_hashes, band_size).localCheckpoint(eager=True)
        prof_new = shingle_profiles(batch, k).select("doc_id", "sh", "n_shingles")
        pairs = lsh_bucket_pairs(bands_new)
        if v.first:
            v.put(bands_new, "bands")
            v.put(prof_new, "profiles")
            prev_labels = v.sess.createDataFrame([], "id bigint, comp bigint")
        else:
            index = v.prev("bands")
            pairs = pairs.unionByName(_lsh_cross_pairs(bands_new, index)).distinct()
            v.put(index.unionByName(bands_new), "bands")
            v.put(v.prev("profiles").unionByName(prof_new), "profiles")
            prev_labels = v.prev("labels")
        edges = (
            jaccard_verify_pairs(pairs, v.get("profiles"), threshold)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
        # component-local fold: re-solve ONLY components a new edge
        # touches; untouched labels pass through unread (cc_fold —
        # the algebra is property-tested against union-find)
        v.put(cc_fold(prev_labels, edges), "labels")

    return _run_versioned(
        _feed(spark, docs_dir, per_file=True), state_dir, checkpoint_dir, step,
        present=lambda labels: labels.select(
            F.col("id").alias("doc_id"), F.col("comp").alias("comp_id")
        ),
        empty="doc_id bigint, comp_id bigint", tables=("labels",),
    )


def run_streaming_pmi_counts(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Collocation-statistics maintenance: documents arrive as
    micro-batches and each batch's unigram and adjacent-bigram count
    partials MERGE into two landed state tables — the corpus
    statistics a tokenizer/phrase miner keeps warm while the crawl
    lands, instead of re-censusing the corpus per shard. Counts are
    associative, so the merged tables converge to the one-shot batch
    censuses under ANY chunking of the feed; the top-k is then
    recomputed from the merged counts through the SAME scoring tail
    the registered `collocation_pmi_topk` query uses
    (`pmi_topk_from_counts` — support floor applied only here, never
    to the partials: a pair seen 3 + 2 times across two batches must
    clear the floor after the merge).

    Versioned state as in the module docstring, in two tables beside
    the version dirs (``uni_v{n}``, ``big_v{n}``).

    100 TB: each micro-batch scans only its delta and shuffles
    vocab/bigram-vocab-sized partials (hot tokens absorbed map-side);
    the state tables are key-cardinality-sized (Heaps' law), and the
    scoring tail is vocab-sized work done once at read."""
    from ds_mapreduce_spark.operators.colloc import (
        pmi_bigram_merge,
        pmi_bigram_partial,
        pmi_topk_from_counts,
        pmi_unigram_merge,
        pmi_unigram_partial,
    )

    def step(batch: DataFrame, v: _Version) -> None:
        uni, big = pmi_unigram_partial(batch), pmi_bigram_partial(batch)
        if v.first:
            uni, big = pmi_unigram_merge(uni), pmi_bigram_merge(big)
        else:
            uni = pmi_unigram_merge(v.prev("uni_"), uni)
            big = pmi_bigram_merge(v.prev("big_"), big)
        v.put(uni, "uni_")
        v.put(big, "big_")

    return _run_versioned(
        _feed(spark, docs_dir, per_file=True), state_dir, checkpoint_dir, step,
        present=pmi_topk_from_counts,
        empty=lambda b: pmi_topk_from_counts(pmi_unigram_partial(b), pmi_bigram_partial(b)),
        tables=("uni_", "big_"),
    )


def run_streaming_winnow_screen(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    L: int = 20,
    k: int = 3,
) -> DataFrame:
    """Winnowing PRESCREEN at ingest: each arriving micro-batch is
    fingerprinted (`winnowing_fingerprints`, the same map-only
    selection the batch screen uses via `winnow_flagged_docs`) and
    probed against the accumulated (doc_id, fp) index — the
    production shape for deciding, as shards land, WHICH docs get the
    expensive exact-L excision pass, without re-running a corpus-wide
    fingerprint census per shard.

    State is the fingerprint index itself: distinct (doc_id, fp)
    rows, APPEND-ONLY (fingerprinting is per-doc map-only, so any
    chunking of the feed produces identical index rows). Per batch,
    newly discovered collisions are (a) fps shared by >= 2 docs
    WITHIN the batch and (b) batch fps hitting the landed index —
    and a hit flags BOTH members, retro-flagging the earlier doc the
    way `run_streaming_minhash_lsh` emits a pair when its LATER
    member arrives. The union of per-batch flag emissions (the
    ``flagged_`` log) over any chunking therefore equals the one-shot
    batch screen (`winnow_flagged_docs`: fp census count >= 2)
    EXACTLY — the invariant `tests/test_streaming.py` pins.

    100 TB: per batch the work is |batch| map-side fingerprinting at
    winnowing's ~2/(w+1) density plus one join keyed on the 8-byte fp
    against the index — posting-list sized, never corpus-sized; in a
    real deployment the index is bucketed by fp so the probe is
    shuffle-free, and the flagged log is the work queue the exact-L
    excision pass consumes incrementally."""
    from ds_mapreduce_spark.operators.dedup import winnowing_fingerprints

    w = L - k + 1

    def step(batch: DataFrame, v: _Version) -> None:
        fps_new = winnowing_fingerprints(batch, k=k, w=w).localCheckpoint(eager=True)
        # within-batch collisions: distinct (doc, fp) rows, so a count
        # >= 2 is >= 2 distinct docs — same census as the batch screen
        dup_fp = (
            fps_new.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= 2)
        )
        within = fps_new.join(dup_fp.select("fp"), "fp", "left_semi").select("doc_id")
        if v.first:
            flagged, merged = within.distinct(), fps_new
        else:
            index = v.prev()
            hit = fps_new.join(index.withColumnRenamed("doc_id", "doc_old"), "fp")
            flagged = (
                within.unionByName(hit.select("doc_id"))
                .unionByName(hit.select(F.col("doc_old").alias("doc_id")))
                .distinct()
            )
            merged = index.unionByName(fps_new)
        v.put(flagged, "flagged_")
        v.put(merged)

    return _run_versioned(
        _feed(spark, docs_dir, per_file=True), state_dir, checkpoint_dir, step,
        present=DataFrame.distinct, empty="doc_id bigint", log="flagged_",
    )


def run_streaming_ingest_manifest(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    budget: int = 2000,
    quality_threshold: int = 0,
) -> DataFrame:
    """The ingest admission pipeline as an always-on stream — the
    composed twin of ``ingest_manifest_pipeline``: every arriving
    micro-batch is scrubbed, quality-gated, deduped against the
    accumulated kept-fingerprint store, and its kept docs are routed
    into token-budget shards continuing from the carried offset. Two
    seeded state tables (kept fps; 1-row carried token total), one
    appended manifest log — the decision record per document, written
    once, and the answer.

    Shared code: the per-doc stage is ``operators.ingest.scored_rows``
    verbatim (map-only, slice-able); ownership and routing both walk
    the (okey = md5(doc_id), doc_id) total order, so when arrival
    chunks respect that order the streamed manifest equals the
    one-shot batch manifest EXACTLY (the corpus_shard_plan
    convergence contract — first-arrival-wins ownership coincides
    with the batch min-(okey, doc_id) rule); under arbitrary arrival
    the kept SET per fingerprint is still one doc and shard fills
    remain budget-bounded, only ownership/routing identity shifts
    with arrival (documented, same as the incremental-dedup twin's
    dup_of_history note). Versioned state as in the module docstring.
    100 TB: per batch the work is |batch| map-only rows, one |batch
    fp| probe of the store, and a batch-local prefix sum — the corpus
    is never rescanned."""
    from pyspark.sql import Window

    from ds_mapreduce_spark.operators.ingest import scored_rows
    from ds_mapreduce_spark.operators.relational import prefix_sum_over_total_order

    def step(batch: DataFrame, v: _Version) -> None:
        store, carried = v.prev("fps"), v.prev("carried")
        scored = scored_rows(batch).localCheckpoint(eager=True)
        qual = scored.where(F.col("q") >= F.lit(quality_threshold))
        fresh = qual.join(store, "fp", "left_anti")
        wfp = Window.partitionBy("fp").orderBy("okey", "doc_id")
        ranked = fresh.withColumn("__rn", F.row_number().over(wfp))
        owner = ranked.where(F.col("__rn") == 1).select("doc_id", "okey", "n_tok", "fp")
        kept = (
            prefix_sum_over_total_order(
                owner.select("doc_id", "okey", "n_tok"),
                [F.col("okey"), F.col("doc_id")],
                F.col("n_tok"),
                "cum_local",
            )
            .crossJoin(F.broadcast(carried))
            .select(
                "doc_id",
                F.expr(f"(cum_local + carried - n_tok) DIV {budget}").alias("__shard"),
                "n_tok",
            )
        )
        verdict = (
            F.when(F.col("q") < F.lit(quality_threshold), F.lit("low_quality"))
            .when(F.col("__shard").isNotNull(), F.lit("kept"))
            .otherwise(F.lit("dup"))
        )
        manifest = scored.join(kept.select("doc_id", "__shard"), "doc_id", "left").select(
            "doc_id",
            verdict.alias("verdict"),
            "n_tok",
            F.coalesce(F.col("__shard"), F.lit(-1)).cast("bigint").alias("shard_id"),
        )
        v.put(manifest, "manifest_")
        v.put(store.unionByName(owner.select("fp")).distinct(), "fps")
        new_total = (
            v.get("manifest_")
            .where(F.col("verdict") == "kept")
            .agg(F.sum("n_tok").cast("bigint").alias("b"))
            .crossJoin(F.broadcast(carried))
            .select((F.col("carried") + F.coalesce(F.col("b"), F.lit(0))).alias("carried"))
        )
        v.put(new_total, "carried")

    seed = {
        "carried": spark.createDataFrame([(0,)], "carried bigint"),
        "fps": spark.createDataFrame([], "fp string"),
    }
    return _run_versioned(
        _feed(spark, docs_dir, per_file=True), state_dir, checkpoint_dir, step,
        empty="doc_id bigint, verdict string, n_tok bigint, shard_id bigint",
        log="manifest_", seed=seed,
    )


def run_streaming_ivf_index(
    spark: SparkSession,
    emb_dir: str,
    centroids: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    n_queries: int = 20,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Dense-ANN index maintenance — the third member of the ingest
    trio (sparse search: run_streaming_bm25_index; near-dup:
    run_streaming_minhash_lsh; dense: this). Embeddings arrive as
    micro-batches; each batch is assigned to its nearest FIXED
    centroid (``centroids`` is an offline artifact, passed in like the
    incremental-dedup history — per-batch assignment is a broadcast
    map + batch-local argmax groupBy, shared verbatim with batch via
    ``operators.similarity.assign_to_centroids``) and APPENDED to the
    versioned inverted-index state (vec_id, embedding, centroid_id).
    The final answer probes the maintained index with the SAME
    ``ivf_topk`` probe the batch ``knn_ivf`` runs (assigned= the
    state), so any chunking of the feed reproduces the batch top-k
    exactly — assignment is per-vector against fixed centroids, so
    order cannot matter; the equivalence test pins it. Versioned state
    as in the module docstring. 100 TB: per batch the work is |batch|
    x |centroids| broadcast scores; the index is bucketed by
    centroid_id in a real deployment so a query touches nprobe
    posting lists, never the corpus."""
    from ds_mapreduce_spark.operators.similarity import (
        assign_to_centroids,
        ivf_topk,
    )

    def step(batch: DataFrame, v: _Version) -> None:
        part = assign_to_centroids(batch, centroids)
        v.put(part if v.first else v.prev().unionByName(part))

    def present(index: DataFrame) -> DataFrame:
        queries = index.where(F.col("vec_id") < n_queries).select("vec_id", "embedding")
        return ivf_topk(
            corpus=index, queries=queries, centroids=centroids,
            k=k, nprobe=nprobe, assigned=index,
        ).select(
            "query_id", "neighbor_id", "score", F.col("rnk").cast("bigint").alias("rnk")
        )

    return _run_versioned(
        _feed(spark, emb_dir, per_file=True), state_dir, checkpoint_dir, step,
        present=present, empty=lambda b: present(assign_to_centroids(b, centroids)),
    )


def run_streaming_dsir_selection(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming DSIR selection-state maintenance: documents arrive as
    micro-batches and each batch's importance-state partials MERGE into
    landed state via ``foreachBatch`` — two state tables, both
    associative (the MV/heavy-hitters/BM25-index contract):

      bucketw (bucket, t_cnt, r_cnt)     merge by per-bucket SUM
      docprof (doc_id, lang, bucket, n)  append (docs are atomic rows)

    The selection is derived ENTIRELY from the maintained state by
    ``operators.importance.dsir_select_from_state`` — the same
    fixed-point weight arithmetic and rank presentation the batch
    ``dsir_importance_select`` uses (shared module), but with per-doc
    token-bucket counts probed from the profile table instead of
    re-tokenizing the corpus: sum-over-tokens(w) == sum-over-buckets
    (n·w), so ANY chunking or arrival order of the feed converges to
    the batch answer exactly (pinned by tests/test_streaming.py).
    This is the continuously-learning selection tier: new target/raw
    text re-weights EVERY landed document's importance with zero
    corpus re-reads — re-scoring touches the profile sketch and a
    <=1024-row broadcast only.

    Versioned state as in the module docstring. 100 TB: each
    micro-batch tokenizes only its delta; the weight table stays
    <=1024 rows at any scale; docprof is bucketed by doc_id in a real
    deployment so the append is shuffle-free."""
    from ds_mapreduce_spark.operators.importance import (
        dsir_bucket_merge,
        dsir_bucket_partial,
        dsir_docprof_partial,
        dsir_select_from_state,
        dsir_token_buckets,
    )

    def step(batch: DataFrame, v: _Version) -> None:
        tb = dsir_token_buckets(batch)
        bucketw, prof = dsir_bucket_partial(tb), dsir_docprof_partial(tb)
        if not v.first:
            bucketw = dsir_bucket_merge(v.prev("bucketw").unionByName(bucketw))
            prof = v.prev("docprof").unionByName(prof)
        v.put(bucketw, "bucketw")
        v.put(prof, "docprof")

    def empty(batch: DataFrame) -> DataFrame:
        tb = dsir_token_buckets(batch)
        return dsir_select_from_state(dsir_docprof_partial(tb), dsir_bucket_partial(tb))

    return _run_versioned(
        _feed(spark, docs_dir, per_file=True), state_dir, checkpoint_dir, step,
        present=dsir_select_from_state, empty=empty, tables=("docprof", "bucketw"),
    )


def run_streaming_pca_gramian(
    spark: SparkSession, emb_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming embedding-spectrum maintenance: embedding slices
    arrive as micro-batches and each batch's exact-integer Gramian
    partial MERGES into landed state via ``foreachBatch`` — one state
    table, (pi, pj, g), associative by construction (the Gramian is a
    sum of per-row outer products, the textbook mergeable second-moment
    statistic). The top principal direction is derived ENTIRELY from
    the maintained dim^2-row state by
    ``operators.similarity.pca_power_from_gramian`` — the same
    fixed-point power iteration the batch ``embedding_pca_power`` runs
    (shared function), so ANY chunking or arrival order of the feed
    converges to the batch answer exactly. This is the
    embedding-telemetry-at-ingest tier: anisotropy drift shows up per
    micro-batch without ever rescanning landed vectors, at dim^2 state
    whatever the corpus size. Versioned state as in the module
    docstring (``v{n}/gram``)."""
    from ds_mapreduce_spark.operators.similarity import (
        pca_gramian_merge,
        pca_gramian_partial,
        pca_power_from_gramian,
    )

    def step(batch: DataFrame, v: _Version) -> None:
        gram = pca_gramian_partial(batch)
        if not v.first:
            gram = pca_gramian_merge(v.prev("gram").unionByName(gram))
        v.put(gram, "gram")

    return _run_versioned(
        _feed(spark, emb_dir, per_file=True), state_dir, checkpoint_dir, step,
        present=pca_power_from_gramian,
        empty=lambda b: pca_power_from_gramian(
            pca_gramian_partial(b).localCheckpoint(eager=True)
        ),
        tables=("gram",),
    )


def run_streaming_kmeans_centroids(
    spark: SparkSession,
    emb_dir: str,
    seeds: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    quant: int = 10_000,
) -> DataFrame:
    """One Lloyd refinement step maintained incrementally (r8):
    embeddings arrive as micro-batches; each batch is argmin-assigned
    to the FROZEN ``seeds`` (an offline artifact passed in like the
    IVF twin's centroids — a stream cannot "take the first k") and its
    per-(cid, dim) component-sum/count partial MERGES into versioned
    state via ``foreachBatch``. The partial is associative and
    commutative (``operators.similarity.lloyd_step_partial`` /
    ``lloyd_step_merge`` — the SAME functions each
    ``lloyd_centroids`` batch iteration composes), so ANY chunking of
    the feed converges to the batch answer, and the final read folds
    state into next-iteration centroids with the shared
    ``lloyd_step_centroids`` — bit-equal to ``lloyd_centroids(emb, k,
    iters=1)`` on the union of all batches (the equivalence test
    pins it). This is how k-means actually trains on a 100 TB corpus:
    per-pass state is k×dim rows whatever the corpus size, each
    micro-batch scans only its delta, and successive passes re-run
    the stream with the previous pass's output as the new seeds.
    Versioned state as in the module docstring."""
    from ds_mapreduce_spark.operators.similarity import (
        lloyd_step_centroids,
        lloyd_step_merge,
        lloyd_step_partial,
        quantize_embeddings,
    )

    def partial(batch: DataFrame) -> DataFrame:
        return lloyd_step_partial(quantize_embeddings(batch, quant), seeds)

    def step(batch: DataFrame, v: _Version) -> None:
        # batch 0: the partial IS the state — lloyd_step_partial already
        # ends in the same groupBy(cid, i) aggregate lloyd_step_merge
        # would re-apply, so no merge wrapper is needed
        part = partial(batch)
        v.put(part if v.first else lloyd_step_merge(v.prev(), part))

    return _run_versioned(
        _feed(spark, emb_dir, per_file=True), state_dir, checkpoint_dir, step,
        present=lloyd_step_centroids, empty=lambda b: lloyd_step_centroids(partial(b)),
    )


def run_streaming_bpe_encode(
    spark: SparkSession,
    docs_dir: str,
    rules,
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Tokenizer APPLY as a stream (r9): documents arrive as
    micro-batches and are encoded against FROZEN merge ``rules``
    learned offline (the IVF-centroid / kmeans-seed pattern — a stream
    cannot re-train; rules are the artifact training exists to
    produce). Rule application is deterministic per word and
    corpus-independent (``operators.bpe.segment_words_with_rules``,
    the same ``_merge_pair`` fold training applies), so each batch's
    per-doc census — computed by the SAME ``encode_census_rows`` tail
    the batch query uses — is independent of every other batch, and
    the union over any chunking of the feed is bit-equal to the batch
    ``bpe_encode_census`` whose training produced the rules (the
    equivalence test pins it). Per batch: distinct-word segmentation
    (batch-vocab-sized, map-only fold) + one word join + one doc agg;
    the per-doc results are a log in the version dirs themselves
    (``v{n}``; see the module docstring). 100 TB: this is the
    always-on ingest tokenizer — throughput is scan-bound, state is
    zero (rules are broadcast-sized and frozen), and a vocabulary
    drift large enough to matter ships as NEW rules through the same
    offline loop."""
    from ds_mapreduce_spark.operators.bpe import (
        encode_census_rows,
        segment_words_with_rules,
    )
    from ds_mapreduce_spark.plans.text_queries import _BPE_PATTERN

    def step(batch: DataFrame, v: _Version) -> None:
        words = (
            batch.select(
                F.explode(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 1)).alias("w")
            )
            .where(~F.col("w").contains("\x1f"))
            .distinct()
        )
        v.put(encode_census_rows(batch, _BPE_PATTERN, segment_words_with_rules(words, rules)))

    return _run_versioned(
        _feed(spark, docs_dir, per_file=True), state_dir, checkpoint_dir, step,
        empty="doc_id bigint, lang string, n_words bigint, "
        "n_char_tokens bigint, n_bpe_tokens bigint, saved_bp bigint",
        log="",
    )


def run_streaming_media_features(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Media decode as a stream (r9): the codec tier in an always-on
    ingest pipeline. Documents arrive as micro-batches; each batch is
    synthesized into JPEG payloads and decoded back through the SAME
    real codec chain the batch ``multimodal_jpeg_roundtrip`` query
    uses (``synth_jpeg_pixels -> encode_jpeg -> decode_jpeg_features``
    — full JFIF container, fixed-point IDCT), landing per-doc features
    as a log in the version dirs (``v{n}``, as the bpe twin). The
    decode is a deterministic per-row map, so per-doc rows are
    independent of batching and the union over ANY chunking of the
    feed is bit-equal to the batch query — the stateless-twin pattern
    run_streaming_bpe_encode established, with zero state by design.
    100 TB: this is how a multimodal ingest actually runs — payloads
    decoded once at arrival, features written columnar so downstream
    reads prune the payload bytes away, throughput scan-bound and
    embarrassingly parallel (no shuffle in the per-batch plan)."""
    from ds_mapreduce_spark.operators.jpeg import (
        decode_jpeg_features,
        encode_jpeg,
        synth_jpeg_pixels,
    )

    def step(batch: DataFrame, v: _Version) -> None:
        v.put(decode_jpeg_features(encode_jpeg(synth_jpeg_pixels(batch.select("doc_id")))))

    return _run_versioned(
        _feed(spark, docs_dir, per_file=True), state_dir, checkpoint_dir, step,
        empty="doc_id bigint, width bigint, height bigint, n_blocks bigint, "
        "sum_v bigint, sum_sq bigint",
        log="",
    )


#: The streaming-twin census (VERDICT r7 #6): one row per streaming
#: job, naming the batch query whose results it must reproduce, the
#: state contract it maintains across micro-batches, and the
#: equivalence test that proves it. QUERIES.md's "Streaming twins"
#: section is GENERATED from this table (scripts/gen_queries_md.py);
#: tests/test_streaming_census.py asserts it is complete (every
#: run_streaming_* function appears) and truthful (every batch query
#: is registered, every test exists). ``fn`` names the callable in
#: THIS module unless ``module`` says otherwise.
TWINS: tuple[dict, ...] = (
    dict(fn="run_streaming_wordcount", batch="wordcount",
         state="running per-word counts in the state store (update mode)",
         test="test_streaming_wordcount_matches_batch"),
    dict(fn="run_streaming_tumbling_window", batch="events_tumbling_window",
         state="windowed counts + watermark; append emits closed windows",
         test="test_streaming_tumbling_window_matches_batch"),
    dict(fn="run_streaming_session_window",
         batch="events_native_session_window",
         state="native session-window store; merged session emitted once "
               "its close clears the watermark",
         test="test_streaming_native_session_window_matches_batch"),
    dict(fn="run_streaming_sessionize", module="sessionize",
         batch="events_sessionization",
         state="per-user open-session state (applyInPandasWithState); "
               "emits CLOSED sessions, open ones stay in the store",
         test="test_streaming_sessionize_matches_batch"),
    dict(fn="run_streaming_dedup", batch="dedup_exact",
         state="dropDuplicates first-seen key set (watermark-boundable)",
         test="test_streaming_dedup_keeps_one_per_key"),
    dict(fn="run_streaming_attribution_join", batch="events_attribution_join",
         state="stream-stream interval-join buffers bounded by "
               "watermark + horizon",
         test="test_streaming_attribution_join_matches_batch"),
    dict(fn="run_streaming_cdc_merge", batch="cdc_latest_wins_merge",
         state="landed latest-version table, latest_wins_merge per batch "
               "(foreachBatch, versioned parquet)",
         test="test_streaming_cdc_merge_matches_batch"),
    dict(fn="run_streaming_pii_scrub", batch="pii_redaction",
         state="stateless — the batch pii_scrub_rows expressions applied "
               "per arriving row",
         test="test_streaming_pii_scrub_matches_batch"),
    dict(fn="run_streaming_incremental_dedup", batch="dedup_incremental",
         state="accumulated (md5 fingerprint -> keep_id) store, "
               "incremental_dedup reduction per batch",
         test="test_streaming_incremental_dedup_kept_set_is_chunking_invariant"),
    dict(fn="run_streaming_shard_plan", batch="corpus_shard_plan",
         state="running token total; batches pack into shards continuing "
               "from the accumulated cursor",
         test="test_streaming_shard_plan_matches_batch"),
    dict(fn="run_streaming_mv_maintenance", batch="incremental_agg_maintenance",
         state="landed aggregate-MV partials, mv_partial/mv_merge per batch",
         test="test_streaming_mv_maintenance_matches_batch"),
    dict(fn="run_streaming_scd2", batch="scd2_user_value_history",
         state="keyed (user, instant) version rows; validity intervals "
               "re-derived after each merge (late data safe)",
         test="test_streaming_scd2_matches_batch_with_late_data"),
    dict(fn="run_streaming_hourly_resample", batch="events_hourly_resample",
         state="per-(user, hour) count + exact-cents partials "
               "(hourly_cents_rollup, shared with the batch query)",
         test="test_streaming_hourly_resample_matches_batch_with_late_data"),
    dict(fn="run_streaming_heavy_hitters", batch="events_heavy_hitter_profile",
         state="landed (key, n_events) counts, keycount partial/merge",
         test="test_streaming_heavy_hitters_matches_batch"),
    dict(fn="run_streaming_cms_sketch", batch="cms_heavy_hitter_estimates",
         state="landed constant-size (j, bucket, c) Count-Min counter "
               "table merged elementwise per batch (bit-identical to the "
               "one-pass sketch under any chunking) + the shared exact "
               "keycount profile; estimates recomputed from landed state "
               "through the shared cms_probe_estimates tail",
         test="test_streaming_cms_sketch_matches_batch"),
    dict(fn="run_streaming_quantile_sketch", batch="quantile_sketch_estimates",
         state="landed constant-size-per-type (event_type, bucket, c) "
               "log-bucket quantile sketch merged elementwise per batch "
               "(bit-identical to the one-pass sketch under any chunking; "
               "deterministic DDSketch-style buckets, chosen over "
               "KLL/t-digest for exactly this) + the exact per-(type, "
               "cents) count state the graded comparison needs; "
               "estimates recomputed from landed state through the "
               "shared qsketch_estimates_from_state tail",
         test="test_streaming_quantile_sketch_matches_batch"),
    dict(fn="run_streaming_priority_sample", batch="weighted_priority_sample",
         state="the current top-50 by deterministic md5 priority — an "
               "O(k) constant-size landed sample, exact under any "
               "chunking because top_k(A u B) = top_k(top_k(A) u "
               "top_k(B)) and priorities depend only on the row",
         test="test_streaming_priority_sample_matches_batch"),
    dict(fn="run_streaming_hll_rollup", batch="approx_distinct_rollup",
         state="landed re-aggregatable HLL sketch store (per-group "
               "Datasketches sketches unioned register-wise per batch — "
               "the daily-sketch-store pattern) + the exact pair set the "
               "error-bound booleans need; rollup recomputed from landed "
               "state through the shared partial/merge/present helpers",
         test="test_streaming_hll_rollup_matches_batch"),
    dict(fn="run_streaming_bm25_index", batch="bm25_search",
         state="four associative index tables (postings, doc stats, "
               "doc-frequency, corpus stats) merged per batch",
         test="test_streaming_bm25_index_matches_batch"),
    dict(fn="run_streaming_robust_outliers", batch="events_robust_outliers",
         state="mergeable exact per-user value-count state; median/MAD "
               "recomputed from counts (exact causal twin, not a sketch)",
         test="test_streaming_robust_outliers_matches_batch"),
    dict(fn="run_streaming_minhash_lsh", batch="dedup_minhash_lsh",
         state="accumulated LSH band index; each batch probed against it "
               "(near-dedup at ingest)",
         test="test_streaming_minhash_lsh_matches_batch"),
    dict(fn="run_streaming_connected_components",
         batch="dedup_connected_components",
         state="three landed tables — append-only LSH band index + "
               "shingle profiles (shared candidate/verify operators) and "
               "the maintained (id, comp) partition; each batch's "
               "verified edges fold in COMPONENT-LOCALLY (only touched "
               "components re-solve, their labels re-entering as star "
               "edges; untouched components pass through unread)",
         test="test_streaming_connected_components_matches_batch"),
    dict(fn="run_streaming_pmi_counts", batch="collocation_pmi_topk",
         state="two landed associative count tables (unigram, adjacent "
               "bigram) merged per batch; PMI top-k recomputed from the "
               "merged counts through the shared scoring tail",
         test="test_streaming_pmi_counts_matches_batch"),
    dict(fn="run_streaming_winnow_screen", batch="dedup_span_winnow_screen",
         state="accumulated (doc_id, fp) winnowing-fingerprint index; "
               "each batch probed against it, collisions retro-flag the "
               "landed member (excision prescreen at ingest)",
         test="test_streaming_winnow_screen_matches_batch"),
    dict(fn="run_streaming_ingest_manifest", batch="ingest_manifest_pipeline",
         state="kept-fingerprint store + running manifest cumsum "
               "(scrub -> gate -> dedup -> shard, composed)",
         test="test_streaming_ingest_manifest_matches_batch"),
    dict(fn="run_streaming_ivf_index", batch="knn_ivf",
         state="landed IVF posting lists (centroid assignment per batch)",
         test="test_streaming_ivf_index_matches_batch"),
    dict(fn="run_streaming_dsir_selection", batch="dsir_importance_select",
         state="two associative tables (hashed-unigram bucket counts for "
               "target and raw profiles) merged per batch",
         test="test_streaming_dsir_selection_matches_batch"),
    dict(fn="run_streaming_pca_gramian", batch="embedding_pca_power",
         state="(pi, pj, g) exact-integer Gramian partial merged per batch; "
               "power iteration re-run from landed state",
         test="test_streaming_pca_gramian_matches_batch"),
    dict(fn="run_streaming_kmeans_centroids", batch="kmeans_lloyd_refine",
         state="(cid, dim, sum, count) Lloyd-step partial against frozen "
               "seeds merged per batch; next centroids folded from state "
               "(shared lloyd_step_* functions)",
         test="test_streaming_kmeans_centroids_matches_batch"),
    dict(fn="run_streaming_bpe_encode", batch="bpe_encode_census",
         state="zero state — frozen offline-trained merge rules applied "
               "per batch (shared segment_words_with_rules / "
               "encode_census_rows); per-doc results land append-only "
               "in versioned parquet, idempotent per batch id",
         test="test_streaming_bpe_encode_matches_batch"),
    dict(fn="run_streaming_media_features", batch="multimodal_jpeg_roundtrip",
         state="zero state — the real JPEG codec chain (shared "
               "synth/encode/decode operators) applied per batch; "
               "per-doc features land append-only in versioned parquet, "
               "idempotent per batch id",
         test="test_streaming_media_features_matches_batch"),
)
