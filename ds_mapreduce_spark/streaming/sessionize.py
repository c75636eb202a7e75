"""Sessionization: gap-based event sessions, batch and streaming.

Batch form (``sessionize_batch``) is pure window functions — lag to
detect gaps, running sum to number sessions — fully SQL-expressible
(oracle in plans/stream_queries.py). The streaming twin
(``run_streaming_sessionize``) is the custom stateful operator the
reference could never express: ``applyInPandasWithState`` keeps one
open session per user in the state store and emits sessions as their
closing gap arrives.

The reference has no streaming at all (SURVEY.md §2.3); this is the
Spark-native capability BASELINE.json's pipeline extensions call for.

Scale notes (100 TB of events): both forms shuffle once on user_id.
The batch window sorts within user partitions (no global sort); skewed
power-users are bounded by per-user event counts, not table size. The
streaming form holds O(1) state per user (the open session triple), so
state-store size is #active-users, not #events; a production deploy
adds an event-time timeout to evict idle users.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ds_mapreduce_spark.functions.temporal import epoch_us, idiv_floor
from ds_mapreduce_spark.streaming.jobs import _feed, _to_memory

#: a closed session: who, when it started (epoch sec), how many events,
#: how long it lasted. Micro-second arithmetic end-to-end so batch and
#: stream (and the DuckDB oracle) agree exactly.
SESSION_SCHEMA = "user_id bigint, session_start bigint, n_events bigint, span_sec bigint"
#: open-session state: (start_us, last_us, n_events)
STATE_SCHEMA = "start_us bigint, last_us bigint, n bigint"

DEFAULT_GAP_SEC = 1800  # 30 minutes


def sessionize_batch(events: DataFrame, gap_sec: int = DEFAULT_GAP_SEC) -> DataFrame:
    """Assign gap-based sessions with window functions; one row per session.

    Returns (user_id, session_id, session_start, n_events, span_sec),
    session_id numbered 1.. per user in time order.
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    us = epoch_us("ts")
    prev_us = epoch_us(F.lag("ts").over(w))
    new_session = F.when(
        prev_us.isNull() | ((us - prev_us) > gap_sec * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    run = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        events.select("user_id", "ts", new_session.alias("new_s"))
        .select("user_id", "ts", F.sum("new_s").over(run).alias("session_id"))
        .groupBy("user_id", "session_id")
        .agg(
            idiv_floor(F.min(epoch_us("ts")), 1_000_000).alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            idiv_floor(
                F.max(epoch_us("ts")) - F.min(epoch_us("ts")), 1_000_000
            ).alias("span_sec"),
        )
    )


def _sessionize_group(
    key: tuple[Any, ...],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
    gap_us: int,
) -> Iterator[pd.DataFrame]:
    """Per-user state update: merge this batch's timestamps with the open
    session, emit every session that a later-than-gap event closes, and
    keep the still-open tail session in state."""
    ts_us: list[int] = []
    for pdf in pdf_iter:
        ts_us.extend(int(t) for t in pdf["ts_us"])
    ts_us.sort()

    if state.exists:
        start_us, last_us, n = state.get
    else:
        start_us = last_us = ts_us[0]
        n = 1
        ts_us = ts_us[1:]

    closed: list[tuple[int, int, int]] = []
    for t in ts_us:
        if t - last_us > gap_us:
            closed.append((start_us, n, last_us - start_us))
            start_us, n = t, 1
        else:
            n += 1
        last_us = t
    state.update((start_us, last_us, n))

    if closed:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(closed),
                "session_start": [c[0] // 1_000_000 for c in closed],
                "n_events": [c[1] for c in closed],
                "span_sec": [c[2] // 1_000_000 for c in closed],
            }
        )


def run_streaming_sessionize(
    spark: SparkSession,
    events_dir: str,
    schema=None,
    gap_sec: int = DEFAULT_GAP_SEC,
    sink_table: str = "stream_sessions",
    reader_options: dict | None = None,
) -> DataFrame:
    """Stateful streaming sessionization over a parquet directory with an
    availableNow trigger; returns the emitted (closed) sessions.

    Sessions still open when the stream drains stay in the state store —
    exactly the semantics a live deployment wants (the next microbatch
    may extend them); a production variant adds an event-time timeout to
    flush idle users. Tests compare against ``sessionize_batch`` minus
    each user's final session.
    """
    stream = _feed(spark, events_dir, events=True, schema=schema, options=reader_options)
    gap_us = gap_sec * 1_000_000

    def fn(key, pdf_iter, state):
        return _sessionize_group(key, pdf_iter, state, gap_us)

    out = (
        stream.select("user_id", epoch_us("ts").alias("ts_us"))
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _to_memory(out, sink_table, "append")
