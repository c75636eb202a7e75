"""Event-stream queries (E13/E14): event-time tumbling/sliding windows,
sessionization-style per-user stats, and JSON prop extraction over the
``events`` table — batch mode here (oracle-checkable); the same
transformations run under Structured Streaming in
``ds_mapreduce_spark.streaming`` (tested in tests/test_streaming.py).

Oracle-parity: window boundaries are exchanged as epoch seconds
(BIGINT) — Spark's ``F.window`` aligns to the epoch, so a 1-hour
tumbling window start equals ``date_trunc('hour', ts)`` and a sliding
window start is derivable with integer epoch arithmetic in ANSI SQL.
No raw timestamps cross the comparison boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ds_mapreduce_spark.functions.temporal import epoch_day, epoch_sec, epoch_us, idiv_floor
from ds_mapreduce_spark.plans.registry import register
from ds_mapreduce_spark.sources.catalog import landed, load_table, read_parquet
from ds_mapreduce_spark.operators.sketch import (
    qsketch_bucket_sql_duckdb,
    qsketch_decode_sql_duckdb,
)

#: DuckDB-dialect fragments for the quantile-sketch oracles, generated
#: from operators/sketch.py's constants (the generated-oracle
#: shared-constant convention — change QSKETCH_K in ONE place only)
_QS_BUCKET = qsketch_bucket_sql_duckdb("cents")
_QS_LO, _QS_HI = qsketch_decode_sql_duckdb()


@register(
    "events_tumbling_window",
    oracle="""
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
       event_type, COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 1, 2
""",
    doc="E13 tumbling 1-hour event-time window × event_type: partial+final "
    "agg on (window, type); identical code runs under Structured Streaming "
    "with a watermark (see streaming/jobs.py).",
)
def q_events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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


@register(
    "events_sliding_window",
    oracle="""
WITH exploded AS (
  SELECT (epoch_us(ts) // 1800000000) * 1800 AS window_start,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events
  UNION ALL
  SELECT (epoch_us(ts) // 1800000000) * 1800 - 1800 AS window_start,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events
)
SELECT window_start, COUNT(*) AS n_events,
       CAST((200 * SUM(cents) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) / 10000.0 AS avg_value
FROM exploded GROUP BY window_start
""",
    doc="E13 sliding window (1h length, 30m slide): each event lands in "
    "exactly 2 windows; Spark F.window does the expansion, the oracle "
    "derives both window starts with epoch arithmetic. The mean is rounded "
    "half-up in exact integer cents (window sizes are powers of two, which "
    "lands float means exactly on 4dp rounding boundaries).",
)
def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    return (
        ev.select(F.window("ts", "1 hour", "30 minutes").alias("w"), cents.alias("cents"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("cents").alias("sum_cents"))
        .select(
            epoch_sec(F.col("w.start")).alias("window_start"),
            "n_events",
            (
                F.expr("(200 * sum_cents + n_events) DIV (2 * n_events)") / 10000.0
            ).alias("avg_value"),
        )
    )


@register(
    "events_json_extract",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
FROM events GROUP BY event_type
""",
    doc="E14 JSON prop extraction (get_json_object → typed agg). At scale "
    "prefer from_json with an explicit schema once per column, not "
    "repeated path extraction.",
)
def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
    )


@register(
    "events_hierarchical_rollup",
    oracle="""
SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start,
       event_type, COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 1, 2
""",
    doc="Hypertable-style hierarchical rollup: the daily aggregate is "
    "RE-AGGREGATED from the hourly tumbling-window partials (sum of "
    "sums, sum of counts) rather than from raw events — the continuous-"
    "aggregate pattern where a 100 TB event store maintains hourly "
    "partials once and every coarser granularity derives from them. "
    "Oracle computes daily directly from raw events, proving the "
    "re-aggregation is lossless (DECIMAL partials make it exact).",
)
def q_events_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_value_dec"),
    )
    daily = (
        hourly.groupBy(
            F.date_trunc("day", F.col("w.start")).alias("day"), "event_type"
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value_dec").cast("double"), 4).alias("sum_value"),
        )
    )
    return daily.select(
        epoch_sec("day").alias("day_start"), "event_type", "n_events", "sum_value"
    )


@register(
    "events_sessionization",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       epoch_us(MIN(ts)) // 1000000 AS session_start,
       COUNT(*) AS n_events,
       (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS span_sec
FROM numbered GROUP BY user_id, session_id
""",
    doc="Gap-based sessionization (30-min inactivity gap) via lag + running "
    "sum windows: one shuffle on user_id, per-user sort only. The streaming "
    "twin (applyInPandasWithState, O(1) state per user) lives in "
    "streaming/sessionize.py and is equivalence-tested against this batch "
    "form in tests/test_streaming.py.",
)
def q_events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.streaming.sessionize import sessionize_batch

    ev = load_table(spark, sf_dir, "events")
    return sessionize_batch(ev).select(
        "user_id",
        F.col("session_id").cast("bigint").alias("session_id"),
        "session_start",
        "n_events",
        "span_sec",
    )


@register(
    "events_attribution_join",
    oracle="""
SELECT p.user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       epoch_us(p.ts) AS purchase_us,
       epoch_us(c.ts) AS click_us
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 2 HOUR
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
""",
    doc="Attribution (interval) join: each purchase x every click by the "
    "same user in the preceding 2h. One shuffle of each side on user_id; "
    "the identical transformation runs as a stream-stream join with "
    "watermark-bounded state (streaming/jobs.py attribution_join, "
    "equivalence-tested in tests/test_streaming.py).",
)
def q_events_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.streaming.jobs import attribution_join

    ev = load_table(spark, sf_dir, "events")
    return attribution_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    )


@register(
    "events_props_typed",
    oracle="""
SELECT CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS BIGINT) AS k_decile,
       COUNT(*) AS n,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
GROUP BY 1
""",
    doc="E14 typed JSON: from_json with an explicit schema parses props "
    "ONCE into a struct (one parse per row however many fields are "
    "read — the scale rule vs repeated get_json_object path probes), "
    "then typed bucketing + agg.",
)
def q_events_props_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type", F.from_json("props", "k bigint").alias("p")
    ).where(F.col("p.k").isNotNull())
    return parsed.groupBy(
        F.expr("p.k DIV 10").alias("k_decile")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
    )


@register(
    "events_user_activity",
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       (epoch_us(MAX(ts)) // 1000000) - (epoch_us(MIN(ts)) // 1000000) AS active_span_sec,
       ROUND(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2)) ELSE 0 END) AS DOUBLE), 4) AS purchase_value
FROM events GROUP BY user_id
""",
    doc="E13-adjacent per-user activity profile (the batch shape of "
    "sessionization): span, type diversity, conditional aggregation.",
)
def q_events_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
        (epoch_sec(F.max("ts")) - epoch_sec(F.min("ts")))
        .cast("bigint")
        .alias("active_span_sec"),
        F.round(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value").cast("decimal(12,2)")
                ).otherwise(F.lit(0))
            ).cast("double"),
            4,
        ).alias("purchase_value"),
    )


@register(
    "events_pivot",
    oracle="""
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
       COUNT(*) FILTER (WHERE event_type = 'view')     AS view,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
       COUNT(*) FILTER (WHERE event_type = 'error')    AS error
FROM events GROUP BY user_id
""",
    doc="Pivot (wide reshaping): per-user event-type count matrix via "
    "groupBy().pivot() with an EXPLICIT value list — at scale the list "
    "matters (implicit pivot runs a distinct scan first and caps at "
    "spark.sql.pivotMaxValues); compiles to one pass of conditional "
    "aggregates, single shuffle.",
)
def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@register(
    "events_unpivot",
    oracle="""
WITH wide AS (
  SELECT user_id,
         COUNT(*) FILTER (WHERE event_type = 'click') AS click,
         COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase
  FROM events GROUP BY user_id
)
SELECT user_id, metric, n FROM (
  SELECT user_id, 'click' AS metric, click AS n FROM wide
  UNION ALL
  SELECT user_id, 'purchase' AS metric, purchase AS n FROM wide
)
""",
    doc="Unpivot (tall reshaping) back from a pivoted matrix: "
    "DataFrame.unpivot (ANSI UNPIVOT) — map-only Expand, no shuffle "
    "beyond the source agg; the wide->tall->wide round trip is how "
    "metric tables feed generic per-metric operators.",
)
def q_events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "purchase"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    return wide.unpivot("user_id", ["click", "purchase"], "metric", "n")


@register(
    "events_value_histogram",
    oracle="""
SELECT CAST(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) // 2000 + 1 AS BIGINT) AS bucket,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 1
""",
    doc="Value histogram via width_bucket (25 equal bins of width 20 over "
    "[0, 500)): the fixed-bin histogram is a plain groupBy — partial+"
    "final agg, one shuffle of <= 27 rows per task. Oracle mirrors the "
    "bin function in exact integer cents (DuckDB 1.0 has no "
    "width_bucket); bin edges land identically because both sides "
    "bucket the same DECIMAL.",
)
def q_events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(12,2)")
    return ev.groupBy(
        F.width_bucket(v, F.lit(0), F.lit(500), F.lit(25)).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(v).cast("double"), 4).alias("sum_value"),
    )


@register(
    "events_rolling_1h_stats",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS ts_sec,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events
),
framed AS (
  SELECT event_id, user_id, ts_sec,
         COUNT(*) OVER w AS n_1h,
         SUM(cents) OVER w AS sum_cents
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
               RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts_sec, n_1h,
       CAST((200 * sum_cents + n_1h) // (2 * n_1h) AS BIGINT) / 10000.0 AS avg_1h
FROM framed
""",
    doc="Time-based rolling aggregate (RANGE frame): per user, each event's "
    "trailing-1h event count and mean value — the per-entity rolling "
    "feature every fraud/abuse/rate-limit pipeline computes. RANGE frame "
    "on epoch seconds (not ROWS — equal-timestamp peers must all join the "
    "frame, which also makes the result tiebreak-free). ONE shuffle on "
    "user_id + per-user sort; the running frame is O(1) memory per "
    "partition. Mean is exact-integer half-up — the sliding_window trick.",
)
def q_events_rolling_1h_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "user_id",
        epoch_sec("ts").alias("ts_sec"),
        (F.col("value").cast("decimal(12,2)") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_sec").rangeBetween(-3599, 0)
    framed = e.select(
        "event_id",
        "user_id",
        "ts_sec",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum("cents").over(w).alias("sum_cents"),
    )
    return framed.select(
        "event_id",
        "user_id",
        "ts_sec",
        "n_1h",
        (F.expr("(200 * sum_cents + n_1h) DIV (2 * n_1h)") / 10000.0).alias("avg_1h"),
    )


@register(
    "events_funnel",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
),
v AS (SELECT user_id, MIN(us) AS v_us FROM e WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(e.us) AS c_us
      FROM e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.us > v.v_us GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(e.us) AS p_us
      FROM e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.us > c.c_us GROUP BY e.user_id)
SELECT (SELECT COUNT(DISTINCT user_id) FROM e) AS n_users,
       (SELECT COUNT(*) FROM v) AS n_viewed,
       (SELECT COUNT(*) FROM c) AS n_clicked_after_view,
       (SELECT COUNT(*) FROM p) AS n_purchased_after_click
""",
    doc="Funnel analysis (view → click → purchase, strictly ordered in "
    "time): the first-touch cascade — first view per user, first click "
    "AFTER that view, first purchase AFTER that click — as three "
    "aggregates chained by joins that all share the user_id "
    "partitioning (one physical shuffle family, each stage's row count "
    "shrinks monotonically). Timestamps compare as integer epoch-µs, so "
    "strict 'after' is engine-exact. The single-row output is the "
    "conversion report every product-analytics pipeline ships.",
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", "event_type", epoch_us("ts").alias("us"))
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("us") > F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("c_us"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("us") > F.col("c_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    n_users = e.agg(F.count_distinct("user_id").alias("n_users"))
    return (
        n_users.crossJoin(F.broadcast(v.agg(F.count(F.lit(1)).alias("n_viewed"))))
        .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("n_clicked_after_view"))))
        .crossJoin(F.broadcast(p.agg(F.count(F.lit(1)).alias("n_purchased_after_click"))))
    )


@register(
    "events_cohort_retention",
    oracle="""
WITH days AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
first_seen AS (
  SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id
),
activity AS (
  SELECT DISTINCT d.user_id, f.cohort_day, d.day - f.cohort_day AS day_offset
  FROM days d JOIN first_seen f ON d.user_id = f.user_id
)
SELECT cohort_day, day_offset, COUNT(*) AS n_active_users
FROM activity WHERE day_offset <= 7
GROUP BY cohort_day, day_offset
""",
    doc="Cohort retention: users grouped by first-seen day, counted on "
    "each of their first 7 active day-offsets — the retention triangle. "
    "Day arithmetic is integer epoch-µs DIV 86400e6 (no date/timezone "
    "functions cross the engine boundary). first_seen joins back on "
    "user_id — the same partitioning as the groupBy that produced it, so "
    "the fact passes through one shuffle; the (cohort, offset) matrix "
    "agg is bounded by days², not data.",
)
def q_events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", epoch_day("ts").alias("day"))
    first_seen = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = (
        days.join(first_seen, "user_id")
        .select("user_id", "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .distinct()
    )
    return (
        activity.where(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@register(
    "skew_salted_join",
    oracle="""
WITH dim AS (
  SELECT event_type,
         CAST(COUNT(*) AS DECIMAL(10,0)) AS n,
         SUM(CAST(value AS DECIMAL(12,2))) AS s
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN CAST(e.value AS DECIMAL(12,2)) * d.n > d.s
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.event_type
""",
    doc="Skew-mitigating SALTED join, graded against an unsalted oracle: "
    "events are enriched with their event_type's (count, decimal sum) "
    "to flag above-average values — but event_type has ~5 distinct "
    "values, the canonical hot-key join that melts one reducer at "
    "100 TB. The probe side carries salt = event_id % 8 and the dim "
    "side is REPLICATED once per salt (explode(sequence(0,7))), so the "
    "join key (event_type, salt) spreads each hot key over 8 tasks; "
    "every probe row still matches exactly one replica, which the "
    "hash-equality with the plain-join oracle proves. Above-average "
    "test is exact decimal arithmetic (value*n > sum — no division, no "
    "floats). 100 TB: salt fan-out K sizes to the skew ratio; the dim "
    "replication is K× a POST-AGGREGATE (bounded) table, never the "
    "fact side, and AQE's skew-join handles residual imbalance. The "
    "plan test pins salt into the join keys with broadcast disabled.",
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("value").cast("decimal(12,2)").alias("v")
    )
    dim = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(10,0)").alias("n"),
        F.sum("v").alias("s"),
    )
    k = 8
    dim_x = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
    ).withColumn("salt", F.col("salt").cast("int"))
    probe = ev.withColumn("salt", (F.col("event_id") % k).cast("int"))
    joined = probe.join(dim_x, ["event_type", "salt"])
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("v") * F.col("n") > F.col("s"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_above_avg"),
    )


@register(
    "events_dow_hour_profile",
    oracle="""
WITH base AS (
  SELECT (((epoch_us(ts) // 1000000) // 86400 + 4) % 7) AS dow,
         ((epoch_us(ts) // 1000000) % 86400) // 3600 AS hour_utc,
         event_type, value
  FROM events
)
SELECT CAST(dow AS BIGINT) AS dow,
       CAST(hour_utc AS BIGINT) AS hour_utc,
       event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 4) AS sum_value
FROM base
GROUP BY dow, hour_utc, event_type
""",
    doc="Seasonality profile: day-of-week × UTC-hour × event_type heat "
    "counts — the load-shape report behind capacity planning and "
    "anomaly baselines. DOW is computed with pure integer epoch "
    "arithmetic ((epoch_days + 4) % 7, anchoring 1970-01-01 to "
    "Thursday=4 → 0=Sunday) instead of engine date functions, whose "
    "week-start conventions differ between Spark (dayofweek 1=Sunday) "
    "and DuckDB (dayofweek 0=Sunday) — the CLAUDE.md timestamp "
    "invariant applied to derived calendar fields. Map-only projection "
    "+ one 7×24×|types| aggregation shuffle; partial agg bounds the "
    "shuffle to one row per group per task at any scale.",
)
def q_events_dow_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.pmod(epoch_day("ts") + 4, F.lit(7)).alias("dow"),
            idiv_floor(F.pmod(epoch_sec("ts"), F.lit(86400)), 3600).alias("hour_utc"),
            "event_type",
            F.col("value").cast("decimal(12,2)").alias("v"),
        )
        .groupBy("dow", "hour_utc", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("v").cast("double"), 4).alias("sum_value"),
        )
    )


@register(
    "events_native_session_window",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       epoch_us(MIN(ts)) // 1000000 AS session_start,
       epoch_us(MAX(ts)) // 1000000 + 1800 AS session_end,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 4) AS sum_value
FROM numbered GROUP BY user_id, session_id
""",
    doc="Spark's NATIVE session_window operator (F.session_window — "
    "merge-on-overlap inside the aggregation, no lag/running-sum "
    "windows), graded against the same lag-derived oracle as "
    "events_sessionization with one boundary refinement: the native "
    "window is half-open ([start, last+gap)), so an event at EXACTLY "
    "gap distance starts a new session — the oracle flags new_s on "
    ">= gap where the window-function twin uses >. Both formulations "
    "in the same engine lets a user pick per workload: session_window "
    "pushes merging into the agg operator (works unchanged in "
    "Structured Streaming with state-store merge), the window form "
    "composes with arbitrary per-session logic. One user_id shuffle "
    "either way; value sums on DECIMAL.",
)
def q_events_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.streaming.jobs import session_window_agg

    return session_window_agg(load_table(spark, sf_dir, "events"))


@register(
    "events_rolling_anomaly_flags",
    oracle="""
WITH base AS (
  SELECT event_id, user_id, event_type,
         epoch_us(ts) // 1000000 AS ts_sec,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events
),
framed AS (
  SELECT event_id, event_type, cents,
         COUNT(*) OVER w AS n_1h,
         SUM(cents) OVER w AS s_1h,
         SUM(CAST(cents AS HUGEINT) * cents) OVER w AS sq_1h
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
               RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
),
flagged AS (
  SELECT event_type,
         CASE WHEN n_1h >= 5
               AND CAST(n_1h * cents - s_1h AS HUGEINT)
                   * CAST(n_1h * cents - s_1h AS HUGEINT)
                   > 9 * (n_1h * sq_1h - CAST(s_1h AS HUGEINT) * s_1h)
              THEN 1 ELSE 0 END AS anom
  FROM framed
)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(anom) AS BIGINT) AS n_anomalies
FROM flagged GROUP BY event_type
""",
    doc="Rolling z-score anomaly flags — the fraud/abuse shape on top of "
    "the trailing-window machinery: an event is anomalous when its value "
    "deviates >3 sigma from the user's OWN trailing-1h distribution "
    "(n>=5 for a meaningful baseline). The z-test is EXACT integer "
    "arithmetic on cents — (n*x - s)^2 > 9*(n*sq - s^2) after clearing "
    "denominators — so no float variance ever crosses the engine "
    "boundary (means/stddevs of doubles are partition-order-dependent; "
    "this is the CLAUDE.md decimal rule applied to second moments). "
    "Second moments are DECIMAL(38,0) Spark-side ≙ HUGEINT oracle-side "
    "(ADVICE r4: a BIGINT 9·n·sq wraps near 9e18 at ~1000 events/h of "
    "cents~1e6 while DuckDB's HUGEINT doesn't — both engines are now "
    "exact to 38 digits and overflow LOUD, never silently). One "
    "user_id shuffle, O(1) running frame state; the census shuffle "
    "carries 5 rows.",
)
def q_events_rolling_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        "event_type",
        epoch_sec("ts").alias("ts_sec"),
        (F.col("value").cast("decimal(12,2)") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_sec").rangeBetween(-3599, 0)
    cd = F.col("cents").cast("decimal(19,0)")
    framed = base.select(
        "event_type",
        "cents",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum("cents").over(w).alias("s_1h"),
        # cents^2 accumulates in DECIMAL(38,0): a BIGINT second moment
        # wraps silently at ~9e18 (ADVICE r4); DECIMAL is exact to 38
        # digits and fails loud beyond.
        F.sum(cd * cd).over(w).alias("sq_1h"),
    )
    dev = (
        F.col("n_1h").cast("decimal(19,0)") * F.col("cents").cast("decimal(19,0)")
        - F.col("s_1h").cast("decimal(38,0)")
    ).cast("decimal(19,0)")
    var_n2 = (
        F.col("n_1h").cast("decimal(19,0)") * F.col("sq_1h")
        - F.col("s_1h").cast("decimal(19,0)") * F.col("s_1h").cast("decimal(19,0)")
    )
    anom = F.when(
        (F.col("n_1h") >= 5) & (dev * dev > 9 * var_n2), 1
    ).otherwise(0)
    return framed.select("event_type", anom.alias("anom")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("anom").cast("bigint").alias("n_anomalies"),
    )


@register(
    "events_heavy_hitter_profile",
    oracle="""
WITH pk AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id),
tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS d
        FROM pk)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_events * 10000 // t AS BIGINT) AS share_bp,
       t AS n_total_events,
       d AS n_distinct_users
FROM pk CROSS JOIN tot
ORDER BY n_events DESC, user_id LIMIT 10
""",
    doc="Key-skew diagnostics (r5) — the profile you run BEFORE choosing "
    "a join/window strategy at 100 TB: exact top-10 heavy-hitter keys "
    "with integer-bp traffic share, plus total/distinct context on every "
    "row. The output decides between plain shuffle, AQE skew-split, "
    "salting (operators/skew.py), or a quota_rank pre-thin — the "
    "repo's skew playbook needs this measurement as its first step. "
    "Plan: one partial-aggregatable user_id groupBy (shuffle carries "
    "one row per key per task), a 1-row scalar branch (bounded "
    "SinglePartition) broadcast back, and TakeOrderedAndProject for "
    "the top-10 (per-partition heaps, no global sort). Deterministic: "
    "ties break by user_id.",
)
def q_events_heavy_hitter_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.skew import (
        heavy_hitter_present,
        keycount_partial,
    )

    ev = load_table(spark, sf_dir, "events")
    # partial + present shared verbatim with run_streaming_heavy_hitters
    return heavy_hitter_present(keycount_partial(ev))


@register(
    "scd2_user_value_history",
    oracle="""
WITH src AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS s,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
dedup AS (  -- one state row per (user, instant): keep the max cents
  SELECT user_id, s, MAX(cents) AS cents FROM src GROUP BY user_id, s
),
changes AS (  -- change compression: drop rows equal to the prior state
  SELECT user_id, s, cents,
         LAG(cents) OVER (PARTITION BY user_id ORDER BY s) AS prev
  FROM dedup
),
versions AS (
  SELECT user_id, s, cents FROM changes WHERE prev IS NULL OR cents <> prev
)
SELECT user_id,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
       s AS valid_from_sec,
       LEAD(s) OVER w AS valid_to_sec,
       cents,
       LEAD(s) OVER w IS NULL AS is_current
FROM versions
WINDOW w AS (PARTITION BY user_id ORDER BY s)
""",
    doc="SCD2 (type-2 slowly-changing dimension) history build (r5) — "
    "the warehouse pattern cdc_latest_wins_merge deliberately discards: "
    "instead of keeping only the latest state, every purchase-state "
    "change becomes a VERSIONED row with [valid_from, valid_to) "
    "validity and an is_current flag, after change compression (an "
    "update equal to the prior state produces no version — the step "
    "that keeps dimension tables from bloating under idempotent "
    "upserts). Same-instant updates collapse deterministically "
    "(max cents) before compression so versioning is total-ordered. "
    "Shape: ONE user_id shuffle feeds the dedup groupBy and all three "
    "windows (lag for compression, row_number + lead for versioning — "
    "Catalyst reuses the partitioning). 100 TB: per-user partitions "
    "are bounded by per-entity update counts (the SCD2 state key), "
    "never global volume; incremental maintenance = re-version only "
    "users present in the delta (the dedup_incremental pattern).",
)
def q_scd2_user_value_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.relational import (
        purchase_change_rows,
        scd2_versions,
    )

    ev = load_table(spark, sf_dir, "events")
    src = purchase_change_rows(ev)
    return scd2_versions(src, "user_id", "s", "cents").withColumnsRenamed(
        {"valid_from": "valid_from_sec", "valid_to": "valid_to_sec"}
    )


@register(
    "events_rolling_7d_active_users",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 1000000 // 86400 AS d FROM events
),
mx AS (SELECT MAX(d) AS m FROM ud),
expl AS (
  SELECT DISTINCT user_id, d + i AS w
  FROM ud, UNNEST(range(0, 7)) t(i)
),
roll AS (
  SELECT w, COUNT(*) AS rolling_7d_users
  FROM expl WHERE w <= (SELECT m FROM mx) GROUP BY w
),
daily AS (SELECT d, COUNT(*) AS daily_users FROM ud GROUP BY d)
SELECT w * 86400 AS day_start,
       CAST(rolling_7d_users AS BIGINT) AS rolling_7d_users,
       CAST(COALESCE(daily_users, 0) AS BIGINT) AS daily_users
FROM roll LEFT JOIN daily ON daily.d = roll.w
""",
    doc="Exact trailing-7-day distinct active users per day (r5) — the "
    "sliding COUNT(DISTINCT) every engagement dashboard needs and "
    "naive plans get catastrophically wrong (a 7-way self-join, or a "
    "RANGE window holding every user id in one frame). Scalable shape: "
    "dedupe to (user, day) once — events collapse by ~events-per-user-"
    "day before anything else moves — then each (user, day) CONTRIBUTES "
    "itself to the 7 window-ends it affects (a bounded ×7 map-side "
    "explode), a second dedup makes contribution exactly-once per "
    "(user, window), and a plain count per window finishes. Every "
    "shuffle carries user-day or user-window rows (partial-"
    "aggregatable); no per-window distinct state, no self-join. "
    "100 TB: cost is 7×|user-days|, independent of raw event volume; "
    "window length generalizes by swapping the literal 7.",
)
def q_events_rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # the (user, day) dedup feeds THREE branches (max-day, explode,
    # daily); checkpointing |user-days| rows keeps events at ONE scan
    ud = (
        ev.select("user_id", epoch_day("ts").alias("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    mx = ud.agg(F.max("d").alias("m"))
    expl = (
        ud.select("user_id", F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("w"))
        .distinct()
        .crossJoin(F.broadcast(mx))
        .where(F.col("w") <= F.col("m"))
    )
    roll = expl.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("rolling_7d_users")
    )
    daily = ud.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("daily_users")
    )
    return (
        roll.join(daily, roll.w == daily.d, "left")
        .select(
            (F.col("w") * 86400).alias("day_start"),
            "rolling_7d_users",
            F.coalesce(F.col("daily_users"), F.lit(0)).cast("bigint").alias("daily_users"),
        )
    )


@register(
    "twap_user_value",
    oracle="""
WITH src AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS s,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
hz AS (SELECT MAX(s) AS h FROM src),
dedup AS (
  SELECT user_id, s, MAX(cents) AS cents FROM src GROUP BY user_id, s
),
changes AS (
  SELECT user_id, s, cents,
         LAG(cents) OVER (PARTITION BY user_id ORDER BY s) AS prev
  FROM dedup
),
versions AS (
  SELECT user_id, s, cents,
         LEAD(s) OVER (PARTITION BY user_id ORDER BY s) AS nxt
  FROM changes WHERE prev IS NULL OR cents <> prev
),
weighted AS (
  SELECT user_id, cents, s,
         COALESCE(nxt, (SELECT h FROM hz)) - s AS span
  FROM versions
)
SELECT user_id,
       COUNT(*) AS n_versions,
       CAST(SUM(span) AS BIGINT) AS observed_sec,
       CAST(CASE WHEN SUM(span) = 0 THEN MAX(cents)
                 ELSE (2 * SUM(cents * span) + SUM(span)) // (2 * SUM(span))
            END AS BIGINT) AS twap_cents,
       CAST(max_by(cents, s) AS BIGINT) AS last_cents
FROM weighted GROUP BY user_id
""",
    doc="Time-weighted average price (TWAP) per user over the SCD2 "
    "validity history (r5) — the canonical 'average STATE over time, "
    "not average of events' aggregate (billing meters, position "
    "marking, feature stores): each version contributes its cents "
    "weighted by how long it was valid, open versions close at the "
    "global observation horizon, and the mean is exact half-up integer "
    "arithmetic (cents×seconds products stay far inside BIGINT). "
    "Composes operators/relational.scd2_versions unchanged, so the "
    "weighting is provably over the SAME history the SCD2 query "
    "publishes. Shape: the versions' user_id shuffle is the only data "
    "exchange (the horizon is a 1-row broadcast); the final per-user "
    "agg is partial-aggregatable. 100 TB: identical to scd2 — bounded "
    "by per-entity change counts, never event volume.",
)
def q_twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.relational import (
        purchase_change_rows,
        scd2_versions,
    )

    ev = load_table(spark, sf_dir, "events")
    src = purchase_change_rows(ev)
    horizon = src.agg(F.max("s").alias("h"))
    v = scd2_versions(src, "user_id", "s", "cents")
    weighted = v.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        "cents",
        F.col("valid_from").alias("s"),
        (F.coalesce(F.col("valid_to"), F.col("h")) - F.col("valid_from")).alias(
            "span"
        ),
    )
    num = F.sum(F.col("cents") * F.col("span"))
    den = F.sum("span")
    return weighted.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_versions"),
        den.cast("bigint").alias("observed_sec"),
        F.when(den == 0, F.max("cents"))
        .otherwise(idiv_floor(2 * num + den, 2 * den))
        .cast("bigint")
        .alias("twap_cents"),
        F.max_by("cents", "s").cast("bigint").alias("last_cents"),
    )


@register(
    "multi_touch_attribution",
    oracle="""
WITH pairs AS (
  SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
         epoch_us(c.ts) AS click_us
  FROM events p
  JOIN events c
    ON c.user_id = p.user_id
   AND c.ts <= p.ts
   AND c.ts >= p.ts - INTERVAL 2 HOUR
  WHERE p.event_type = 'purchase' AND c.event_type = 'click'
),
sized AS (
  SELECT user_id, purchase_id,
         COUNT(*) OVER (PARTITION BY purchase_id) AS n,
         ROW_NUMBER() OVER (PARTITION BY purchase_id
                            ORDER BY click_us, click_id) AS rn
  FROM pairs
),
credits AS (
  SELECT user_id, purchase_id,
         10000 // n + CASE WHEN rn <= 10000 % n THEN 1 ELSE 0 END AS credit_bp
  FROM sized
)
SELECT user_id,
       CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_attributed_purchases,
       COUNT(*) AS n_credited_clicks,
       CAST(SUM(credit_bp) AS BIGINT) AS total_credit_bp,
       SUM(credit_bp) = 10000 * COUNT(DISTINCT purchase_id) AS credit_conserved
FROM credits GROUP BY user_id
""",
    doc="Linear multi-touch attribution (r5) — every click in the 2h "
    "pre-purchase window shares the conversion credit equally, in "
    "EXACT integer basis points: each click gets 10000 DIV n bp and "
    "the remainder distributes to the earliest clicks (half-up-free, "
    "deterministic tie-break on click id), so per-purchase credit sums "
    "to exactly 10000 — the credit_conserved column PROVES conservation "
    "in the result instead of asserting it in prose (float 1/n credit "
    "leaks basis points on every ternary conversion). Builds on the "
    "same attribution pair join as events_attribution_join (shared "
    "streaming twin); the per-purchase window partition is bounded by "
    "clicks-per-user-per-2h — a rate, not a volume. One user_id pair "
    "shuffle + one purchase_id window shuffle + the final per-user agg.",
)
def q_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ds_mapreduce_spark.streaming.jobs import attribution_join

    ev = load_table(spark, sf_dir, "events")
    pairs = attribution_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    )
    wp = Window.partitionBy("purchase_id")
    wo = wp.orderBy("click_us", "click_id")
    sized = pairs.select(
        "user_id",
        "purchase_id",
        F.count(F.lit(1)).over(wp).alias("n"),
        F.row_number().over(wo).alias("rn"),
    )
    credits = sized.select(
        "user_id",
        "purchase_id",
        (
            idiv_floor(F.lit(10000), F.col("n"))
            + F.when(F.col("rn") <= F.pmod(F.lit(10000), F.col("n")), 1).otherwise(0)
        ).alias("credit_bp"),
    )
    return credits.groupBy("user_id").agg(
        F.countDistinct("purchase_id").cast("bigint").alias("n_attributed_purchases"),
        F.count(F.lit(1)).alias("n_credited_clicks"),
        F.sum("credit_bp").cast("bigint").alias("total_credit_bp"),
        (
            F.sum("credit_bp")
            == 10000 * F.countDistinct("purchase_id")
        ).alias("credit_conserved"),
    )


@register(
    "session_path_analysis",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), p AS (
  SELECT user_id, session_id,
         array_to_string(
           (list(event_type ORDER BY ts, event_id))[1:5], '>') AS path
  FROM numbered GROUP BY user_id, session_id
)
SELECT path, COUNT(*) AS n_sessions
FROM p GROUP BY path
ORDER BY n_sessions DESC, path LIMIT 20
""",
    doc="Session path analysis (r5) — the top-20 most common event-type "
    "journeys (first 5 steps of each gap-30m session, '>'-joined): the "
    "product-analytics 'user flows' report. Within-session step order "
    "is total (event time, then event id at equal microseconds) so the "
    "path strings are deterministic cross-engine. Shape: the same ONE "
    "user_id shuffle as sessionization builds per-session ordered type "
    "arrays (collect_list + sort_array fuse into the session groupBy — "
    "per-group arrays bounded by the 5-step truncation consumer, "
    "session sizes bounded by the gap), then a path-keyed count and "
    "TakeOrdered(20) — no global sort. Path cardinality is bounded by "
    "|event_types|^5, and the truncation keeps hot sessions from "
    "building megabyte arrays.",
)
def q_session_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", epoch_us("ts").alias("us"), "event_id", "event_type"
    )
    # Both windows totally ordered on (us, event_id): same-microsecond
    # events for one user would otherwise make the boundary flag (lag)
    # and the running sum disagree on row order — nondeterministic
    # session assignment (ADVICE r5). The oracle mirrors the tie-break.
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    prev_us = F.lag("us").over(w)
    new_s = F.when(
        prev_us.isNull() | ((F.col("us") - prev_us) > 1800 * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    numbered = ev.select(
        "user_id",
        "us",
        "event_id",
        "event_type",
        new_s.alias("new_s"),
    ).select(
        "user_id",
        "us",
        "event_id",
        "event_type",
        F.sum("new_s").over(Window.partitionBy("user_id").orderBy("us", "event_id")
                            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_id"),
    )
    steps = F.transform(
        F.slice(
            F.sort_array(
                F.collect_list(F.struct("us", "event_id", "event_type"))
            ),
            1,
            5,
        ),
        lambda x: x.event_type,
    )
    p = numbered.groupBy("user_id", "session_id").agg(
        F.array_join(steps, ">").alias("path")
    )
    return (
        p.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


@register(
    "events_robust_outliers",
    oracle="""
WITH base AS (
  SELECT user_id, event_id,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events
),
ranked AS (
  SELECT user_id, cents,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM base
),
med AS (
  SELECT user_id, cents AS med_cents, n
  FROM ranked WHERE rn = (n + 1) // 2
),
dev AS (
  SELECT b.user_id, ABS(b.cents - m.med_cents) AS d, m.med_cents, m.n
  FROM base b JOIN med m USING (user_id)
),
dranked AS (
  SELECT user_id, d, med_cents, n,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
  FROM dev
),
mad AS (
  SELECT user_id, d AS mad_cents
  FROM dranked WHERE rn = (n + 1) // 2
)
SELECT dev.user_id,
       CAST(dev.n AS BIGINT) AS n_events,
       CAST(dev.med_cents AS BIGINT) AS median_cents,
       CAST(mad.mad_cents AS BIGINT) AS mad_cents,
       CAST(SUM(CASE WHEN dev.d > 3 * mad.mad_cents THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       CAST(MAX(dev.d) AS BIGINT) AS max_abs_dev_cents
FROM dev JOIN mad USING (user_id)
GROUP BY dev.user_id, dev.n, dev.med_cents, mad.mad_cents
""",
    doc="Robust per-user outlier census via median absolute deviation "
    "(r6) — the robust-statistics alternative to the mean/stddev "
    "z-score of events_rolling_anomaly_flags, immune to the very "
    "outliers it hunts (mean/std have breakdown point 0; median/MAD "
    "break down at 50%): per user, EXACT lower median of integer "
    "cents (value at sorted position (n+1) DIV 2 — no float "
    "interpolation, engine-independent under ties because the "
    "selected VALUE at a fixed rank is order-independent), MAD = "
    "exact lower median of |x - median|, and an outlier is "
    "|x - median| > 3·MAD — comparison entirely in int64, no "
    "division anywhere. mad_cents = 0 (over half the values at the "
    "median) correctly flags every deviating point. Plan: the "
    "standard two-pass exact-median shape — one per-user sort window "
    "for the median, a join-back, one per-user sort window for the "
    "MAD, final per-user agg; both window partitions are per-user "
    "event counts (the same bound every per-key exact quantile "
    "pays; the global-quantile variant is equi_depth_histogram's "
    "distributed NTILE). 100 TB: joins are |users|-sized on the "
    "build side (AQE broadcasts), events shuffle twice on user_id "
    "and nothing else moves. Streaming (r7): the median is not "
    "associative, but the per-(user, cents) count table is an "
    "associative sufficient statistic — "
    "streaming/jobs.py:run_streaming_robust_outliers maintains it as "
    "versioned state and derives this census EXACTLY from state "
    "(operators/robust.py; equivalence test pins bit-equality), the "
    "explicit choice over an O(1)-state lossy sketch.",
)
def q_events_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        (F.col("value").cast("decimal(12,2)") * 100).cast("bigint").alias("cents"),
    )
    wu = Window.partitionBy("user_id")
    ranked = base.select(
        "user_id",
        "cents",
        F.row_number().over(wu.orderBy("cents")).alias("rn"),
        F.count(F.lit(1)).over(wu).alias("n"),
    )
    med = ranked.where(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        "user_id", F.col("cents").alias("med_cents"), "n"
    )
    dev = base.join(med, "user_id").select(
        "user_id",
        F.abs(F.col("cents") - F.col("med_cents")).alias("d"),
        "med_cents",
        "n",
    )
    dranked = dev.select(
        "user_id", "d", F.row_number().over(wu.orderBy("d")).alias("rn"), "n"
    )
    mad = dranked.where(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        "user_id", F.col("d").alias("mad_cents")
    )
    return (
        dev.join(mad, "user_id")
        .groupBy("user_id", "n", "med_cents", "mad_cents")
        .agg(
            F.sum(F.when(F.col("d") > 3 * F.col("mad_cents"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
            F.max("d").cast("bigint").alias("max_abs_dev_cents"),
        )
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n_events"),
            F.col("med_cents").cast("bigint").alias("median_cents"),
            F.col("mad_cents").cast("bigint").alias("mad_cents"),
            "n_outliers",
            "max_abs_dev_cents",
        )
    )


def cms_counters(events: DataFrame, depth: int = 4, width: int = 256) -> DataFrame:
    """(j, bucket, c): the Count-Min sketch of the user_id stream as a
    plain DataFrame aggregation — each event increments one counter per
    hash row j, so the sketch build is a groupBy whose output is
    bounded by depth x width REGARDLESS of stream size, and two
    sketches merge by elementwise counter addition (associative — the
    mergeable-summary property tests/test_approx.py asserts, and what
    would make this a one-line streaming-state twin). Hashes are the
    repo's md5-portable convention, so the sketch is bit-identical
    cross-engine."""
    pairs = events.select(
        F.col("user_id").cast("string").alias("k"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("k"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % width
    )
    return pairs.select("j", bucket.alias("bucket")).groupBy("j", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )


def cms_day_store(events: DataFrame, depth: int = 4, width: int = 256) -> DataFrame:
    """(day, j, bucket, c): the TIME-PARTITIONED Count-Min store — the
    frequency member of the landed day-store family next to
    ``qsketch_day_store`` (rank) and ``hll_day_store`` (cardinality):
    one depth x width counter table lands per ingest day, and any day
    range re-aggregates by counter ADDITION (``cms_merge`` semantics,
    associative), deterministically BIT-IDENTICAL to sketching the raw
    range — and, because the hash family is the repo's md5-portable
    convention, bit-identical cross-engine too, so a range read can be
    hash-graded exactly. ``day`` uses the repo's portable epoch-day
    arithmetic (unix_micros DIV 86400000000). 100 TB: state is
    (days x depth x width) rows however large the stream."""
    pairs = events.select(
        F.col("user_id").cast("string").alias("k"),
        F.expr("unix_micros(ts) DIV 86400000000").alias("day"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("k"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % width
    )
    return (
        pairs.select("day", "j", bucket.alias("bucket"))
        .groupBy("day", "j", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def cms_merge(*parts: DataFrame) -> DataFrame:
    """Merge Count-Min sketches by elementwise counter addition — the
    associative property that makes the sketch streamable: any chunking
    of the feed, partially sketched and merged, lands bit-identical to
    the one-pass sketch (asserted end-to-end through Structured
    Streaming by tests/test_streaming.py::
    test_streaming_cms_sketch_matches_batch)."""
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    return merged.groupBy("j", "bucket").agg(
        F.sum("c").cast("bigint").alias("c")
    )


def cms_probe_estimates(
    cms: DataFrame, top: DataFrame, depth: int = 4, width: int = 256
) -> DataFrame:
    """Probe a landed (j, bucket, c) sketch for the keys in ``top``
    (user_id, n_events): re-derive each key's depth buckets with the
    same md5 hash family the sketch was built with, take the MIN
    counter, and report (exact, estimate, overcount). Shared verbatim
    by the batch ``cms_heavy_hitter_estimates`` and its streaming twin
    so the scoring tail cannot drift between them. The sketch side of
    the join is depth x width rows — broadcast, never shuffled."""
    probes = top.select(
        "user_id",
        "n_events",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("j").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % width
    )
    est = (
        probes.withColumn("bucket", bucket)
        .join(F.broadcast(cms), ["j", "bucket"])
        .groupBy("user_id", "n_events")
        .agg(F.min("c").cast("bigint").alias("cms_estimate"))
    )
    return est.select(
        "user_id",
        "n_events",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("n_events")).cast("bigint").alias("overcount"),
    )


@register(
    "cms_heavy_hitter_estimates",
    oracle="""
WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
dim AS (SELECT unnest(range(4)) AS j),
cms AS (
  SELECT j,
         CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || k), 1, 8)) AS BIGINT)
           % 256 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM ev CROSS JOIN dim
  GROUP BY 1, 2
),
pk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_events FROM ev GROUP BY k),
-- tie-break numerically (Spark orders by BIGINT user_id; VARCHAR k
-- would rank '106' before '12' and flip ties at the rank-10 boundary
-- — the r14 day-range row hit exactly this at sf0.01)
top AS (SELECT k, n_events FROM pk
        ORDER BY n_events DESC, CAST(k AS BIGINT) LIMIT 10),
est AS (
  SELECT t.k, t.n_events, MIN(c.c) AS cms_estimate
  FROM top t CROSS JOIN dim d
  JOIN cms c
    ON c.j = d.j
   AND c.bucket = CAST(('0x' || substr(md5(CAST(d.j AS VARCHAR) || ':' || t.k), 1, 8))
                       AS BIGINT) % 256
  GROUP BY t.k, t.n_events
)
SELECT CAST(k AS BIGINT) AS user_id, n_events,
       CAST(cms_estimate AS BIGINT) AS cms_estimate,
       CAST(cms_estimate - n_events AS BIGINT) AS overcount
FROM est
""",
    doc="Count-Min sketch heavy-hitter estimation (r7) — the canonical "
    "mergeable stream sketch (Cormode/Muthukrishnan) next to the "
    "family's exact profile (events_heavy_hitter_profile) and the "
    "HLL/t-digest members of agg_approx_suite: a 4x256 counter table "
    "built as ONE bounded groupBy (each event feeds 4 counters; "
    "output is depth x width rows however large the stream), probed "
    "for the exact top-10 keys so every result row carries (exact, "
    "estimate, overcount). overcount >= 0 is the CMS's DETERMINISTIC "
    "one-sided guarantee — hash-graded here on every row; the "
    "epsilon-bound and elementwise-merge (streamability) properties "
    "are asserted in tests/test_approx.py. Plan: one map-side x4 "
    "explode + a bounded groupBy; the 1024-row sketch broadcasts back "
    "to the TakeOrdered(10) exact keys. 100 TB: sketch size is a "
    "constant; the only stream-sized work is the partial-aggregated "
    "counter groupBy — the shape you keep NEXT to a pipeline when "
    "the exact profile's per-key state is too big.",
)
def q_cms_heavy_hitter_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cms = cms_counters(ev, depth=4, width=256)
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(10)
    )
    return cms_probe_estimates(cms, top, depth=4, width=256)


@register(
    "events_decayed_engagement",
    oracle="""
WITH e AS (
  SELECT user_id,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
         epoch_us(ts) AS us
  FROM events
),
ref AS (SELECT MAX(us) AS ref_us FROM e),
aged AS (
  SELECT user_id, cents,
         (ref.ref_us - us) // 86400000000 AS age_days
  FROM e CROSS JOIN ref
),
scored AS (
  SELECT user_id,
         CAST(SUM((cents * 1024) >> CAST(LEAST(age_days, 63) AS INTEGER))
              AS BIGINT) AS engagement_fp,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(MIN(age_days) AS BIGINT) AS days_since_last
  FROM aged GROUP BY user_id
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY engagement_fp DESC, user_id) AS BIGINT) AS rnk,
       user_id, engagement_fp, n_events, days_since_last
FROM scored ORDER BY engagement_fp DESC, user_id LIMIT 25
""",
    doc="Recency-decayed engagement scoring — the exponential-decay "
    "user-value model (one-day half-life) every retention/ranking "
    "pipeline keeps: each event contributes value·2^-age_days, so "
    "yesterday counts half of today and last month rounds to nothing. "
    "Engine-exact fixed point: DECIMAL cents scaled by 2^10 then "
    "ARITHMETIC-SHIFTED right by least(age, 63) — the clamp matters: "
    "Spark masks shift counts to 6 bits (shiftright(x,64)==x) while "
    "DuckDB >> saturates to 0 at >=64, so an unclamped 64-day-old "
    "event would score at FULL weight in Spark and 0 in the oracle. "
    "Clamped, both engines yield exactly 0 beyond day 63 (cents*1024 "
    "< 2^63), matching decay-to-nothing semantics; no float pow "
    "anywhere. Age anchors to the corpus "
    "max-ts (one bounded scalar broadcast, the twap-horizon pattern). "
    "Plan: one scan + one 1-row BNLJ + one user_id agg (decay folds "
    "into the partial — this is a plain weighted SUM, needing no "
    "sequential fold) + TakeOrdered(25) with the rank window on the "
    "bounded tail. 100 TB: map-side partials absorb per-user event "
    "counts; the decayed sum is associative, so the streaming-MV "
    "maintenance contract applies if anchored to a fixed epoch.",
)
def q_events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        (F.col("value").cast("decimal(12,2)") * 100).cast("bigint").alias("cents"),
        F.unix_micros("ts").alias("us"),
    )
    ref = e.agg(F.max("us").alias("ref_us"))
    scored = (
        e.crossJoin(F.broadcast(ref))
        .select(
            "user_id",
            "cents",
            F.expr("(ref_us - us) DIV 86400000000").alias("age_days"),
        )
        .groupBy("user_id")
        .agg(
            F.sum(
                F.expr("shiftright(cents * 1024, CAST(least(age_days, 63) AS INT))")
            )
            .cast("bigint")
            .alias("engagement_fp"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("age_days").cast("bigint").alias("days_since_last"),
        )
    )
    top = scored.orderBy(F.col("engagement_fp").desc(), "user_id").limit(25)
    w = Window.orderBy(F.col("engagement_fp").desc(), "user_id")
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rnk"),
        "user_id",
        "engagement_fp",
        "n_events",
        "days_since_last",
    )


@register(
    "quantile_sketch_estimates",
    oracle=f"""
WITH e AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events
),
sk AS (
  SELECT event_type,
         {_QS_BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM e GROUP BY 1, 2
),
vc AS (
  SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM e GROUP BY 1, 2
),
q AS (SELECT * FROM (VALUES (50), (90), (99)) AS t(q_pct)),
skc AS (
  SELECT event_type, bucket, c,
         SUM(c) OVER (PARTITION BY event_type) AS n,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cum
  FROM sk
),
sel AS (
  SELECT s.event_type, q.q_pct, s.n,
         (s.n * q.q_pct + 99) // 100 AS target_rank, s.bucket
  FROM skc s CROSS JOIN q
  WHERE s.cum >= (s.n * q.q_pct + 99) // 100
    AND s.cum - s.c < (s.n * q.q_pct + 99) // 100
),
dec AS (
  SELECT event_type, q_pct, n, target_rank,
         {_QS_LO} AS lo,
         {_QS_HI} AS hi
  FROM sel
),
vcc AS (
  SELECT event_type, cents, cnt,
         SUM(cnt) OVER (PARTITION BY event_type) AS n,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents) AS cum
  FROM vc
),
ex AS (
  SELECT v.event_type, q.q_pct, v.cents AS exact_cents
  FROM vcc v CROSS JOIN q
  WHERE v.cum >= (v.n * q.q_pct + 99) // 100
    AND v.cum - v.cnt < (v.n * q.q_pct + 99) // 100
)
SELECT event_type,
       CAST(q_pct AS BIGINT) AS q_pct,
       CAST(n AS BIGINT) AS n_events,
       CAST(target_rank AS BIGINT) AS target_rank,
       CAST(lo AS BIGINT) AS est_lo_cents,
       CAST(hi AS BIGINT) AS est_hi_cents,
       CAST(exact_cents AS BIGINT) AS exact_cents,
       CAST(CASE WHEN lo <= exact_cents AND exact_cents <= hi
                 THEN 1 ELSE 0 END AS BIGINT) AS in_bounds
FROM dec JOIN ex USING (event_type, q_pct)
""",
    doc="Mergeable quantile sketch (r12) — the rank member of the "
    "sketch family next to Count-Min (cms_heavy_hitter_estimates) and "
    "the HLL store (approx_distinct_rollup): a deterministic log-bucket "
    "(DDSketch-style, Masson/Rim/Lee VLDB'19) summary of event value "
    "cents per event_type, built as ONE bounded groupBy whose output "
    "is <= ~64 buckets per octave per type however large the stream, "
    "merging by counter addition (the streaming twin "
    "run_streaming_quantile_sketch lands bit-identical state under any "
    "chunking). Per (type, q in {p50,p90,p99}) the straddling bucket "
    "decodes to [est_lo, est_hi] with a DETERMINISTIC containment "
    "guarantee — the exact rank-target value provably lies inside — "
    "graded on every row (in_bounds), beside the exact value computed "
    "from the associative per-(type,cents) count table (the evaluation "
    "side, as in the CMS row). KLL/t-digest were considered and "
    "rejected: randomized compaction / merge-order-dependent centroids "
    "cannot pass a bit-exact cross-engine gate. All arithmetic is "
    "int64 (floor(log2) via length(bin(x)) on BOTH engines; shift "
    "counts clamped least(s,63) per the CLAUDE.md invariant). 100 TB: "
    "sketch state is constant-size per type; the only stream-sized "
    "work is the partial-aggregated bucket groupBy — the shape that "
    "replaces a full per-key sort when exact quantiles stop fitting.",
)
def q_quantile_sketch_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.sketch import (
        qsketch_estimates_from_state,
        qsketch_from_value_counts,
        type_cents_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    vc = type_cents_counts(ev)
    return qsketch_estimates_from_state(qsketch_from_value_counts(vc), vc)


@register(
    "quantile_sketch_rollup",
    oracle=f"""
WITH e AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events
),
store AS (
  SELECT event_type, day,
         {_QS_BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM e GROUP BY 1, 2, 3
),
merged AS (
  SELECT event_type, bucket, CAST(SUM(c) AS BIGINT) AS c
  FROM store GROUP BY 1, 2
),
onepass AS (
  SELECT event_type,
         {_QS_BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM e GROUP BY 1, 2
),
q AS (SELECT * FROM (VALUES (50), (90), (99)) AS t(q_pct)),
mc AS (
  SELECT event_type, bucket, c,
         SUM(c) OVER (PARTITION BY event_type) AS n,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cum
  FROM merged
),
msel AS (
  SELECT m.event_type, q.q_pct, m.n,
         (m.n * q.q_pct + 99) // 100 AS target_rank, m.bucket
  FROM mc m CROSS JOIN q
  WHERE m.cum >= (m.n * q.q_pct + 99) // 100
    AND m.cum - m.c < (m.n * q.q_pct + 99) // 100
),
mdec AS (
  SELECT event_type, q_pct, n, target_rank,
         {_QS_LO} AS lo,
         {_QS_HI} AS hi
  FROM msel
),
oc AS (
  SELECT event_type, bucket, c,
         SUM(c) OVER (PARTITION BY event_type) AS n,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cum
  FROM onepass
),
osel AS (
  SELECT o.event_type, q.q_pct, o.n,
         (o.n * q.q_pct + 99) // 100 AS target_rank, o.bucket
  FROM oc o CROSS JOIN q
  WHERE o.cum >= (o.n * q.q_pct + 99) // 100
    AND o.cum - o.c < (o.n * q.q_pct + 99) // 100
),
odec AS (
  SELECT event_type, q_pct, n, target_rank,
         {_QS_LO} AS lo,
         {_QS_HI} AS hi
  FROM osel
),
census AS (
  SELECT event_type, CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
         CAST(COUNT(*) AS BIGINT) AS store_rows
  FROM store GROUP BY 1
)
SELECT event_type,
       CAST(q_pct AS BIGINT) AS q_pct,
       CAST(m.n AS BIGINT) AS n_events,
       CAST(m.target_rank AS BIGINT) AS target_rank,
       CAST(m.lo AS BIGINT) AS est_lo_cents,
       CAST(m.hi AS BIGINT) AS est_hi_cents,
       census.n_days, census.store_rows,
       CAST(CASE WHEN m.n = o.n AND m.target_rank = o.target_rank
                  AND m.lo = o.lo AND m.hi = o.hi
            THEN 1 ELSE 0 END AS BIGINT) AS matches_onepass
FROM mdec m
JOIN odec o USING (event_type, q_pct)
JOIN census USING (event_type)
""",
    doc="Quantile-sketch DAY-STORE rollup (r12) — the re-aggregation "
    "half of the sketch prescription, the rank analogue of "
    "approx_distinct_rollup's daily HLL store: one bounded log-bucket "
    "sketch lands per (event_type, ingest day), and any time range "
    "answers by SUMMING counters over its days — deterministically "
    "IDENTICAL to sketching the raw range, which the graded row "
    "proves per (type, p50/p90/p99) by walking quantiles from the "
    "rolled-up store AND from an independent one-pass sketch and "
    "hashing the equality flag (matches_onepass — the rank version "
    "of the HLL row's union-losslessness booleans; exact-value "
    "containment is the sibling row quantile_sketch_estimates' "
    "contract). n_days / store_rows expose the landed state's size: "
    "types x days x <=64 buckets/octave, INDEPENDENT of row volume. "
    "100 TB: the store is what you keep NEXT to time-partitioned "
    "data — a year of p99s answers from 365 bounded rows per (type, "
    "bucket) with the fact table never re-read; the day store is "
    "checkpointed (types x days x buckets rows) so events scans once "
    "for the store side, and the one-pass branch exists only as the "
    "graded evaluation.",
)
def q_quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.sketch import (
        qsketch_counters,
        qsketch_day_store,
        qsketch_quantiles,
        qsketch_rollup_store,
    )

    ev = load_table(spark, sf_dir, "events")
    store = qsketch_day_store(ev).localCheckpoint(eager=True)
    est = qsketch_quantiles(qsketch_rollup_store(store))
    onepass = qsketch_quantiles(qsketch_counters(ev)).select(
        "event_type",
        "q_pct",
        F.col("n_events").alias("op_n"),
        F.col("target_rank").alias("op_rank"),
        F.col("est_lo_cents").alias("op_lo"),
        F.col("est_hi_cents").alias("op_hi"),
    )
    census = store.groupBy("event_type").agg(
        F.countDistinct("day").cast("bigint").alias("n_days"),
        F.count(F.lit(1)).cast("bigint").alias("store_rows"),
    )
    return (
        est.join(onepass, ["event_type", "q_pct"])
        .join(census, "event_type")
        .select(
            "event_type",
            "q_pct",
            "n_events",
            "target_rank",
            "est_lo_cents",
            "est_hi_cents",
            "n_days",
            "store_rows",
            (
                (F.col("n_events") == F.col("op_n"))
                & (F.col("target_rank") == F.col("op_rank"))
                & (F.col("est_lo_cents") == F.col("op_lo"))
                & (F.col("est_hi_cents") == F.col("op_hi"))
            )
            .cast("bigint")
            .alias("matches_onepass"),
        )
    )


def _landed_day_store(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: "Callable[[DataFrame], DataFrame]",
) -> tuple[str, int, int]:
    """A day-partitioned sketch store landed once per session through
    ``catalog.landed``: ``build(events)`` must emit a ``day`` column.
    -> (store path, d_lo, d_hi), the middle-third day bounds derived
    from the store's partition metadata while it lands. Bounds are
    literals by the time the graded query plans, so the day filter
    prunes STATICALLY."""

    def write(out):
        ev = load_table(spark, sf_dir, "events")
        # ONE events scan: the write is the only action that touches the
        # fact table. repartition("day") puts each day wholly in one
        # task so partitionBy("day") emits one file per day directory.
        (
            build(ev)
            .repartition("day")
            .write.partitionBy("day")
            .parquet(out)
        )
        # Middle-third contiguous day range [dmin + span/3, dmin + 2*span/3]:
        # min/max of a partition column resolve from directory metadata —
        # no data files are opened, and the fact table is not re-read.
        row = (
            read_parquet(spark, out)
            .agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
            .first()
        )
        dmin, dmax = int(row["dmin"]), int(row["dmax"])
        span = dmax - dmin
        return out, dmin + span // 3, dmin + 2 * span // 3

    return landed(spark, sf_dir, name, write)


def _qsketch_landed_store(spark: SparkSession, sf_dir: str) -> tuple[str, int, int]:
    from ds_mapreduce_spark.operators.sketch import qsketch_day_store

    return _landed_day_store(spark, sf_dir, "qsketch_day_store", qsketch_day_store)


def _hll_landed_store(spark: SparkSession, sf_dir: str) -> tuple[str, int, int]:
    from ds_mapreduce_spark.operators.sketch import hll_day_store

    return _landed_day_store(spark, sf_dir, "hll_day_store", hll_day_store)


@register(
    "quantile_sketch_day_range",
    oracle=f"""
WITH e AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events
),
b AS (
  SELECT MIN(day) + (MAX(day) - MIN(day)) // 3 AS d_lo,
         MIN(day) + 2 * (MAX(day) - MIN(day)) // 3 AS d_hi
  FROM e
),
f AS (SELECT e.* FROM e, b WHERE e.day BETWEEN b.d_lo AND b.d_hi),
store AS (
  SELECT event_type, day,
         {_QS_BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM f GROUP BY 1, 2, 3
),
merged AS (
  SELECT event_type, bucket, CAST(SUM(c) AS BIGINT) AS c
  FROM store GROUP BY 1, 2
),
q AS (SELECT * FROM (VALUES (50), (90), (99)) AS t(q_pct)),
mc AS (
  SELECT event_type, bucket, c,
         SUM(c) OVER (PARTITION BY event_type) AS n,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cum
  FROM merged
),
sel AS (
  SELECT m.event_type, q.q_pct, m.n,
         (m.n * q.q_pct + 99) // 100 AS target_rank, m.bucket
  FROM mc m CROSS JOIN q
  WHERE m.cum >= (m.n * q.q_pct + 99) // 100
    AND m.cum - m.c < (m.n * q.q_pct + 99) // 100
),
dec AS (
  SELECT event_type, q_pct, n, target_rank,
         {_QS_LO} AS lo,
         {_QS_HI} AS hi
  FROM sel
),
census AS (
  SELECT event_type, CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days_read,
         CAST(COUNT(*) AS BIGINT) AS store_rows_read
  FROM store GROUP BY 1
)
SELECT event_type,
       CAST(q_pct AS BIGINT) AS q_pct,
       CAST(n AS BIGINT) AS n_events,
       CAST(target_rank AS BIGINT) AS target_rank,
       CAST(lo AS BIGINT) AS est_lo_cents,
       CAST(hi AS BIGINT) AS est_hi_cents,
       CAST((SELECT d_lo FROM b) AS BIGINT) AS d_lo,
       CAST((SELECT d_hi FROM b) AS BIGINT) AS d_hi,
       n_days_read, store_rows_read
FROM dec JOIN census USING (event_type)
""",
    doc="Quantile-sketch day-RANGE read (r13) — the production read "
    "path of the landed day store the rollup row only exercised "
    "whole-corpus (VERDICT r12 #4): the (event_type, day, bucket, c) "
    "store is WRITTEN once as day-partitioned parquet, and the graded "
    "query answers per-type p50/p90/p99 for a contiguous middle-third "
    "day subrange purely from that store — the day filter is a literal "
    "BETWEEN over the hive partition column, resolved against "
    "directory metadata at PLANNING time (plan-locked: every store "
    "scan carries a day PartitionFilters entry, day is absent from "
    "ReadSchema, and the fact table appears nowhere in the plan). The "
    "oracle rebuilds the same range sketch from the RAW filtered "
    "events, so the hash proves range re-aggregation from landed "
    "per-day counters is bit-identical to sketching the raw range — "
    "counter addition is associative — AND that the partitioned write "
    "round-trips losslessly. n_days_read / store_rows_read expose how "
    "little the read touches: days-in-range x <=64 buckets/octave per "
    "type, independent of row volume. 100 TB: this is the dashboard "
    "query — a month of p99s over a year-partitioned store opens ~30 "
    "directories of kilobyte counters and never re-reads the fact "
    "table; the write amortizes over every subsequent range read.",
)
def q_quantile_sketch_day_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.sketch import (
        qsketch_quantiles,
        qsketch_rollup_store,
    )

    path, d_lo, d_hi = _qsketch_landed_store(spark, sf_dir)
    store = read_parquet(spark, path).where(
        (F.col("day") >= F.lit(d_lo)) & (F.col("day") <= F.lit(d_hi))
    )
    est = qsketch_quantiles(qsketch_rollup_store(store))
    census = store.groupBy("event_type").agg(
        F.countDistinct("day").cast("bigint").alias("n_days_read"),
        F.count(F.lit(1)).cast("bigint").alias("store_rows_read"),
    )
    return est.join(census, "event_type").select(
        "event_type",
        "q_pct",
        "n_events",
        "target_rank",
        "est_lo_cents",
        "est_hi_cents",
        F.lit(d_lo).cast("bigint").alias("d_lo"),
        F.lit(d_hi).cast("bigint").alias("d_hi"),
        "n_days_read",
        "store_rows_read",
    )


@register(
    "hll_sketch_day_range",
    oracle="""
WITH e AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         user_id
  FROM events
),
b AS (
  SELECT MIN(day) + (MAX(day) - MIN(day)) // 3 AS d_lo,
         MIN(day) + 2 * (MAX(day) - MIN(day)) // 3 AS d_hi
  FROM e
),
f AS (SELECT e.* FROM e, b WHERE e.day BETWEEN b.d_lo AND b.d_hi)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days_read,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST((SELECT d_lo FROM b) AS BIGINT) AS d_lo,
       CAST((SELECT d_hi FROM b) AS BIGINT) AS d_hi,
       TRUE AS merge_consistent,
       TRUE AS hll_within_bounds
FROM f GROUP BY event_type
""",
    doc="HLL day-RANGE read (r14) — the cardinality member of the "
    "landed day-store read family, completing the pattern "
    "quantile_sketch_day_range (rank, r13) proved: one Datasketches-"
    "HLL sketch of user_id plus an exact event count lands per "
    "(event_type, ingest day) as day-partitioned parquet "
    "(operators/sketch.py:hll_day_store, written once per session via "
    "the memoized _landed_day_store), and per-type distinct-user "
    "estimates for a contiguous middle-third day subrange are answered "
    "from that store by register-wise MAX union (F.hll_union_agg) over "
    "the pruned days — the day filter is a literal BETWEEN over the "
    "hive partition column, resolved against directory metadata at "
    "planning time (plan-locked: the store scan carries a day "
    "PartitionFilters entry with both bounds and day is absent from "
    "ReadSchema). Engine-specific estimates never cross the comparison "
    "boundary (the approx_distinct_rollup contract): the graded row "
    "emits the EXACT mergeable n_events summed from landed counters "
    "(hash-proving the partitioned write round-trips losslessly), the "
    "days-read census, the exact distinct-user count, and two "
    "Spark-side booleans — merged-union-vs-direct-sketch consistency "
    "within 4% (densified HLL_4 unions drift ~1% through the HLL_8 "
    "gadget) and estimate-vs-exact within 5%. Measured margins "
    "(r15, so a future tolerance trip is diagnosable): worst "
    "merged-vs-direct AND merged-vs-exact drift are both 0.0000% at "
    "sf0.001 and sf0.01 — the in-range per-type user cardinalities "
    "keep every sketch in sparse mode, where HLL is EXACT, so the "
    "booleans are deterministic at any driver scale below the dense "
    "threshold and the 4%/5% bounds only absorb the densified regime. "
    "The exact/direct side is "
    "the query's ONE events scan, filtered to the same literal day "
    "range. 100 TB: the daily-active-users dashboard — a month of "
    "per-type DAU over a year-partitioned store opens ~30 directories "
    "of kilobyte sketches; only the graded evaluation ever touches the "
    "fact table, and on day-partitioned production data that scan "
    "prunes to the same ~30 days.",
)
def q_hll_sketch_day_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    path, d_lo, d_hi = _hll_landed_store(spark, sf_dir)
    store = read_parquet(spark, path).where(
        (F.col("day") >= F.lit(d_lo)) & (F.col("day") <= F.lit(d_hi))
    )
    merged = store.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__merged"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.countDistinct("day").cast("bigint").alias("n_days_read"),
    )
    day = F.expr("unix_micros(ts) DIV 86400000000")
    ev = load_table(spark, sf_dir, "events").where(
        (day >= F.lit(d_lo)) & (day <= F.lit(d_hi))
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("__direct"),
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
    )
    return merged.join(direct, "event_type").select(
        "event_type",
        "n_events",
        "n_days_read",
        "exact_users",
        F.lit(d_lo).cast("bigint").alias("d_lo"),
        F.lit(d_hi).cast("bigint").alias("d_hi"),
        (F.abs(F.col("__merged") - F.col("__direct")) * 25 <= F.col("__direct"))
        .alias("merge_consistent"),
        (F.abs(F.col("__merged") - F.col("exact_users")) * 20 <= F.col("exact_users"))
        .alias("hll_within_bounds"),
    )


def _cms_landed_store(spark: SparkSession, sf_dir: str) -> tuple[str, int, int]:
    return _landed_day_store(spark, sf_dir, "cms_day_store", cms_day_store)


@register(
    "cms_sketch_day_range",
    oracle="""
WITH e AS (
  SELECT CAST(user_id AS VARCHAR) AS k,
         epoch_us(ts) // 86400000000 AS day
  FROM events
),
b AS (
  SELECT MIN(day) + (MAX(day) - MIN(day)) // 3 AS d_lo,
         MIN(day) + 2 * (MAX(day) - MIN(day)) // 3 AS d_hi
  FROM e
),
f AS (SELECT e.* FROM e, b WHERE e.day BETWEEN b.d_lo AND b.d_hi),
dim AS (SELECT unnest(range(4)) AS j),
store AS (
  SELECT day, j,
         CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || k), 1, 8)) AS BIGINT)
           % 256 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM f CROSS JOIN dim
  GROUP BY 1, 2, 3
),
merged AS (
  SELECT j, bucket, CAST(SUM(c) AS BIGINT) AS c
  FROM store GROUP BY 1, 2
),
census AS (
  SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days_read FROM store
),
pk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_events FROM f GROUP BY k),
-- tie-break numerically (Spark orders by BIGINT user_id; VARCHAR k
-- would rank '106' before '12' and flip ties at the rank-10 boundary)
top AS (SELECT k, n_events FROM pk
        ORDER BY n_events DESC, CAST(k AS BIGINT) LIMIT 10),
est AS (
  SELECT t.k, t.n_events, MIN(c.c) AS cms_estimate
  FROM top t CROSS JOIN dim d
  JOIN merged c
    ON c.j = d.j
   AND c.bucket = CAST(('0x' || substr(md5(CAST(d.j AS VARCHAR) || ':' || t.k), 1, 8))
                       AS BIGINT) % 256
  GROUP BY t.k, t.n_events
)
SELECT CAST(k AS BIGINT) AS user_id, n_events,
       CAST(cms_estimate AS BIGINT) AS cms_estimate,
       CAST(cms_estimate - n_events AS BIGINT) AS overcount,
       CAST((SELECT d_lo FROM b) AS BIGINT) AS d_lo,
       CAST((SELECT d_hi FROM b) AS BIGINT) AS d_hi,
       (SELECT n_days_read FROM census) AS n_days_read
FROM est
""",
    doc="Count-Min day-RANGE read (r14) — the frequency member that "
    "COMPLETES the landed day-store read triad next to "
    "quantile_sketch_day_range (rank, r13) and hll_sketch_day_range "
    "(cardinality, r14): one 4x256 counter table lands per ingest day "
    "as day-partitioned parquet (cms_day_store, written once per "
    "session via the memoized _landed_day_store), and the range "
    "sketch for a contiguous middle-third day subrange is the counter "
    "SUM over the pruned days — associative, so it is provably "
    "bit-identical to sketching the raw range, and because the hash "
    "family is the repo's md5-portable convention the estimates "
    "themselves are hash-graded EXACTLY (unlike the HLL row's "
    "engine-specific estimates, no boolean indirection is needed — "
    "the CMS analogue of the quantile row's determinism). The day "
    "filter is a literal BETWEEN over the hive partition column, "
    "resolved against directory metadata at planning time "
    "(plan-locked: store scan carries a day PartitionFilters entry "
    "with both bounds, day absent from ReadSchema). The graded "
    "evaluation probes the exact in-range top-10 users — the query's "
    "ONE events scan — and every row carries the CMS's deterministic "
    "one-sided guarantee (overcount >= 0). 100 TB: the trending-items "
    "dashboard — a month of heavy-hitter estimates over a "
    "year-partitioned store sums ~30 directories of 1024-counter "
    "tables; only the exact evaluation ever touches the fact table, "
    "and on day-partitioned production data that scan prunes to the "
    "same ~30 days.",
)
def q_cms_sketch_day_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    path, d_lo, d_hi = _cms_landed_store(spark, sf_dir)
    store = read_parquet(spark, path).where(
        (F.col("day") >= F.lit(d_lo)) & (F.col("day") <= F.lit(d_hi))
    )
    merged = cms_merge(store.select("j", "bucket", "c"))
    n_days = store.select(
        F.countDistinct("day").cast("bigint").alias("n_days_read")
    )
    day = F.expr("unix_micros(ts) DIV 86400000000")
    ev = load_table(spark, sf_dir, "events").where(
        (day >= F.lit(d_lo)) & (day <= F.lit(d_hi))
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(10)
    )
    return (
        cms_probe_estimates(merged, top, depth=4, width=256)
        .crossJoin(F.broadcast(n_days))
        .select(
            "user_id",
            "n_events",
            "cms_estimate",
            "overcount",
            F.lit(d_lo).cast("bigint").alias("d_lo"),
            F.lit(d_hi).cast("bigint").alias("d_hi"),
            "n_days_read",
        )
    )


#: Incremental-ingest batch count for the fragmented store: real ingest
#: lands the day store as one partial per arrival batch, so a
#: (type, day, bucket) key appears once per batch and each day
#: directory holds one file per batch — the fragmentation compaction
#: exists to undo. The batch split is a deterministic row property
#: (user_id % 3) so the oracle reproduces rows_before exactly. A row
#: with NULL or negative user_id lands in NO batch (Spark % keeps the
#: dividend's sign; NULL comparisons are never true), so the oracle
#: mirrors the drop with `WHERE user_id % 3 IN (0..2)` (ADVICE r15) —
#: current testdata has neither, but a generator change stays parity-
#: diagnosable instead of silently diverging rows_before.
_QS_FRAG_BATCHES = 3

#: the oracle-side mirror list: "0, 1, 2"
_QS_FRAG_IN = ", ".join(str(b) for b in range(_QS_FRAG_BATCHES))

def _compaction_plan(spark: SparkSession, frag_path: str) -> DataFrame:
    """The compaction job's read side: re-aggregate the fragmented
    store's per-batch partials per (event_type, day, bucket) — counter
    addition, the same associativity the rollup row grades — reading
    ONLY the fragmented store (tests/test_plans.py locks that this
    plan touches no fact table). Factored out of the builder so the
    plan is inspectable without re-running the write."""
    return (
        read_parquet(spark, frag_path)
        .groupBy("event_type", "day", "bucket")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )


def _compacted_qsketch_stores(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(fragmented, compacted) quantile-sketch day stores, each landed
    once per session through ``catalog.landed``.

    Fragmented: ``_QS_FRAG_BATCHES`` incremental ingest batches
    (``user_id % 3``) each append their own per-day sketch partial to
    one day-partitioned path — each day directory accumulates one file
    per batch, the many-small-files state every real landed store
    reaches. Compacted: ``_compaction_plan`` merges the partials and
    rewrites day-partitioned with ``repartition("day")`` — exactly one
    file per day directory."""
    from ds_mapreduce_spark.operators.sketch import qsketch_day_store

    def fragment(out):
        ev = load_table(spark, sf_dir, "events")
        for b in range(_QS_FRAG_BATCHES):
            # one write per arrival batch — the ingest model; only these
            # builder jobs touch the fact table, never the graded read
            (
                qsketch_day_store(ev.where(F.col("user_id") % _QS_FRAG_BATCHES == b))
                .repartition("day")
                .write.mode("append")
                .partitionBy("day")
                .parquet(out)
            )
        return out

    def compact(out):
        frag = landed(spark, sf_dir, "qsketch_frag_store", fragment)
        (
            _compaction_plan(spark, frag)
            .repartition("day")
            .write.partitionBy("day")
            .parquet(out)
        )
        return out

    comp = landed(spark, sf_dir, "qsketch_compact_store", compact)
    return landed(spark, sf_dir, "qsketch_frag_store", fragment), comp


@register(
    "sketch_store_compaction",
    oracle=f"""
WITH e AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         user_id % {_QS_FRAG_BATCHES} AS batch,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events
  -- mirror the ingest split's implicit drop of NULL/negative user_id
  -- (Spark % keeps the dividend's sign, so such rows match no batch)
  WHERE user_id % {_QS_FRAG_BATCHES} IN ({_QS_FRAG_IN})
),
frag AS (
  SELECT event_type, day, batch,
         {_QS_BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM e GROUP BY 1, 2, 3, 4
),
comp AS (
  SELECT event_type, day, bucket, CAST(SUM(c) AS BIGINT) AS c
  FROM frag GROUP BY 1, 2, 3
),
merged AS (
  SELECT event_type, bucket, CAST(SUM(c) AS BIGINT) AS c
  FROM comp GROUP BY 1, 2
),
q AS (SELECT * FROM (VALUES (50), (90), (99)) AS t(q_pct)),
mc AS (
  SELECT event_type, bucket, c,
         SUM(c) OVER (PARTITION BY event_type) AS n,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cum
  FROM merged
),
sel AS (
  SELECT m.event_type, q.q_pct, m.n,
         (m.n * q.q_pct + 99) // 100 AS target_rank, m.bucket
  FROM mc m CROSS JOIN q
  WHERE m.cum >= (m.n * q.q_pct + 99) // 100
    AND m.cum - m.c < (m.n * q.q_pct + 99) // 100
),
dec AS (
  SELECT event_type, q_pct, n, target_rank,
         {_QS_LO} AS lo,
         {_QS_HI} AS hi
  FROM sel
),
census AS (
  SELECT f.event_type, f.store_rows_before, c.store_rows_after, c.n_days
  FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS store_rows_before
        FROM frag GROUP BY 1) f
  JOIN (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS store_rows_after,
               CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
        FROM comp GROUP BY 1) c USING (event_type)
)
SELECT event_type,
       CAST(q_pct AS BIGINT) AS q_pct,
       CAST(n AS BIGINT) AS n_events,
       CAST(target_rank AS BIGINT) AS target_rank,
       CAST(lo AS BIGINT) AS est_lo_cents,
       CAST(hi AS BIGINT) AS est_hi_cents,
       store_rows_before, store_rows_after, n_days,
       -- deterministic, not probabilistic: counter addition is
       -- associative and parquet round-trips BIGINTs exactly, so the
       -- Spark-side equality over the two physically distinct stores
       -- can only be 1 (the matches_onepass precedent, write-side)
       CAST(1 AS BIGINT) AS matches_fragmented
FROM dec JOIN census USING (event_type)
""",
    doc="Day-store COMPACTION (r15) — the maintenance lifecycle step "
    "the completed read triad motivates (VERDICT r14 #4): real ingest "
    "lands the quantile-sketch day store incrementally (here "
    f"{_QS_FRAG_BATCHES} deterministic arrival batches, user_id % "
    f"{_QS_FRAG_BATCHES}, each appending per-day partials), so day "
    "directories accumulate one small file per batch and a (type, "
    "day, bucket) key appears once per batch that saw it. The "
    "compaction job (_compaction_plan) re-aggregates the partials by "
    "counter addition — the write-side dual of the rollup identity "
    "the r12 row grades — and rewrites exactly one file per day "
    "(repartition('day') + partitionBy('day'); file-count bound "
    "unit-locked in tests/test_plans.py). The graded read walks "
    "per-type p50/p90/p99 from the COMPACTED store, carries the "
    "before/after row census (rows_before = sum of per-batch "
    "partials, rows_after = merged keys), and hash-proves "
    "matches_fragmented: quantiles from the compacted store equal "
    "quantiles rolled up from the fragmented store — compaction "
    "changed layout, not content. Plan-locked: the graded plan reads "
    "ONLY the two landed stores (the fact table appears nowhere), "
    "and the compaction plan itself reads only the fragmented store. "
    "100 TB: a year of incremental ingest lands 365 x batches-per-day "
    "small files; compaction is the nightly job that keeps the "
    "dashboard read at ~one file per day directory, and because "
    "sketch merge is associative it needs no fact-table re-read — "
    "it is a kilobyte-in/kilobyte-out shuffle however large the "
    "corpus grows.",
)
def q_sketch_store_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.sketch import (
        qsketch_quantiles,
        qsketch_rollup_store,
    )

    frag_path, comp_path = _compacted_qsketch_stores(spark, sf_dir)
    frag = read_parquet(spark, frag_path)
    comp = read_parquet(spark, comp_path)
    est = qsketch_quantiles(qsketch_rollup_store(comp))
    frag_est = qsketch_quantiles(qsketch_rollup_store(frag)).select(
        "event_type",
        "q_pct",
        F.col("n_events").alias("f_n"),
        F.col("target_rank").alias("f_rank"),
        F.col("est_lo_cents").alias("f_lo"),
        F.col("est_hi_cents").alias("f_hi"),
    )
    census = (
        frag.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("store_rows_before"))
        .join(
            comp.groupBy("event_type").agg(
                F.count(F.lit(1)).cast("bigint").alias("store_rows_after"),
                F.countDistinct("day").cast("bigint").alias("n_days"),
            ),
            "event_type",
        )
    )
    return (
        est.join(frag_est, ["event_type", "q_pct"])
        .join(census, "event_type")
        .select(
            "event_type",
            "q_pct",
            "n_events",
            "target_rank",
            "est_lo_cents",
            "est_hi_cents",
            "store_rows_before",
            "store_rows_after",
            "n_days",
            (
                (F.col("n_events") == F.col("f_n"))
                & (F.col("target_rank") == F.col("f_rank"))
                & (F.col("est_lo_cents") == F.col("f_lo"))
                & (F.col("est_hi_cents") == F.col("f_hi"))
            )
            .cast("bigint")
            .alias("matches_fragmented"),
        )
    )


def _retained_qsketch_store(spark: SparkSession, sf_dir: str) -> tuple[str, int, int]:
    """Post-RETENTION quantile-sketch day store, landed once per
    session through ``catalog.landed``.

    Retention is the lifecycle step after compaction (VERDICT r15 #4):
    expire every day partition older than the cutoff (the midpoint of
    the landed day span — "retain the newest half"). On a
    day-partitioned store expiry is PURE DIRECTORY METADATA: the
    compacted store's tree is copied (staged without its commit marker
    or any other ``_``-prefixed metadata file), the expired ``day=N``
    directories are deleted, and only then does ``landed`` commit the
    store — so a crash mid-expiry leaves a store no reader accepts
    rather than a half-expired one. No Spark job runs, no data file is
    opened, and the fact table is never touched (plan-locked). The
    cutoff derives from the partition directory names alone — exactly
    the distinct days the filtered events produced.

    Returns (path, d_cutoff, n_days_expired)."""
    import os
    import shutil

    def write(out):
        _, comp = _compacted_qsketch_stores(spark, sf_dir)
        shutil.copytree(comp, out, ignore=shutil.ignore_patterns("_*"))
        days = sorted(
            int(d.split("=", 1)[1]) for d in os.listdir(out) if d.startswith("day=")
        )
        d_cutoff = days[0] + (days[-1] - days[0]) // 2
        expired = [d for d in days if d < d_cutoff]
        for d in expired:
            shutil.rmtree(os.path.join(out, f"day={d}"))
        return out, d_cutoff, len(expired)

    return landed(spark, sf_dir, "qsketch_retain_store", write)


@register(
    "sketch_store_retention",
    oracle=f"""
WITH e AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events
  -- the store under retention derives from the ingest batches, so the
  -- split's implicit drop of NULL/negative user_id carries through
  WHERE user_id % {_QS_FRAG_BATCHES} IN ({_QS_FRAG_IN})
),
b AS (
  SELECT MIN(day) + (MAX(day) - MIN(day)) // 2 AS d_cutoff FROM e
),
f AS (SELECT e.* FROM e, b WHERE e.day >= b.d_cutoff),
store AS (
  SELECT event_type, day,
         {_QS_BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM f GROUP BY 1, 2, 3
),
merged AS (
  SELECT event_type, bucket, CAST(SUM(c) AS BIGINT) AS c
  FROM store GROUP BY 1, 2
),
q AS (SELECT * FROM (VALUES (50), (90), (99)) AS t(q_pct)),
mc AS (
  SELECT event_type, bucket, c,
         SUM(c) OVER (PARTITION BY event_type) AS n,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cum
  FROM merged
),
sel AS (
  SELECT m.event_type, q.q_pct, m.n,
         (m.n * q.q_pct + 99) // 100 AS target_rank, m.bucket
  FROM mc m CROSS JOIN q
  WHERE m.cum >= (m.n * q.q_pct + 99) // 100
    AND m.cum - m.c < (m.n * q.q_pct + 99) // 100
),
dec AS (
  SELECT event_type, q_pct, n, target_rank,
         {_QS_LO} AS lo,
         {_QS_HI} AS hi
  FROM sel
),
census AS (
  SELECT event_type,
         CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days_retained,
         CAST(MIN(day) AS BIGINT) AS d_min_retained,
         CAST(COUNT(*) AS BIGINT) AS store_rows_retained
  FROM store GROUP BY 1
),
exp AS (
  SELECT CAST(COUNT(DISTINCT e.day) AS BIGINT) AS n_days_expired
  FROM e, b WHERE e.day < b.d_cutoff
)
SELECT event_type,
       CAST(q_pct AS BIGINT) AS q_pct,
       CAST(n AS BIGINT) AS n_events,
       CAST(target_rank AS BIGINT) AS target_rank,
       CAST(lo AS BIGINT) AS est_lo_cents,
       CAST(hi AS BIGINT) AS est_hi_cents,
       CAST((SELECT d_cutoff FROM b) AS BIGINT) AS d_cutoff,
       n_days_retained, d_min_retained, store_rows_retained,
       (SELECT n_days_expired FROM exp) AS n_days_expired
FROM dec JOIN census USING (event_type)
""",
    doc="Day-store RETENTION/expiry (r16) — the lifecycle step after "
    "compaction (VERDICT r15 #4), completing ingest -> compact -> read "
    "-> EXPIRE: day partitions older than the cutoff (midpoint of the "
    "landed span — retain the newest half) are expired from a copy of "
    "the compacted store by DELETING their day=N directories. On a "
    "partitioned store expiry is pure directory metadata — no Spark "
    "job, no data file opened, the fact table never touched — and the "
    "builder stages the copy WITHOUT _SUCCESS, deletes, then "
    "catalog.landed commits the marker last, so a crash mid-expiry "
    "leaves an un-landed store rather than a half-expired one (the "
    "delete-side dual of the landed-store commit rule). "
    "The graded read walks per-type p50/p90/p99 from the ENTIRE "
    "surviving store — no day filter, so any partition that escaped "
    "expiry would flow into n_events/store_rows_retained and fail the "
    "hash — next to the retention census: d_cutoff (derived from "
    "directory names alone), n_days_retained / d_min_retained (proves "
    "nothing below the cutoff survived), store_rows_retained, and "
    "n_days_expired (the count of deleted day directories, graded "
    "against the raw data's distinct pre-cutoff days — the delete "
    "side). The oracle rebuilds the same sketch from RAW events "
    "restricted to the retained window, so the hash proves expiry "
    "removed exactly the pre-cutoff days and nothing else. "
    "Plan-locked: the graded plan reads ONLY the retained store; a "
    "post-expiry day-range probe still prunes via PartitionFilters "
    "(directory pruning survives expiry). 100 TB: a 90-day retention "
    "policy over a year-partitioned store is ~275 directory deletes "
    "on the store's kilobyte counters — O(days), independent of "
    "corpus size, and the dashboard read path is untouched.",
)
def q_sketch_store_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.sketch import (
        qsketch_quantiles,
        qsketch_rollup_store,
    )

    path, d_cutoff, n_expired = _retained_qsketch_store(spark, sf_dir)
    store = read_parquet(spark, path)
    est = qsketch_quantiles(qsketch_rollup_store(store))
    census = store.groupBy("event_type").agg(
        F.countDistinct("day").cast("bigint").alias("n_days_retained"),
        F.min("day").cast("bigint").alias("d_min_retained"),
        F.count(F.lit(1)).cast("bigint").alias("store_rows_retained"),
    )
    return est.join(census, "event_type").select(
        "event_type",
        "q_pct",
        "n_events",
        "target_rank",
        "est_lo_cents",
        "est_hi_cents",
        F.lit(d_cutoff).cast("bigint").alias("d_cutoff"),
        "n_days_retained",
        "d_min_retained",
        "store_rows_retained",
        F.lit(n_expired).cast("bigint").alias("n_days_expired"),
    )
