"""Relational operator facade (E5, E10-E12).

These are thin, documented pass-throughs to the DataFrame API — the
engine's public names for the capabilities the reference lacks
entirely (SURVEY.md §2.3). They exist so the operator inventory is an
explicit, testable surface rather than "whatever Spark does"; each
carries its scale contract.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def aggregate(df: DataFrame, keys: Sequence[str], *aggs: Column) -> DataFrame:
    """Hash aggregation with automatic partial (map-side) combine —
    the global version of the reference's per-chunk reduce (§1.4)."""
    return df.groupBy(*keys).agg(*aggs)


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Global top-k: orderBy().limit(k) compiles to TakeOrderedAndProject
    (per-partition heaps, no total sort). `order` must be a total order
    for deterministic results."""
    return df.orderBy(*order).limit(k)


def latest_wins_merge(
    all_rows: DataFrame, key_cols: Sequence[str], version_col: str
) -> DataFrame:
    """CDC merge core: keep the highest-``version_col`` row per key.

    Shared by the batch query (``cdc_latest_wins_merge``: base UNION ALL
    changes in one plan) and the streaming job
    (``streaming.jobs.run_streaming_cdc_merge``: the same reduction
    applied per micro-batch inside ``foreachBatch``, merging each batch
    into the landed state). One row_number window = one shuffle on the
    merge key. 100 TB: with the base table bucketed on the key only the
    (small) change set shuffles — the incremental-compaction plan.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col(version_col).desc())
    return (
        all_rows.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def cdc_change_rows(orders: DataFrame) -> DataFrame:
    """The deterministic synthetic CDC feed both the batch query and the
    streaming twin merge: every order emits its v1 base row; every 7th
    key also emits a v2 re-price. Derived from the input rows alone, so
    the same orders produce the same feed whether they arrive as one
    batch or as micro-batches."""
    base = orders.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
        F.lit(1).alias("version"),
    )
    upd = orders.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("U").alias("status"),
        (F.col("o_totalprice").cast("decimal(12,2)") + 10).alias("price"),
        F.lit(2).alias("version"),
    )
    return base.unionByName(upd)


def ntile_over_total_order(
    df: DataFrame, k: int, order: Sequence[Column], out_col: str
) -> DataFrame:
    """NTILE(k) over a TOTAL order with no single-task global sort.

    Spark's un-partitioned ``ntile().over(Window.orderBy(...))`` plans a
    SinglePartition exchange — one task sorts everything. This operator
    produces the IDENTICAL tile assignment scalably:

    1. ``repartitionByRange`` on the order (distributed range sort —
       each partition holds a contiguous, ordered key range) +
       ``sortWithinPartitions`` — no window function, so no extra
       hash exchange on a partition-id key;
    2. ``monotonically_increasing_id`` right after the sort: its bit
       layout (pid << 33 | record-number) yields the ordered partition
       id AND the partition-local row number in one map-only
       projection — the DataFrame form of zipWithIndex;
    3. eager ``localCheckpoint``: |rows| are materialized ONCE, so the
       tiny per-partition counts branch (self-joined broadcast,
       #partitions rows) doesn't recompute the upstream subtree —
       global rank = predecessor-count offset + local row number, with
       no SinglePartition exchange anywhere;
    4. the standard-SQL NTILE arithmetic: q = n div k, r = n mod k, the
       first r tiles get q+1 rows. Exact integer floor division
       (``idiv_floor``) so the assignment matches the oracle's NTILE
       bit-for-bit at any n.

    ``order`` must be a total order (tie-break!) for cross-engine
    determinism — same contract as the window form. 100 TB: the range
    exchange is the same machinery as a distributed ORDER BY; no task
    ever holds more than its range slice, and the checkpoint is the
    rank-stage materialization every distributed zipWithIndex pays.
    """
    from ds_mapreduce_spark.functions.temporal import idiv_floor

    d = (
        df.repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn("__pid", F.shiftright(F.col("__mid"), 33))
        .withColumn("__lrn", (F.pmod(F.col("__mid"), F.lit(1 << 33)) + 1).cast("bigint"))
        .drop("__mid")
    )
    d = d.localCheckpoint(eager=True)
    counts = d.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    a, b = counts.alias("a"), counts.alias("b")
    meta = (
        a.join(F.broadcast(b), F.lit(True))
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(
            F.sum(F.col("b.__cnt")).cast("bigint").alias("__n"),
            F.sum(
                F.when(F.col("b.__pid") < F.col("a.__pid"), F.col("b.__cnt")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("__off"),
        )
    )
    d = d.join(F.broadcast(meta), "__pid")
    rn = (F.col("__off") + F.col("__lrn")).cast("bigint")
    n = F.col("__n")
    q = idiv_floor(n, k)
    r = F.pmod(n, F.lit(k))
    big = r * (q + 1)  # rows covered by the first r (larger) tiles
    tile = F.when(rn <= big, idiv_floor(rn - 1, q + 1) + 1).otherwise(
        # q > 0 here (q == 0 implies r == n, i.e. every row in the first
        # branch); greatest() keeps ANSI division happy regardless
        r + idiv_floor(rn - big - 1, F.greatest(q, F.lit(1))) + 1
    )
    return d.withColumn(out_col, tile.cast("bigint")).drop(
        "__pid", "__lrn", "__cnt", "__n", "__off"
    )


def prefix_sum_over_total_order(
    df: DataFrame, order: Sequence[Column], value: Column, out_col: str
) -> DataFrame:
    """Inclusive running SUM(value) over a TOTAL order, no single-task sort.

    The scalable form of ``SUM(v) OVER (ORDER BY ... ROWS UNBOUNDED
    PRECEDING)`` (which Spark plans as a SinglePartition window): range
    exchange (ordered partitions) → eager localCheckpoint (freeze the
    partition ids; the tiny totals branch then never recomputes the
    subtree) → partition-local running sum → per-partition totals
    self-joined (broadcast, #partitions rows) into predecessor offsets.
    Global prefix = offset + local running sum.

    Two data shuffles (the range exchange + the local window's hash
    exchange on the frozen partition id, which preserves partition-local
    parallelism). ``order`` must be total for determinism. 100 TB: this
    is the shard-assignment / cumulative-quota primitive — each task
    sorts only its range slice, and the offset table stays #partitions
    rows however large the data.
    """
    d = (
        df.repartitionByRange(*order)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__v", value.cast("bigint"))
        .localCheckpoint(eager=True)
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    totals = d.groupBy("__pid").agg(F.sum("__v").cast("bigint").alias("__tot"))
    a, b = totals.alias("a"), totals.alias("b")
    meta = (
        a.join(F.broadcast(b), F.lit(True))
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(
            F.sum(
                F.when(F.col("b.__pid") < F.col("a.__pid"), F.col("b.__tot")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("__off")
        )
    )
    d = d.withColumn("__lcum", F.sum("__v").over(w)).join(F.broadcast(meta), "__pid")
    return d.withColumn(out_col, (F.col("__off") + F.col("__lcum")).cast("bigint")).drop(
        "__pid", "__v", "__lcum", "__off"
    )


def mv_partial(df: DataFrame, keys: Sequence[str], value_col: str) -> DataFrame:
    """Per-key COUNT/DECIMAL-SUM partials — the mergeable state of an
    incrementally-maintained aggregate MV. The sum is pinned to
    DECIMAL(30,2) so (a) re-merging never widens the stored schema
    (a parquet state store needs version-stable types) and (b) the
    maintained value is EXACT — a float MV drifts with merge order.
    Shared by the batch query (``incremental_agg_maintenance``) and the
    streaming twin (``streaming.jobs.run_streaming_mv_maintenance``)."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col(value_col).cast("decimal(12,2)")).cast("decimal(30,2)").alias("s"),
    )


def mv_merge(*partials: DataFrame) -> DataFrame:
    """Merge aggregate-MV partials by re-aggregating (n: sum-of-counts,
    s: sum-of-sums) — associative and commutative, so any chunking of
    the input (one batch, N micro-batches, base+delta) converges to the
    same state. Shuffles |groups| rows, never the fact table."""
    out = partials[0]
    for p in partials[1:]:
        out = out.unionByName(p)
    keys = [c for c in out.columns if c not in ("n", "s")]
    return out.groupBy(*keys).agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s").cast("decimal(30,2)").alias("s"),
    )


def mv_present(state: DataFrame) -> DataFrame:
    """The MV's query-facing projection: exact DECIMAL state becomes the
    graded (n_orders, total_price) columns — double + ROUND(4) only at
    this final output boundary, mirroring the oracle."""
    keys = [c for c in state.columns if c not in ("n", "s")]
    return state.select(
        *keys,
        F.col("n").alias("n_orders"),
        F.round(F.col("s").cast("double"), 4).alias("total_price"),
    )


def scd2_versions(
    df: DataFrame, key: str, ts: str, value: str
) -> DataFrame:
    """Type-2 SCD versioning of a (key, ts, value) change stream:
    same-instant updates collapse deterministically (MAX), consecutive
    equal states compress away, and each surviving change becomes a
    versioned row (key, version, valid_from, valid_to, value,
    is_current) with half-open validity.

    ONE shuffle on ``key`` feeds the same-instant dedup and all three
    windows; partitions are bounded by per-entity update counts (the
    SCD2 state key), never global volume. Incremental maintenance
    re-versions only keys present in a delta. Shared by the
    ``scd2_user_value_history`` query and its tests.
    """
    wo = Window.partitionBy(key).orderBy(ts)
    dedup = df.groupBy(key, ts).agg(F.max(value).alias(value))
    versions = (
        dedup.withColumn("__prev", F.lag(value).over(wo))
        .where(F.col("__prev").isNull() | (F.col(value) != F.col("__prev")))
        .drop("__prev")
    )
    return versions.select(
        key,
        F.row_number().over(wo).cast("bigint").alias("version"),
        F.col(ts).alias("valid_from"),
        F.lead(ts).over(wo).alias("valid_to"),
        value,
        F.lead(ts).over(wo).isNull().alias("is_current"),
    )


def purchase_change_rows(events: DataFrame) -> DataFrame:
    """Purchase events as an SCD2 change feed: (user_id, s epoch-sec,
    cents BIGINT). Shared by the batch ``scd2_user_value_history`` query
    and ``streaming.jobs.run_streaming_scd2`` so both version the exact
    same state stream."""
    from ds_mapreduce_spark.functions.temporal import epoch_sec

    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    return events.where(F.col("event_type") == "purchase").select(
        "user_id", epoch_sec("ts").alias("s"), cents.alias("cents")
    )


def skyline_2d_min(
    df: DataFrame, x_col: str, y_col: str, bucket_width: int
) -> DataFrame:
    """2-D skyline (Pareto frontier, minimize both): rows no other row
    dominates, where q dominates p iff q.x <= p.x AND q.y <= p.y AND
    strictly better on at least one — the SKYLINE operator of
    Börzsönyi/Kossmann/Stocker (ICDE'01), which naive SQL states as a
    NOT EXISTS self-join (the oracle does exactly that, independently).

    Distributed shape — NO O(n²) pair space and NO global-sort window
    (a plain `ORDER BY x` running min is a SinglePartition at scale):
    for the 2-D minimize/minimize case, p is dominated iff
      (a) some strictly-cheaper-x row has y <= p.y, or
      (b) some equal-x row has y < p.y.
    Bucket x into fixed-width ranges; then "strictly cheaper x" splits
    into strictly-lower BUCKETS (a per-bucket min-y aggregate — bounded
    by x-range/width rows — whose prefix-min over bucket order is a
    bounded-table window, broadcast back) and same-bucket cheaper rows
    (a per-BUCKET window, RANGE UNBOUNDED PRECEDING TO 1 PRECEDING on
    x, so partitions are bucket-sized, never corpus-sized). Same-x min
    comes from a (bucket, x)-keyed window. One data shuffle on bucket
    keys + one broadcast; AQE splits hot buckets. Generalizes to the
    BNL/grid skyline for d>2 by treating (all-but-one dims) as the
    bucket key.
    """
    b = (F.col(x_col) / F.lit(bucket_width)).cast("bigint")
    rows = df.withColumn("__b", b)
    # bounded per-bucket minima -> prefix min over STRICTLY lower buckets
    per_bucket = rows.groupBy("__b").agg(F.min(y_col).alias("__bmin"))
    wb = (
        Window.orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # bounded table (x-range/width rows): SinglePartition tail is fine
    lower = per_bucket.select(
        "__b", F.min("__bmin").over(wb).alias("__lower_min")
    )
    wx = (
        Window.partitionBy("__b")
        .orderBy(x_col)
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    weq = Window.partitionBy("__b", x_col)
    flagged = (
        rows.join(F.broadcast(lower), "__b")
        .withColumn("__same_bucket_min", F.min(y_col).over(wx))
        .withColumn("__eq_x_min", F.min(y_col).over(weq))
    )
    dominated = (
        (F.col("__lower_min") <= F.col(y_col))
        | (F.col("__same_bucket_min") <= F.col(y_col))
        | (F.col("__eq_x_min") < F.col(y_col))
    )
    return flagged.where(~F.coalesce(dominated, F.lit(False))).drop(
        "__b", "__lower_min", "__same_bucket_min", "__eq_x_min"
    )


def skyline_grid_min(
    df: DataFrame,
    dims: Sequence[str],
    widths: Sequence[int],
    id_cols: Sequence[str],
) -> DataFrame:
    """d-dimensional skyline (Pareto frontier, minimize every dim): rows
    no other row dominates, where q dominates p iff q <= p in every dim
    and q < p in at least one — the grid/BNL generalization the 2-D
    operator's docstring promises (skyline_2d_min handles d=2 with pure
    windows; naive SQL states d>=3 as a NOT EXISTS self-join, which the
    oracle does independently).

    Distributed shape (MR-BNL family — Börzsönyi ICDE'01 grid pruning +
    partition-local skylines), NO O(n^2) pair space at any stage:

    1. Grid: bucket every dim by a fixed width; the nonempty-cell table
       is BOUNDED by the product of per-dim bucket counts (value-range
       bound, not volume bound) and is the only thing ever broadcast.
    2. Cell prune (pure DataFrame): a cell dies iff some nonempty cell
       is STRICTLY lower in every dim — every point there dominates
       every point here. On dense data this kills the grid interior;
       survivors hug the frontier faces.
    3. Local skyline per surviving cell via Arrow-batched
       applyInPandas (per-partition imperative logic is the documented
       pandas seam): lexicographic sort, then block-BNL against a
       growing frontier array — a later point in sort order can never
       dominate an earlier one, so one forward pass suffices. Group
       size = cell population, controlled by the widths; a hot cell is
       the caller's signal to narrow them.
    4. Verify: candidate p is checked only against local-skyline
       points q of ALIVE cells with cell(q) <= cell(p) componentwise
       (cell-pair table built from the bounded alive-cell table,
       broadcast; the q-side join is one shuffle on cell coords).
       Sound by a minimal-dominator induction: take a dominator q* of
       p minimizing the coordinate sum. Its cell is <= p's and cannot
       be dead (a strictly-lower nonempty cell would hold a smaller
       dominator), and q* must survive its local skyline (a same-cell
       dominator of q* would be smaller) — so q* itself is reachable
       through exactly the pairs we probe.

    Exact duplicates never dominate each other (no strict inequality),
    so tied frontier rows all survive — same as NOT EXISTS. 100 TB:
    the fact scan is pruned by the broadcast alive-cell semi-join
    before any shuffle; everything downstream is frontier-sized.
    """
    import pandas as pd

    d = len(dims)
    assert len(widths) == d and d >= 2
    bcols = [f"__b{i}" for i in range(d)]
    rows = df.select(
        *id_cols,
        *dims,
        *[
            (F.col(dim) / F.lit(w)).cast("bigint").alias(b)
            for dim, w, b in zip(dims, widths, bcols)
        ],
    )
    cells = rows.groupBy(*bcols).agg(F.count(F.lit(1)).alias("__n"))
    lower = cells.select(*[F.col(b).alias(f"__l{i}") for i, b in enumerate(bcols)])
    strictly_lower = [F.col(f"__l{i}") < F.col(b) for i, b in enumerate(bcols)]
    # bounded x bounded: both sides are the nonempty-cell table
    dead_pred = strictly_lower[0]
    for p in strictly_lower[1:]:
        dead_pred = dead_pred & p
    # alive is referenced by three branches (candidate semi-join + both
    # sides of the cell-pair join); checkpoint the ~grid-sized table so
    # the fact table scans ONCE (CLAUDE.md convention), not per branch
    alive = (
        cells.join(F.broadcast(lower), dead_pred, "left_anti")
        .select(*bcols)
        .localCheckpoint(eager=True)
    )
    cand = rows.join(F.broadcast(alive), bcols, "left_semi")

    out_schema = cand.schema

    def cell_skyline(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        a = pdf[list(dims)].to_numpy()
        order = np.lexsort(tuple(a[:, i] for i in reversed(range(d))))
        a = a[order]
        kept_pos: list[int] = []
        frontier = np.empty((0, d), dtype=a.dtype)
        for start in range(0, len(a), 512):
            blk = a[start : start + 512]
            if len(frontier):
                dom = (
                    (frontier[None, :, :] <= blk[:, None, :]).all(-1)
                    & (frontier[None, :, :] < blk[:, None, :]).any(-1)
                ).any(-1)
            else:
                dom = np.zeros(len(blk), dtype=bool)
            dom |= (
                (blk[None, :, :] <= blk[:, None, :]).all(-1)
                & (blk[None, :, :] < blk[:, None, :]).any(-1)
            ).any(-1)
            kept_pos.extend(start + i for i in np.flatnonzero(~dom))
            frontier = np.concatenate([frontier, blk[~dom]])
        return pdf.iloc[order[kept_pos]]

    local = cand.groupBy(*bcols).applyInPandas(cell_skyline, schema=out_schema)
    local = local.localCheckpoint(eager=True)

    qb = [f"__q{i}" for i in range(d)]
    region_pred = F.col(qb[0]) <= F.col(bcols[0])
    for i in range(1, d):
        region_pred = region_pred & (F.col(qb[i]) <= F.col(bcols[i]))
    pairs = alive.join(
        F.broadcast(alive.select(*[F.col(b).alias(q) for b, q in zip(bcols, qb)])),
        region_pred,
    )
    qside = local.select(
        *[F.col(b).alias(q) for b, q in zip(bcols, qb)],
        *[F.col(dim).alias(f"__qd{i}") for i, dim in enumerate(dims)],
    )
    leq = [F.col(f"__qd{i}") <= F.col(dim) for i, dim in enumerate(dims)]
    lt = [F.col(f"__qd{i}") < F.col(dim) for i, dim in enumerate(dims)]
    dominates = leq[0]
    for p in leq[1:]:
        dominates = dominates & p
    strict = lt[0]
    for p in lt[1:]:
        strict = strict | p
    dominated = (
        local.join(F.broadcast(pairs), bcols)
        .join(qside, qb)
        .where(dominates & strict)
        .select(*id_cols)
        .distinct()
    )
    return local.join(dominated, list(id_cols), "left_anti").drop(*bcols)
