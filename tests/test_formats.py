"""Source/sink round-trips for the interchange formats beyond parquet
(E1/X1 generalized): CSV with header, JSON-lines, and parquet
write-read — schema and values must survive the trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _frame(spark):
    return spark.createDataFrame(
        [(1, "alpha beta", 3.5, True), (2, "with,comma", -0.25, False), (3, None, 0.0, None)],
        "id bigint, txt string, score double, flag boolean",
    )


def _roundtrip_equal(df, back):
    cols = df.columns
    a = sorted(tuple(r[c] for c in cols) for r in df.collect())
    b = sorted(tuple(r[c] for c in cols) for r in back.select(*cols).collect())
    assert a == b


def test_csv_roundtrip(spark, tmp_path):
    df = _frame(spark)
    out = str(tmp_path / "csv")
    df.write.option("header", True).mode("overwrite").csv(out)
    back = spark.read.option("header", True).schema(df.schema).csv(out)
    _roundtrip_equal(df, back)


def test_jsonl_roundtrip(spark, tmp_path):
    df = _frame(spark)
    out = str(tmp_path / "json")
    df.write.mode("overwrite").json(out)
    back = spark.read.schema(df.schema).json(out)
    _roundtrip_equal(df, back)


def test_parquet_roundtrip_preserves_types(spark, tmp_path):
    df = _frame(spark).withColumn("arr", F.array(F.lit(1.0), F.lit(2.0)))
    out = str(tmp_path / "pq")
    df.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert dict(back.dtypes) == dict(df.dtypes)
    _roundtrip_equal(df.drop("arr"), back.drop("arr"))


def test_partitioned_parquet_prunes(spark, tmp_path):
    """Partition-by write + partition-pruned read: the layout a 100 TB
    table uses so predicates skip directories entirely."""
    df = _frame(spark).withColumn("part", F.col("id") % 2)
    out = str(tmp_path / "pq_part")
    df.write.mode("overwrite").partitionBy("part").parquet(out)
    pruned = spark.read.parquet(out).where(F.col("part") == 0)
    assert [r.id for r in pruned.collect()] == [2]
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "part#" in plan  # pruning visible in the plan


def test_compaction_collapses_file_count(spark, sf_dir):
    """The graded compaction query must actually compact: the
    deliberately fragmented copy has ~64 parquet files; the REBALANCE
    write produces far fewer (AQE coalesces to target-size splits —
    at test scale everything fits one or a handful of files)."""
    import glob
    import os

    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.sources.catalog import scratch_dir

    reg = load_all()
    reg["compaction_rebalance"].fn(spark, sf_dir).collect()
    frag = scratch_dir(spark, "compaction_frag", sf_dir)
    compacted = scratch_dir(spark, "compaction_out", sf_dir)
    n_frag = len(glob.glob(os.path.join(frag, "part-*")))
    n_comp = len(glob.glob(os.path.join(compacted, "part-*")))
    assert n_frag >= 32, n_frag
    assert n_comp <= n_frag // 8, (n_frag, n_comp)


@pytest.mark.parametrize(
    "query,tags",
    [
        ("csv_roundtrip", ["csv_roundtrip"]),
        ("zorder_write_prune", ["zorder_lineitem"]),
        ("compaction_rebalance", ["compaction_frag", "compaction_out"]),
        ("bucketed_join_no_shuffle", ["bucketed_join"]),
    ],
)
def test_landed_format_input_rebuilds_after_scratch_wipe(spark, sf_dir, query, tags):
    """A query's landed input can vanish mid-session (a temp-dir
    cleaner): with every scratch path the row landed removed, the next
    call lands it again and returns the same rows, rather than reading
    a path that is gone."""
    import shutil

    from ds_mapreduce_spark.plans.registry import load_all
    from ds_mapreduce_spark.sources.catalog import scratch_dir

    fn = load_all()[query].fn
    before = sorted(fn(spark, sf_dir).collect())
    for tag in tags:
        shutil.rmtree(scratch_dir(spark, tag, sf_dir))
    assert sorted(fn(spark, sf_dir).collect()) == before
