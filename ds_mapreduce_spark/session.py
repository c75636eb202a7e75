"""SparkSession factory with scale-oriented defaults.

``local[$SPARK_GRAFT_CPUS]`` with AQE, Arrow and a UTC session clock.
None of the settings is load-bearing for correctness:
every operator takes the session as an argument, so sessions built
elsewhere (``__spark_entry__.entry(spark)`` gets its caller's) run
the same plans with Spark's stock settings, the stock Python worker
daemon included.

``spark.python.daemon.module`` = ``ds_mapreduce_spark.pydaemon`` serves
the Python workers, not the plans. Each Python worker task starts with
``importlib.invalidate_caches()``, and on CPython < 3.13 that re-reads
the central directory of every cached zip import, ``pyspark.zip`` above
all: a trivial ``mapInPandas`` task took 0.25 s of worker CPU with the
stock daemon and 0.05 s with this one (4-vCPU VM, CPython 3.11.7); on
the h264/mcv codec roundtrips that was about half of the Python CPU. The
daemon re-reads a zip only when its mtime or size changed, so
``addPyFile`` archives still import. Its workers must be able to import
``ds_mapreduce_spark``, through the working directory or ``PYTHONPATH``,
as every ``mapInPandas`` closure here already must.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "ds-mapreduce-spark") -> SparkSession:
    """Build (or reuse) a SparkSession.

    Scale notes (100 TB): on a real cluster the same conf applies except
    ``master`` and sizing: shuffle partitions should be ~2-3x total
    executor cores (or left to AQE coalescing with a high initial
    value), and ``spark.sql.files.maxPartitionBytes`` stays at the
    default 128 MiB so a 100 TB scan yields ~800k input splits — fine
    for the DAG scheduler.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # one shuffle partition per core locally; AQE coalesces further
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # deterministic timestamp semantics vs the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "ds_mapreduce_spark.pydaemon")
        .getOrCreate()
    )
