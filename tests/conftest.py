from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ds_mapreduce_spark.session import get_spark  # noqa: E402

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ds-mapreduce-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def jobs_launched(spark):
    """``jobs_launched(fn) -> (fn(), jobs)``: the Spark jobs ``fn``
    launched on the calling thread (a main Python thread or a
    ``foreachBatch`` callback). ``fn`` runs under a fresh job group and
    the thread's own group is restored after it. The status tracker
    learns of jobs from the listener bus, in order, so once a marker job
    run after ``fn`` (in a second group) is visible, so is every job of
    ``fn``."""
    import time
    import uuid

    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

    def run(fn):
        group, marker = f"fn-{uuid.uuid4().hex}", f"marker-{uuid.uuid4().hex}"
        saved = [sc.getLocalProperty(k) for k in keys]
        try:
            sc.setJobGroup(group, "jobs_launched")
            out = fn()
            sc.setJobGroup(marker, "jobs_launched marker")
            sc.parallelize([0], 1).count()
        finally:
            for k, v in zip(keys, saved):
                sc.setLocalProperty(k, v)
        tracker = sc.statusTracker()
        deadline = time.monotonic() + 60
        while not tracker.getJobIdsForGroup(marker):
            assert time.monotonic() < deadline, "marker job never reached the status tracker"
            time.sleep(0.01)
        return out, len(tracker.getJobIdsForGroup(group))

    return run
