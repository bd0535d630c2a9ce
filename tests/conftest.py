import contextlib
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pytest


@pytest.fixture(scope="session")
def spark():
    from golucene_spark.session import get_spark

    s = get_spark(
        app_name="golucene-tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.default.parallelism": "8",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs(group) as jobs:`` runs the block in its own Spark
    job group; on exit ``jobs`` holds the ids of the jobs it submitted,
    as the status tracker reports them (``group`` must be unique within
    the session)."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def track(group):
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        jobs = []
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
            jobs.extend(sc.statusTracker().getJobIdsForGroup(group))

    return track


@pytest.fixture
def placement():
    """``for where in placement():`` runs the loop body once per top-k
    placement: ``"driver"`` answers every term/boolean search on a
    MaterializedIndex with the driver kernel (search/topk.py),
    ``"spark"`` sends every search to the Spark collector.  The switch
    is the kernel's df constant, as in production; it is restored when
    the loop ends."""
    from golucene_spark.search import topk

    def each():
        old = topk.DRIVER_MAX_DF
        try:
            for where, limit in (("driver", 1 << 62), ("spark", -1)):
                topk.DRIVER_MAX_DF = limit
                yield where
        finally:
            topk.DRIVER_MAX_DF = old

    return each
