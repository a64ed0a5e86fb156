from __future__ import annotations

import pytest

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from nzgmdb_spark.session import get_spark

    # UI on: the memory-envelope tests probe stage metrics through the UI
    # REST API — with it off the probe degrades and those tests skip.
    s = get_spark(
        app_name="nzgmdb-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "true"},
    )
    yield s
    s.stop()


def jobs_started(spark, fn):
    """``(fn(), number of Spark jobs fn started on this thread)``."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-started-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted by jobs_started")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
