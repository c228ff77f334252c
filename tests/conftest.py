from __future__ import annotations

import os

import pytest
from hypothesis import settings

from event_streaming_bnpl_demo_spark.session import get_spark

#: Property tests draw the same examples on every run, so a failure
#: reproduces and a pass means the same thing each time; Spark's job
#: latency varies too much for a per-example deadline.
settings.register_profile("reproducible", derandomize=True, deadline=None)
settings.load_profile("reproducible")

#: Parity tests run at sf0.001 by default (fast inner loop); set
#: SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 to replicate the driver's gate.
SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[*]")
    yield s
    s.stop()


def jobs_run_by(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` submits from this thread."""
    sc = spark.sparkContext
    sc.setJobGroup("jobs_run_by", "jobs_run_by")
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return list(sc.statusTracker().getJobIdsForGroup("jobs_run_by"))
