from __future__ import annotations

import time

import pytest

from anomaly_detector_faironchain_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


def probe_job_id(sc, tag: str) -> int:
    """Id of a one-task probe job. The scheduler hands out job ids in
    submission order, so the jobs between two probes number the
    difference of their ids minus one, whichever thread submitted them."""
    sc.setJobGroup(tag, "job-count probe")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while not (ids := sc.statusTracker().getJobIdsForGroup(tag)):
        assert time.monotonic() < deadline, f"probe {tag} never registered"
        time.sleep(0.01)
    return ids[0]
