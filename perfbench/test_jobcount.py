"""Per-call Spark job counts are exact: the same call on the same fixture
submits the same number of jobs, and the job-id difference the benchmark
uses agrees with the event log, including jobs submitted from
validate_table's thread pool.

    python3 -m pytest perfbench/test_jobcount.py -q

Each case starts its own local Spark session (about a minute each).
"""

from __future__ import annotations

import shutil

import pytest

import run
import tracing


@pytest.mark.parametrize("name", ["ep2_graph", "snapshot_increment"])
def test_job_counts_repeat_and_match_event_log(name):
    work = run.make_work_dir(f"test-{name}")
    import workloads

    bench = run.Bench(workloads.WORKLOADS[name], seed=3, seconds=0,
                      trace=True, work=work)
    try:
        bench.start()
        bench.setup(1)
        first = bench.call(bench.wl.run, "first")
        second = bench.call(bench.wl.run, "second")
        bench.stop_spark()
        jobs, _ = tracing.read_event_log(work / "eventlog")
    finally:
        bench.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    assert first["ok"] and second["ok"]
    assert first["jobs"] > 0
    assert first["jobs"] == second["jobs"]
    for s in (first, second):
        logged = tracing.jobs_in(jobs, s["t0_ms"], s["t0_ms"] + s["wall_s"] * 1000)
        assert logged == s["jobs"]
