"""The batch lanes are timed on fresh builds, and an eager lane, whose
Spark job fires while its DataFrame is built, is charged for that job."""

from __future__ import annotations

import shutil
import time

import pytest

import harness
import lanes

EAGER_JOB_S = 0.5


@pytest.fixture(scope="module")
def spark():
    bench = harness.Bench("tests", 2, trace=False)
    try:
        yield bench.start_session()
    finally:
        bench.close()
        shutil.rmtree(bench.work, ignore_errors=True)


def test_eager_lane_is_charged_for_its_build_time_job(spark):
    calls = {"eager": 0, "lazy": 0}

    def slow_rows(it):  # nested, so the workers get it by value
        time.sleep(EAGER_JOB_S)
        yield from it

    def eager(spark, data_dir):
        calls["eager"] += 1
        # a driver-side collect at build time, like the markov lanes
        n = spark.sparkContext.parallelize(range(10), 1).mapPartitions(slow_rows).count()
        return spark.range(n)

    def lazy(spark, data_dir):
        calls["lazy"] += 1
        return spark.range(10)

    queries = {"eager": eager, "lazy": lazy}
    passes = [lanes.timed_pass(spark, queries, ["eager", "lazy"], "unused") for _ in range(2)]

    # every timed repetition builds each lane anew
    assert calls == {"eager": 2, "lazy": 2}
    assert passes[0]["eager"][2] is not passes[1]["eager"][2]
    # the build-time job is inside the eager lane's timed wall ...
    for p in passes:
        build_s, exec_s, _ = p["eager"]
        assert build_s >= EAGER_JOB_S
        assert p["lazy"][0] < EAGER_JOB_S
    # ... and in its job group: a build job plus the noop write per pass
    tracker = spark.sparkContext.statusTracker()
    eager_jobs = tracker.getJobIdsForGroup("eager")
    lazy_jobs = tracker.getJobIdsForGroup("lazy")
    assert len(eager_jobs) >= 2 * 2
    assert len(eager_jobs) > len(lazy_jobs) >= 2
    # extra samples run under their own group, outside the lane's
    lanes.timed_pass(spark, queries, ["eager"], "unused", "extra:")
    assert len(tracker.getJobIdsForGroup("eager")) == len(eager_jobs)
    assert len(tracker.getJobIdsForGroup("extra:eager")) >= 2


def test_pass_metrics_sum_the_lane_medians():
    lanes_ = {lane: (0.1, 0.2, None) for lane in lanes.LANES}
    m = lanes.pass_metrics([lanes_, lanes_], events=1000)
    assert m["batch_total_s"] == pytest.approx(0.3 * len(lanes.LANES))
    assert m["drain_stateful_rows_per_s"] == pytest.approx(1000 / 0.3)
    assert m["result_latency_p50_ms"] == pytest.approx(300.0)
