"""Known-shape check of the Spark accounting reader.

N parallel tasks that each sleep S seconds must read as N*S seconds of
executor run time and min(N, cores) busy cores. Summed task time is what
separates these shapes; a wall-clock proxy (such as the executors'
``totalDuration``) reads about S for all of them.

    python3 -m pytest perfbench/test_sparkstats.py -q
"""

from __future__ import annotations

import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from sparkstats import SparkAccounting, union_length  # noqa: E402

SLEEP_S = 1.0
CORES = len(os.sched_getaffinity(0))


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from api_log_iceberg_test_spark.session import build_session

    tmp = str(tmp_path_factory.mktemp("spark"))
    session = build_session(
        app_name="perfbench-accounting",
        master=f"local[{CORES}]",
        extra_conf={"spark.local.dir": tmp, "spark.sql.warehouse.dir": tmp},
    )
    # start the Python workers so the measured tasks do not pay for it
    session.sparkContext.parallelize(range(2 * CORES), 2 * CORES).foreach(lambda _: None)
    yield session
    session.stop()


def _sleep_job(spark, group: str, n_tasks: int) -> float:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    t0 = time.time()
    sc.parallelize(range(n_tasks), n_tasks).foreach(lambda _: __import__("time").sleep(SLEEP_S))
    wall = time.time() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    return wall


@pytest.mark.parametrize("n_tasks", [1, CORES, 2 * CORES])
def test_sleep_tasks_sum_to_task_time(spark, n_tasks):
    group = f"sleep-{n_tasks}"
    wall = _sleep_job(spark, group, n_tasks)
    stats = SparkAccounting(spark).by_group(with_task_quantiles=True)[group]

    assert (stats.jobs, stats.stages, stats.tasks) == (1, 1, n_tasks)
    assert n_tasks * SLEEP_S <= stats.executor_run_s <= n_tasks * SLEEP_S * 1.3 + 0.5
    # sleeping burns no CPU
    assert stats.executor_cpu_s < 0.5 * stats.executor_run_s
    busy = stats.executor_run_s / wall
    assert 0.6 * min(n_tasks, CORES) <= busy <= min(n_tasks, CORES) + 0.05
    assert stats.task_skew() < 1.5
    # the stage was active for most of the job's wall time
    (start, end), = stats.stage_intervals
    assert union_length(stats.stage_intervals, start, end) <= wall + 0.05


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert union_length([], 0, 1) == 0
