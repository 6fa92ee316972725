import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airbyte_custom_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _run_in_group(sc, action) -> str:
    """Run ``action()`` under a fresh job group and return the group, once
    its job events have reached the status store."""
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return group


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(action)`` runs ``action()`` under a fresh job group and
    returns how many Spark jobs it launched.  Broadcast builds inherit the
    caller's job group, so they are counted too."""
    sc = spark.sparkContext

    def run(action) -> int:
        return len(sc.statusTracker().getJobIdsForGroup(_run_in_group(sc, action)))

    return run


@pytest.fixture
def stage_tasks(spark):
    """``stage_tasks(action)`` runs ``action()`` under a fresh job group and
    returns the task counts of the stages it ran (skipped stages left
    out), in stage-id order."""
    sc = spark.sparkContext

    def run(action) -> list[int]:
        st = sc.statusTracker()
        group = _run_in_group(sc, action)
        stages = {s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds}
        infos = [st.getStageInfo(s) for s in sorted(stages)]
        return [i.numTasks for i in infos if i.numCompletedTasks > 0]

    return run
