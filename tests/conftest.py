from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from enterprise_iot_bigdata_pipeline_spark.session import get_spark

    wh = tmp_path_factory.mktemp("warehouse")
    s = get_spark(
        shuffle_partitions=8,
        master="local[4]",
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield s
    s.stop()


def job_tasks(spark, fn, groups=lambda result: ()):
    """Run ``fn()`` and return ``(its result, [(description, tasks)])``
    with one entry per Spark job it ran, in job-id order: the jobs filed
    under this thread's job group, plus those under the groups that
    ``groups(result)`` names (a streaming query runs its jobs under its
    ``runId``). ``tasks`` counts the tasks the job ran (skipped stages
    excluded); the listener bus is drained before each read."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def job_ids(names):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return {j for g in names for j in sc.statusTracker().getJobIdsForGroup(g)}

    mine = [sc.getLocalProperty("spark.jobGroup.id")]
    before = job_ids(mine)
    result = fn()
    out = []
    for jid in sorted(job_ids([*mine, *groups(result)]) - before):
        j = store.job(jid)
        desc = j.description().get() if j.description().isDefined() else j.name()
        out.append((desc, j.numCompletedTasks()))
    return result, out


def count_jobs(spark, fn):
    """Run ``fn()`` and return ``(its result, the number of Spark jobs it
    ran under this thread's job group)``."""
    result, jobs = job_tasks(spark, fn)
    return result, len(jobs)


@pytest.fixture(scope="session")
def registry_gate(spark):
    """One walk of the registry under the plan lints and the vacuity check
    (tools/gate.py): every batch frame at sf0.001 is built once and shared
    by null, replay, scan and vacuity."""
    from tools.gate import run

    return run(spark, ["null", "replay", "scan", "vacuity"])
