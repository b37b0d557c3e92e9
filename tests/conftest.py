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


def count_jobs(spark, fn):
    """Run ``fn()`` and return ``(its result, the number of Spark jobs it
    ran)``. Jobs are those the status tracker files under this thread's
    job group, read before and after once the listener bus has drained."""
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")

    def job_ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(group))

    before = job_ids()
    result = fn()
    return result, len(job_ids() - before)


@pytest.fixture(scope="session")
def registry_gate(spark):
    """One walk of the registry under the plan lints and the vacuity check
    (tools/gate.py): every batch frame at sf0.001 is built once and shared
    by null, replay, scan and vacuity."""
    from tools.gate import run

    return run(spark, ["null", "replay", "scan", "vacuity"])
