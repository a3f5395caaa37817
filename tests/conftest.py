from __future__ import annotations

import tempfile
import uuid

import pytest

from building_energy_data_pipeline_spark.ops.sessionctl import run_in_job_group
from building_energy_data_pipeline_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="bedp-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            # saveAsTable targets (bucketing tests) go to a tmp dir
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark-wh-"),
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def jobs_run(spark, fn):
    """Run ``fn`` in a fresh job group and return ``(its result, the
    number of Spark jobs it started)``, read from the status tracker
    once the listener bus has delivered every job-start event."""
    group = f"jobs-run-{uuid.uuid4().hex}"
    out = run_in_job_group(spark, group, fn)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
