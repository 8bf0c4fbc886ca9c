from __future__ import annotations

import os
import sys
import uuid
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metadata_driven_etl_spark.session import get_local_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    s = get_local_spark(
        cpus=8,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": warehouse,
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def persistent_rdds(spark):
    """``persistent_rdds()`` returns a counter of the RDDs created from
    then on that are still persisted. A count over the whole context moves
    on its own: checkpoints other tests left behind are released whenever
    a JVM garbage collection lets Spark's ContextCleaner reach them."""
    jsc = spark.sparkContext._jsc

    def mark():
        floor = jsc.sc().newRddId()
        return lambda: sum(
            1 for i in jsc.getPersistentRDDs().keySet() if i > floor
        )

    return mark


@pytest.fixture()
def spark_jobs(spark):
    """``with spark_jobs() as jobs:`` runs its block under a fresh job
    group, which threads started through ``inheritable_thread_target``
    inherit, and clears the group when the block ends; ``jobs()`` returns
    the number of Spark jobs run in the group so far."""
    sc = spark.sparkContext

    @contextmanager
    def counted():
        group = f"spark-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted block")
        try:
            yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)

    return counted


# hypothesis-compatible alias (function-scoped health check suppressed)
@pytest.fixture(scope="session")
def spark_global(spark):
    return spark
