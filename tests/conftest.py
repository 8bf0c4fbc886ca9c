from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

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


# hypothesis-compatible alias (function-scoped health check suppressed)
@pytest.fixture(scope="session")
def spark_global(spark):
    return spark
