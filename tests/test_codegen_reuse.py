"""A repeated pipeline run reuses the code Spark generated for the run
before it.

Spark keeps whole-stage generated classes in an LRU cache keyed by their
source and class loader. One run of perfbench's seven-unit
bronze/silver/gold pipeline walks more entries than Spark's default 100,
in the same order every run, so at that size nearly every lookup misses
and every run recompiles them all. The engine's session sizes the cache
to hold the run; only the code that inlines the run's own timestamp
literal (bronze lineage and ``gold_insert_timestamp``: the three bronze
writes and the three gold models, each compiled for two class loaders) is
new on a repeated run. Now and then adaptive execution also picks a plan
variant no earlier run used (seen: the gold join model, 2 compiles, in
about one steady run in eight); it is cached from then on.
"""

from __future__ import annotations

import re
from unittest import mock

import pytest

from metadata_driven_etl_spark.config.model import load_config_dir
from metadata_driven_etl_spark.io.writer import ParquetFormat
from metadata_driven_etl_spark.metadata.audit import AuditLogger
from metadata_driven_etl_spark.metadata.control import ControlTable
from metadata_driven_etl_spark.metadata.metrics import (
    DataDictionary,
    DQMetricsStore,
)
from metadata_driven_etl_spark.plans.pipeline import PipelineContext
from metadata_driven_etl_spark.plans.runner import LAYER_CLASSES
from metadata_driven_etl_spark.session import _DEFAULT_CONF
from perfbench import inputs, medallion

CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
SPARK_DEFAULT_CACHE = 100
TIMESTAMP_CLASSES = 12  # (3 bronze writes + 3 gold models) x 2 class loaders
PLAN_VARIANTS = 4  # up to two adaptive plan variants seen for the first time
DATABASES = ("cg_bronze", "cg_silver", "cg_gold")
METADATA = ("cg_control", "cg_audit", "cg_dq", "cg_dict")


def _compiles(spark) -> int:
    """Janino compiles in this JVM so far (one per codegen cache miss)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    """perfbench's medallion configs over 3000 transactions, on their own
    databases and metadata tables; returns a function that runs bronze,
    silver and gold once."""
    work = tmp_path_factory.mktemp("codegen_reuse")
    with mock.patch.dict(inputs.MEDALLION_SIZES, transactions=3_000):
        paths = inputs.medallion_inputs(spark, str(work / "inputs"), seed=1)
    config_dir = work / "configs"
    medallion.write_configs(str(config_dir), paths)
    for f in config_dir.iterdir():
        f.write_text(re.sub(r"\b(bronze|silver|gold)\.", r"cg_\1.", f.read_text()))
    configs = load_config_dir(str(config_dir))
    fmt = ParquetFormat()
    ctx = PipelineContext(
        spark=spark,
        table_format=fmt,
        control=ControlTable(spark, fmt, table="metadata.cg_control"),
        audit=AuditLogger(spark, fmt, table="metadata.cg_audit"),
        dq_metrics=DQMetricsStore(spark, fmt, table="metadata.cg_dq"),
        dictionary=DataDictionary(spark, fmt, table="metadata.cg_dict"),
    )

    def run():
        for layer in ("bronze", "silver", "gold"):
            results = LAYER_CLASSES[layer](ctx, configs[layer]).run(medallion.RUN_DATE)
            assert [r.status for r in results] == ["success"] * len(results)
        ctx.audit.flush()

    yield run
    for db in DATABASES:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    for t in METADATA:
        spark.sql(f"DROP TABLE IF EXISTS metadata.{t}")


def test_engine_session_sizes_the_codegen_cache(spark):
    """The test session is built by ``get_spark``. A static conf counts
    only if it was in the context's conf when the session started."""
    assert int(_DEFAULT_CONF[CACHE_CONF]) > SPARK_DEFAULT_CACHE
    assert spark.sparkContext.getConf().get(CACHE_CONF) == _DEFAULT_CONF[CACHE_CONF]


def test_third_run_compiles_only_its_timestamp_classes(spark, pipeline):
    per_run = []
    for _ in range(3):
        before = _compiles(spark)
        pipeline()
        per_run.append(_compiles(spark) - before)
    # the first run compiles the working set (unless an earlier test left
    # some of it cached); the third must find all but its own timestamps,
    # where a cache smaller than the run recompiles about a hundred
    assert per_run[2] <= TIMESTAMP_CLASSES + PLAN_VARIANTS, per_run
