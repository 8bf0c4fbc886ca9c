"""How a layer schedules its units: independent units run concurrently
from threads that carry the caller's job group, a unit that reads or
writes another unit's table waits for it, results keep config order.
Also pins what a unit costs in Spark jobs and cached blocks: the silver
unit's job count, a rejected silver unit's target left as it was, and
the delta model's snapshot checkpoint released after each run."""

from __future__ import annotations

import threading
import time

import pytest

from metadata_driven_etl_spark.config.model import (
    ConfigError,
    CorpusConfig,
    PipelineConfig,
)
from metadata_driven_etl_spark.io.writer import ParquetFormat
from metadata_driven_etl_spark.metadata.audit import AuditLogger
from metadata_driven_etl_spark.metadata.control import ControlTable
from metadata_driven_etl_spark.metadata.metrics import (
    DataDictionary,
    DQMetricsStore,
)
from metadata_driven_etl_spark.plans.pipeline import (
    GoldLayer,
    PipelineContext,
    SilverLayer,
    unit_dependencies,
)

RUN_DATE = "2024-05-01"


@pytest.fixture(scope="module")
def ctx(spark):
    """A context on its own metadata tables and databases."""
    fmt = ParquetFormat()
    for db in ("us_gold", "us_silver"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        spark.sql(f"CREATE DATABASE {db}")
    yield PipelineContext(
        spark=spark,
        table_format=fmt,
        control=ControlTable(spark, fmt, table="metadata.us_control"),
        audit=AuditLogger(spark, fmt, table="metadata.us_audit"),
        dq_metrics=DQMetricsStore(spark, fmt, table="metadata.us_dq"),
        dictionary=DataDictionary(spark, fmt, table="metadata.us_dict"),
    )
    for db in ("us_gold", "us_silver"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    for t in ("us_control", "us_audit", "us_dq", "us_dict"):
        spark.sql(f"DROP TABLE IF EXISTS metadata.{t}")


def _gold(*models) -> PipelineConfig:
    return PipelineConfig.from_dict({"models": list(models)})


def _model(mid, sql, **extra):
    return {"model_id": mid, "target_table": f"us_gold.{mid}",
            "sql_query": sql, **extra}


def test_independent_units_run_concurrently(spark, ctx, spark_jobs):
    """Three independent models meet at a three-party barrier, which only
    concurrent units can pass. Each unit runs in a pool thread that sees
    the caller's job group, and results come back in config order."""
    sc = spark.sparkContext
    barrier = threading.Barrier(3, timeout=30)
    seen = {}

    class Meeting(GoldLayer):
        def _model(self, m, run_date):
            seen[m.model_id] = (
                sc.getLocalProperty("spark.jobGroup.id"),
                threading.get_ident(),
            )
            barrier.wait()
            return super()._model(m, run_date)

    cfg = _gold(*(_model(mid, f"SELECT {i} AS x")
                  for i, mid in enumerate(("m_c", "m_a", "m_b"))))
    with spark_jobs():
        caller = sc.getLocalProperty("spark.jobGroup.id")
        results = Meeting(ctx, cfg).run(RUN_DATE)
    assert [(r.unit_id, r.status, r.rows) for r in results] == [
        ("m_c", "success", 1), ("m_a", "success", 1), ("m_b", "success", 1),
    ]
    assert {g for g, _ in seen.values()} == {caller}
    assert len({t for _, t in seen.values()}) == 3
    assert threading.get_ident() not in {t for _, t in seen.values()}


def test_unit_reading_another_units_target_waits_for_it(spark, ctx):
    """Model ``reader`` selects from ``writer``'s target. The writer is
    slowed down; the reader still starts after it has finished and sees
    this run's rows, while an unrelated model runs alongside."""
    spark.sql("DROP TABLE IF EXISTS us_gold.writer")
    spark.sql("CREATE TABLE us_gold.writer USING parquet AS "
              "SELECT 'stale' AS run_date")
    spans = {}

    class Timed(GoldLayer):
        def _model(self, m, run_date):
            t0 = time.monotonic()
            if m.model_id == "writer":
                time.sleep(1.5)
            rows = super()._model(m, run_date)
            spans[m.model_id] = (t0, time.monotonic())
            return rows

    cfg = _gold(
        _model("writer", "SELECT '${PROCESSING_DATE}' AS run_date"),
        _model("reader", "SELECT run_date FROM US_GOLD.`writer`"),
        _model("other", "SELECT 1 AS x"),
    )
    results = Timed(ctx, cfg).run(RUN_DATE)
    assert [r.status for r in results] == ["success"] * 3
    assert spans["reader"][0] >= spans["writer"][1]
    assert spans["other"][0] < spans["writer"][1]
    assert [r.run_date for r in spark.table("us_gold.reader").collect()] == [
        RUN_DATE
    ]


def test_dependencies_follow_every_table_reference():
    """Each way a config can name another unit's table orders the two
    units; a longer name that merely starts with a target does not."""
    silver = PipelineConfig.from_dict({"transformations": [
        {"transform_id": "base", "target_table": "s.base",
         "sql_query": "SELECT 1 AS id"},
        {"transform_id": "by_ref", "target_table": "s.by_ref",
         "sql_query": "SELECT 1 AS id",
         "data_quality": [{"rule_name": "known", "rule_type":
                           "referential_integrity", "column": "id",
                           "ref_table": "S.BASE", "ref_column": "id"}]},
        {"transform_id": "by_asof", "target_table": "s.by_asof",
         "sql_query": "SELECT 1 AS id, current_timestamp() AS ts",
         "enrichments": [{"type": "asof", "right_table": "s.by_ref",
                          "keys": ["id"], "right_cols": ["id"]}]},
        {"transform_id": "unrelated", "target_table": "s.base_v2",
         "sql_query": "SELECT * FROM s.base_v2_src"},
        {"transform_id": "again", "target_table": "s.base",
         "sql_query": "SELECT 2 AS id"},
    ]})
    assert unit_dependencies(silver.transformations) == [
        set(), {0}, {1}, set(), {0, 1},
    ]
    gold = PipelineConfig.from_dict({"models": [
        {"model_id": "agg", "refresh_type": "delta",
         "target_table": "g.agg", "snapshot_table": "g.snap",
         "snapshot_keys": ["id"], "group_keys": ["grp"],
         "sum_cols": {"total": "val"}},
        {"model_id": "snap", "target_table": "g.snap",
         "sql_query": "SELECT 1 AS id"},
        {"model_id": "copy_reader", "target_table": "g.copy_reader",
         "sql_query": "SELECT * FROM g.agg__maintained_snapshot"},
        {"model_id": "events", "model_type": "event",
         "target_table": "g.events",
         "event": {"analysis": "new_vs_returning",
                   "source_table": "g.copy_reader"}},
    ]})
    assert unit_dependencies(gold.models) == [set(), {0}, {0}, {2}]
    corpus = CorpusConfig.from_dict({"corpus_pipelines": [
        {"pipeline_id": "first", "input_path": "/data/docs.parquet",
         "target_table": "c.first",
         "stages": [{"stage": "quality_filter"}]},
        {"pipeline_id": "second", "input_table": "c.first",
         "target_table": "c.second",
         "stages": [{"stage": "quality_filter"}]},
    ]})
    assert unit_dependencies(corpus.pipelines) == [set(), {0}]


def test_a_repeated_unit_id_is_rejected_at_load():
    """Two full file sources with one source_id into one table overwrite
    one partition, ``source_id=<id>``: the second would silently delete
    the first one's rows while both report success. An id repeated within
    a layer fails the load instead, disabled units included."""
    src = {"source_id": "orders", "source_type": "file",
           "target_table": "b.orders", "extract_strategy": "full"}
    with pytest.raises(ConfigError, match="duplicate unit id 'orders'"):
        PipelineConfig.from_dict({"sources": [
            {**src, "source_path": "/data/a"},
            {**src, "source_path": "/data/b", "enabled": False},
        ]})
    twice = lambda unit: [unit, {**unit, "target_table": "x.other"}]  # noqa: E731
    with pytest.raises(ConfigError, match="'clean'"):
        PipelineConfig.from_dict({"transformations": twice(
            {"transform_id": "clean", "target_table": "s.clean",
             "sql_query": "SELECT 1 AS id"})})
    with pytest.raises(ConfigError, match="'agg'"):
        PipelineConfig.from_dict({"models": twice(_model("agg", "SELECT 1"))})
    with pytest.raises(ConfigError, match="'docs'"):
        CorpusConfig.from_dict({"corpus_pipelines": twice(
            {"pipeline_id": "docs", "input_path": "/data/docs.parquet",
             "target_table": "c.docs", "stages": [{"stage": "quality_filter"}]})})


def test_silver_unit_job_budget(spark, ctx, spark_jobs):
    """A silver unit whose four rules all fail on some rows runs its DQ
    plan once, in 5 Spark jobs: the DQ checkpoint, which computes the
    output and every rule's count together (4 adaptive jobs), and the
    write, which reads the checkpoint. The DQ metrics, control and audit
    commits are driver-written files and start no job; as ``saveAsTable``
    writes they cost one job each (8 jobs here), and with the counts taken
    by a separate aggregate the write ran the DQ plan again (12)."""
    spark.createDataFrame(
        [(i, f"C{i % 3}" if i % 4 else None, i % 5) for i in range(40)],
        "id long, cust string, qty long",
    ).write.mode("overwrite").saveAsTable("us_silver.src")
    spark.createDataFrame([("C0",), ("C1",)], "cust string").write.mode(
        "overwrite"
    ).saveAsTable("us_silver.custs")
    cfg = PipelineConfig.from_dict({"transformations": [{
        "transform_id": "clean", "target_table": "us_silver.clean",
        "sql_query": "SELECT id, cust, qty FROM us_silver.src",
        "data_quality": [
            {"rule_name": "qty_pos", "rule_type": "expression",
             "expression": "qty > 0", "action_on_failure": "filter"},
            {"rule_name": "cust_present", "rule_type": "not_null",
             "column": "cust", "action_on_failure": "tag"},
            {"rule_name": "unique_id", "rule_type": "uniqueness",
             "columns": ["cust"], "action_on_failure": "tag"},
            {"rule_name": "known_cust", "rule_type": "referential_integrity",
             "column": "cust", "ref_table": "us_silver.custs",
             "ref_column": "cust", "action_on_failure": "tag"},
        ],
    }]})
    counts = []
    for _ in range(2):
        with spark_jobs() as jobs:
            [result] = SilverLayer(ctx, cfg).run(RUN_DATE)
        assert (result.status, result.rows) == ("success", 32)
        counts.append(jobs())
    # the first run also creates the dictionary rows
    assert counts[1] <= 5, counts


def test_rejected_silver_unit_leaves_its_target_as_it_was(
    spark, ctx, persistent_rdds
):
    """A ``reject`` rule decides between the DQ checkpoint and the write:
    a failing batch ends the unit before the write touches the table, so
    the last good run's rows and files stay, no DQ metrics row is
    recorded, and the unit's checkpoint is released."""
    import os

    table = "us_silver.gated"
    cfg = PipelineConfig.from_dict({"transformations": [{
        "transform_id": "gated", "target_table": table,
        "sql_query": "SELECT id, qty FROM us_silver.gate_src",
        "data_quality": [
            {"rule_name": "qty_pos", "rule_type": "expression",
             "expression": "qty > 0", "action_on_failure": "reject"},
            {"rule_name": "id_present", "rule_type": "not_null",
             "column": "id", "action_on_failure": "tag"},
        ],
    }]})

    def load(rows):
        spark.createDataFrame(rows, "id long, qty long").write.mode(
            "overwrite"
        ).saveAsTable("us_silver.gate_src")

    def state():
        spark.catalog.refreshTable(table)
        files = {(f, os.stat(f.removeprefix("file:")).st_mtime_ns)
                 for f in spark.table(table).inputFiles()}
        rows = sorted(tuple(r) for r in spark.table(table).collect())
        return files, rows, ctx.dq_metrics.history(table).count()

    load([(i, i + 1) for i in range(10)])
    [good] = SilverLayer(ctx, cfg).run(RUN_DATE)
    assert (good.status, good.rows) == ("success", 10)
    before = state()

    load([(i, i - 3) for i in range(10)])
    persistent = persistent_rdds()
    [bad] = SilverLayer(ctx, cfg).run(RUN_DATE)
    assert bad.status == "error" and "qty_pos" in bad.error
    assert persistent() == 0
    assert state() == before


def test_delta_model_releases_its_snapshot_checkpoint(
    spark, ctx, persistent_rdds
):
    """The snapshot image a delta model checkpoints for its diff and its
    maintained copy is released once both writes are done, so repeated
    runs leave the persistent-RDD count where it started."""
    spark.createDataFrame(
        [(i, "ab"[i % 2], i) for i in range(10)],
        "id long, grp string, val long",
    ).write.mode("overwrite").saveAsTable("us_silver.snap")
    cfg = _gold({
        "model_id": "ivm", "refresh_type": "delta",
        "target_table": "us_gold.ivm", "snapshot_table": "us_silver.snap",
        "snapshot_keys": ["id"], "group_keys": ["grp"],
        "sum_cols": {"total": "val"},
    })
    persistent = persistent_rdds()
    before = persistent()
    for _ in range(3):
        [result] = GoldLayer(ctx, cfg).run(RUN_DATE)
        assert (result.status, result.rows) == ("success", 2)
    assert persistent() == before
    got = {(r.grp, r.n_rows, r.total) for r in spark.table("us_gold.ivm").collect()}
    assert got == {("a", 5, 20), ("b", 5, 25)}
