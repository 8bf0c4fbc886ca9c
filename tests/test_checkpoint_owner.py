"""Every local checkpoint the engine makes has an owner (SCALE.md §5.5).

A source check keeps ``localCheckpoint`` calls inside ``io/writer.py``,
whose ``checkpoint`` hands each one to the innermost ``owned`` block of
its thread. The leak guards run the engine's owners — a corpus unit, a
caller's block around an operator, a bronze -> silver -> gold run — and
count the persisted RDDs they leave behind.
"""

from __future__ import annotations

import ast
import pathlib
import textwrap
from datetime import datetime, timedelta

import pytest
from py4j.protocol import Py4JJavaError

from metadata_driven_etl_spark.io.writer import ParquetFormat, checkpoint, owned

PKG = pathlib.Path(__file__).resolve().parents[1] / "metadata_driven_etl_spark"
# workloads.py keeps its own registry copies; io/writer.py is the owner
EXEMPT = {"io/writer.py", "workloads.py"}


def test_local_checkpoints_are_made_only_in_io_writer():
    calls = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel in EXEMPT:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "localCheckpoint"
            ):
                calls.append(f"{rel}:{node.lineno}")
    assert calls == [], "call io.writer.checkpoint instead"


def test_owned_releases_its_checkpoints_on_exit_and_on_error(
    spark, persistent_rdds
):
    persistent = persistent_rdds()
    df = spark.range(10)
    with owned():
        outer = checkpoint(df, eager=True)
        held = persistent()
        with pytest.raises(RuntimeError):
            with owned():
                checkpoint(df, eager=True)
                assert persistent() > held
                raise RuntimeError("unit failed")
        assert persistent() == held
        assert outer.count() == 10
    assert persistent() == 0
    # the use-after-exit rule: the block's checkpoints are gone
    with pytest.raises(Py4JJavaError):
        outer.count()


def test_corpus_pipeline_leaves_no_checkpoint(
    spark, sf_dir, tmp_path, persistent_rdds
):
    from metadata_driven_etl_spark.config.model import load_corpus_config
    from metadata_driven_etl_spark.metadata.audit import AuditLogger
    from metadata_driven_etl_spark.metadata.control import ControlTable
    from metadata_driven_etl_spark.metadata.metrics import (
        DataDictionary,
        DQMetricsStore,
    )
    from metadata_driven_etl_spark.plans.corpus import CorpusLayer
    from metadata_driven_etl_spark.plans.pipeline import PipelineContext

    fmt = ParquetFormat()
    spark.sql("CREATE DATABASE IF NOT EXISTS metadata")
    ctx = PipelineContext(
        spark=spark,
        table_format=fmt,
        control=ControlTable(spark, fmt, table="metadata.co_control"),
        audit=AuditLogger(spark, fmt, table="metadata.co_audit"),
        dq_metrics=DQMetricsStore(spark, fmt, table="metadata.co_dq"),
        dictionary=DataDictionary(spark, fmt, table="metadata.co_dict"),
    )
    path = tmp_path / "corpus_config.yaml"
    path.write_text(textwrap.dedent(f"""
        corpus_pipelines:
          - pipeline_id: co_clean
            input_path: "{sf_dir}/documents.parquet"
            target_table: co_corpus.clean
            stages:
              - stage: quality_filter
                min_quality_score: 0.5
                min_tokens: 5
              - stage: near_dedup
                keep: first
              - stage: span_dedup
                span_tokens: 20
    """))
    persistent = persistent_rdds()
    results = CorpusLayer(ctx, load_corpus_config(str(path))).run("2024-01-01")
    assert [(r.status, r.error) for r in results] == [("success", None)]
    assert results[0].rows == spark.table("co_corpus.clean").count() > 0
    assert persistent() == 0
    spark.sql("DROP DATABASE IF EXISTS co_corpus CASCADE")
    for t in ("control", "audit", "dq", "dict"):
        spark.sql(f"DROP TABLE IF EXISTS metadata.co_{t}")


def test_incremental_dedup_survivors_consumed_in_a_block_leaves_nothing(
    spark, persistent_rdds
):
    from metadata_driven_etl_spark.operators.dedup import (
        incremental_dedup_survivors,
        lsh_bands,
    )

    text = "the quick brown fox jumps over the lazy dog again"
    history = spark.createDataFrame(
        [(1, text), (2, "an entirely different document about spark jobs")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, text), (11, "a fresh document with its own words in it"),
         (12, "a fresh document with its own words in it")],
        "doc_id long, text string",
    )
    index = lsh_bands(history)
    persistent = persistent_rdds()
    with owned():
        survivors = incremental_dedup_survivors(batch, index)
        kept = sorted(r.doc_id for r in survivors.collect())
    assert kept == [11]
    assert persistent() == 0


BRONZE = """
sources:
  - source_id: co_events_src
    source_type: file
    file_format: parquet
    source_path: "{path}"
    target_table: co_bronze.events
    extract_strategy: full
"""
SILVER = """
transformations:
  - transform_id: co_events_clean
    target_table: co_silver.events
    sql_query: >-
      SELECT customer_id, category, amount, ts FROM co_bronze.events
    data_quality:
      - rule_name: amount_positive
        rule_type: expression
        expression: "amount > 0"
        action_on_failure: filter
"""
GOLD = """
models:
  - model_id: co_category_sales
    refresh_type: incremental
    target_table: co_gold.category_sales
    primary_keys: [category]
    sql_query: >-
      SELECT category, COUNT(*) AS n, SUM(amount) AS revenue
      FROM co_silver.events GROUP BY category
  - model_id: co_stickiness
    model_type: event
    refresh_type: full
    target_table: co_gold.stickiness
    event:
      analysis: stickiness
      source_table: co_silver.events
      user_col: customer_id
      ts_col: ts
      window_days: 7
"""


def test_medallion_run_leaves_no_checkpoint(spark, tmp_path, persistent_rdds):
    """Two runs, so the second one's incremental model MERGEs into the
    table the first created; the event model checkpoints inside its
    operator."""
    from metadata_driven_etl_spark.plans.runner import run_pipeline

    t0 = datetime(2024, 1, 1)
    spark.createDataFrame(
        [(f"C{i % 5}", "abc"[i % 3], float(i % 4), t0 + timedelta(hours=7 * i))
         for i in range(60)],
        "customer_id string, category string, amount double, ts timestamp",
    ).write.parquet(str(tmp_path / "events"))
    for layer, body in (
        ("bronze", BRONZE.format(path=tmp_path / "events")),
        ("silver", SILVER),
        ("gold", GOLD),
    ):
        (tmp_path / f"{layer}_config.yaml").write_text(textwrap.dedent(body))
    persistent = persistent_rdds()
    for run_date in ("2024-01-10", "2024-01-11"):
        results = run_pipeline(
            spark, str(tmp_path), run_date, ["bronze", "silver", "gold"],
            ParquetFormat(),
        )
        assert {
            (r.unit_id, r.status) for rs in results.values() for r in rs
        } == {
            ("co_events_src", "success"), ("co_events_clean", "success"),
            ("co_category_sales", "success"), ("co_stickiness", "success"),
        }
    assert spark.table("co_gold.category_sales").count() == 3
    assert persistent() == 0
    for db in ("co_bronze", "co_silver", "co_gold"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
