"""Metadata plane contents and write budget over repeated pipeline runs.

A small bronze -> silver -> gold config runs twice against clean default
metadata tables; the control table, data dictionary, audit log and DQ
metrics are pinned against expectations computed by hand from the
generated input. The budget tests pin what a steady-state run may write
(a few appended files, no dictionary rewrite) and that control lookups
answer without starting a Spark job.
"""

from __future__ import annotations

import json
import os
import sys
import textwrap
from concurrent.futures import ThreadPoolExecutor
from datetime import date, datetime

import pytest

import metadata_driven_etl_spark.metadata.audit as audit_module
import metadata_driven_etl_spark.metadata.control as control_module
import metadata_driven_etl_spark.metadata.metrics as metrics_module
from metadata_driven_etl_spark.config.model import PipelineConfig
from metadata_driven_etl_spark.dq.engine import DQRuleMetrics
from metadata_driven_etl_spark.io.writer import ParquetFormat
from metadata_driven_etl_spark.metadata.audit import AuditLogger
from metadata_driven_etl_spark.metadata.control import CONTROL_SCHEMA, ControlTable
from metadata_driven_etl_spark.metadata.metrics import (
    DataDictionary,
    DQMetricsStore,
)
from metadata_driven_etl_spark.plans.pipeline import (
    PipelineContext,
    SilverLayer,
)
from metadata_driven_etl_spark.plans.runner import run_pipeline

LAYERS = ["bronze", "silver", "gold"]
RUN_DATES = ("2024-01-01", "2024-01-02")
DEFAULT_TABLES = (
    "metadata.etl_control_table",
    "metadata.etl_audit_log",
    "metadata.data_quality_metrics",
    "metadata.data_dictionary",
)
DATABASES = ("mp_bronze", "mp_silver", "mp_gold")
# (txn_id, customer_id, category, qty, amount, day)
TXNS = [
    (i, None if i % 7 == 0 else f"C{i % 4}", ("a", "b", "c")[i % 3],
     0 if i % 5 == 0 else i % 4 + 1, float(i), date(2024, 1, 1 + i % 3))
    for i in range(1, 31)
]

BRONZE = """
sources:
  - source_id: txns_src
    source_type: file
    file_format: parquet
    source_path: "{path}"
    target_table: mp_bronze.txns
    extract_strategy: full
"""
SILVER = """
transformations:
  - transform_id: txns_clean
    target_table: mp_silver.txns
    sql_query: >-
      SELECT txn_id, customer_id, category, qty, amount, day
      FROM mp_bronze.txns WHERE day <= '${PROCESSING_DATE}'
    partition_by: day
    data_quality:
      - rule_name: qty_positive
        rule_type: expression
        expression: "qty > 0"
        action_on_failure: filter
      - rule_name: customer_present
        rule_type: not_null
        column: customer_id
        action_on_failure: tag
"""
GOLD = """
models:
  - model_id: daily_sales
    refresh_type: incremental
    target_table: mp_gold.daily_sales
    primary_keys: [day, category]
    sql_query: >-
      SELECT day, category, COUNT(*) AS n_txns, SUM(amount) AS revenue
      FROM mp_silver.txns GROUP BY day, category
  - model_id: category_units
    refresh_type: full
    target_table: mp_gold.category_units
    sql_query: >-
      SELECT category, {units} AS units{extra} FROM mp_silver.txns
      GROUP BY category
"""


def _write_configs(config_dir, src_path, units="SUM(qty)", extra=""):
    for layer, body in (
        ("bronze", BRONZE.format(path=src_path)),
        ("silver", SILVER),
        ("gold", GOLD.format(units=units, extra=extra)),
    ):
        (config_dir / f"{layer}_config.yaml").write_text(textwrap.dedent(body))


def _drop_all(spark):
    for t in DEFAULT_TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    for db in DATABASES:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _data_files(path):
    return {
        os.path.join(root, n)
        for root, _dirs, names in os.walk(path)
        for n in names
        if not n.startswith((".", "_"))
    }


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    """Run the config twice on clean default metadata tables; capture the
    metadata plane after the second run."""
    _drop_all(spark)
    tmp = tmp_path_factory.mktemp("metadata_plane")
    src = str(tmp / "txns")
    spark.createDataFrame(
        TXNS,
        "txn_id INT, customer_id STRING, category STRING, qty INT, "
        "amount DOUBLE, day DATE",
    ).write.parquet(src)
    config_dir = tmp / "configs"
    config_dir.mkdir()
    _write_configs(config_dir, src)
    meta_dir = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"),
        "metadata.db",
    )
    results = [
        run_pipeline(spark, str(config_dir), RUN_DATES[0], LAYERS, ParquetFormat())
    ]
    files_1 = _data_files(meta_dir)
    results.append(
        run_pipeline(spark, str(config_dir), RUN_DATES[1], LAYERS, ParquetFormat())
    )
    files_2 = _data_files(meta_dir)
    yield {
        "config_dir": config_dir,
        "src": src,
        "results": results,
        "files": (files_1, files_2),
        "dictionary": {
            (r.table_name, r.column_name): r
            for r in spark.table("metadata.data_dictionary").collect()
        },
    }
    _drop_all(spark)


def _expected_counts(run_date):
    """(silver rows, gold daily groups, gold categories) after a run."""
    upto = date.fromisoformat(run_date)
    kept = [t for t in TXNS if t[5] <= upto and t[3] > 0]
    return (
        len(kept),
        len({(t[5], t[2]) for t in kept}),
        len({t[2] for t in kept}),
    )


def test_runs_succeed(runs):
    for results in runs["results"]:
        assert {layer: [r.status for r in rs] for layer, rs in results.items()} == {
            "bronze": ["success"],
            "silver": ["success"],
            "gold": ["success", "success"],
        }


def test_control_table_one_row_per_unit_with_second_run_state(spark, runs):
    silver_rows, daily_groups, categories = _expected_counts(RUN_DATES[1])
    want = {
        ("mp_bronze.txns", "bronze"): (
            len(TXNS), {"source_id": "txns_src", "strategy": "full"},
        ),
        ("mp_silver.txns", "silver"): (
            silver_rows, {"transform_id": "txns_clean"},
        ),
        ("mp_gold.daily_sales", "gold"): (
            daily_groups,
            {"model_id": "daily_sales", "refresh_type": "incremental"},
        ),
        ("mp_gold.category_units", "gold"): (
            categories, {"model_id": "category_units", "refresh_type": "full"},
        ),
    }
    rows = spark.table("metadata.etl_control_table").collect()
    assert len(rows) == len(want)
    got = {
        (r.table_name, r.layer): (
            r.last_run_date, r.records_processed, r.status,
            json.loads(r.config_snapshot),
        )
        for r in rows
    }
    assert got == {
        k: (RUN_DATES[1], n, "success", snap) for k, (n, snap) in want.items()
    }


def test_dictionary_one_row_per_column(runs):
    base = {"txn_id": "int", "customer_id": "string", "category": "string",
            "qty": "int", "amount": "double", "day": "date"}
    silver = {**base, "dq_customer_present_flag": "string"}
    want = {
        **{("mp_silver.txns", c): t for c, t in silver.items()},
        ("mp_gold.daily_sales", "day"): "date",
        ("mp_gold.daily_sales", "category"): "string",
        ("mp_gold.daily_sales", "n_txns"): "bigint",
        ("mp_gold.daily_sales", "revenue"): "double",
        ("mp_gold.daily_sales", "gold_insert_timestamp"): "timestamp",
        ("mp_gold.category_units", "category"): "string",
        ("mp_gold.category_units", "units"): "bigint",
        ("mp_gold.category_units", "gold_insert_timestamp"): "timestamp",
    }
    assert {k: r.data_type for k, r in runs["dictionary"].items()} == want


def test_audit_started_and_success_for_every_unit_and_layer(spark, runs):
    units = {"bronze": ["txns_src"], "silver": ["txns_clean"],
             "gold": ["daily_sales", "category_units"]}
    want = {
        (layer, op, comp, status)
        for layer, comps in units.items()
        for op, comp in [("layer_run", f"{layer}_layer")]
        + [("process", c) for c in comps]
        for status in ("STARTED", "SUCCESS")
    }
    rows = spark.table("metadata.etl_audit_log").collect()
    by_run: dict[str, list] = {}
    for r in rows:
        by_run.setdefault(r.run_id, []).append(
            (r.layer, r.operation, r.component, r.status)
        )
    assert len(by_run) == 2
    for events in by_run.values():
        assert sorted(events) == sorted(want)


def test_dq_metrics_one_row_per_rule_per_run(spark, runs):
    rows = spark.table("metadata.data_quality_metrics").collect()
    got = sorted((r.run_date, r.rule_name, r.table_name) for r in rows)
    assert got == sorted(
        (d, rule, "mp_silver.txns")
        for d in RUN_DATES
        for rule in ("qty_positive", "customer_present")
    )
    upto = date.fromisoformat(RUN_DATES[1])
    in_scope = [t for t in TXNS if t[5] <= upto]
    qty = next(r for r in rows
               if r.rule_name == "qty_positive" and r.run_date == RUN_DATES[1])
    assert (qty.total_count, qty.invalid_count) == (
        len(in_scope), sum(t[3] <= 0 for t in in_scope)
    )


def test_second_run_adds_at_most_six_metadata_files(runs):
    files_1, files_2 = runs["files"]
    assert len(files_2) - len(files_1) <= 6


def test_unchanged_schemas_do_not_rewrite_dictionary(runs):
    files_1, files_2 = (
        {f for f in fs if "/data_dictionary/" in f} for fs in runs["files"]
    )
    assert files_1 and files_1 == files_2


def test_control_reads_start_no_spark_job(spark, runs):
    control = ControlTable(spark, ParquetFormat())
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "metadata_plane_control_reads"
    sc.setJobGroup(group, "control table lookups")
    try:
        assert control.get_last_run_date("mp_bronze.txns", "bronze") == RUN_DATES[1]
        assert control.get_state("mp_gold.daily_sales", "gold")["status"] == "success"
        assert control.get_last_run_date("mp_bronze.nope", "bronze") is None
        assert list(tracker.getJobIdsForGroup(group)) == []
        spark.range(3).count()  # the group does record jobs
        assert len(tracker.getJobIdsForGroup(group)) >= 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_store_constructed_later_sees_earlier_writes(spark):
    fmt = ParquetFormat()
    control = ControlTable(spark, fmt, table="metadata.mp_control_later")
    control.update_run("t", "bronze", "2024-02-01", 7, "success", {"k": 1})
    dictionary = DataDictionary(spark, fmt, table="metadata.mp_dict_later")
    dictionary.register("t", spark.range(1), {"id": "row id"})

    control2 = ControlTable(spark, fmt, table="metadata.mp_control_later")
    assert control2.get_state("t", "bronze") == control.get_state("t", "bronze")
    assert control2.get_last_run_date("t", "bronze") == "2024-02-01"
    dictionary2 = DataDictionary(spark, fmt, table="metadata.mp_dict_later")
    assert dictionary2.get(("t", "id"))[2:5] == ("bigint", False, "row id")


@pytest.fixture(scope="module")
def iso_ctx(spark, runs):
    """A context on its own metadata tables, so the failures these tests
    provoke stay out of the default audit log."""
    fmt = ParquetFormat()
    return PipelineContext(
        spark=spark,
        table_format=fmt,
        control=ControlTable(spark, fmt, table="metadata.mp_iso_control"),
        audit=AuditLogger(spark, fmt, table="metadata.mp_iso_audit"),
        dq_metrics=DQMetricsStore(spark, fmt, table="metadata.mp_iso_dq"),
        dictionary=DataDictionary(spark, fmt, table="metadata.mp_iso_dict"),
    )


def _silver(units):
    return PipelineConfig.from_dict({
        "transformations": [
            {"transform_id": uid, "target_table": f"mp_silver.{uid}",
             "sql_query": sql}
            for uid, sql in units
        ]
    })


def _events(spark, ctx, components):
    return sorted(
        (r.component, r.status)
        for r in spark.table(ctx.audit.table).collect()
        if r.component in components
    )


def test_failing_unit_error_row_flushed_at_layer_end(spark, iso_ctx):
    results = SilverLayer(iso_ctx, _silver([
        ("broken", "SELECT * FROM does.not_exist"), ("works", "SELECT 1 AS x"),
    ])).run(RUN_DATES[0])
    assert [r.status for r in results] == ["error", "success"]
    assert _events(spark, iso_ctx, {"broken", "works"}) == [
        ("broken", "ERROR"), ("broken", "STARTED"),
        ("works", "STARTED"), ("works", "SUCCESS"),
    ]


def test_layer_that_raises_still_flushes_buffered_rows(spark, iso_ctx):
    class Exploding(SilverLayer):
        def _run_unit(self, unit, runner):
            super()._run_unit(unit, runner)
            raise RuntimeError("layer failed after its unit")

    with pytest.raises(RuntimeError, match="layer failed"):
        Exploding(iso_ctx, _silver([("survivor", "SELECT 2 AS x")])).run(
            RUN_DATES[0]
        )
    assert _events(spark, iso_ctx, {"survivor"}) == [
        ("survivor", "STARTED"), ("survivor", "SUCCESS"),
    ]


def test_concurrent_commits_lose_no_update(spark):
    """Units of one run commit from concurrent threads: every upsert and
    every buffered row survives."""
    fmt = ParquetFormat()
    control = ControlTable(spark, fmt, table="metadata.mp_stress_control")
    audit = AuditLogger(spark, fmt, table="metadata.mp_stress_audit")

    def unit(i):
        for k in range(50):
            audit.log_start("bronze", "process", f"u{i}_{k}")
        control.update_run(f"t{i}", "bronze", "2024-03-01", i, "success")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(unit, i) for i in range(8)]
            for f in futures:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    audit.flush()
    want = {(f"t{i}", "bronze"): i for i in range(8)}
    got = {
        (r.table_name, r.layer): r.records_processed
        for r in spark.table("metadata.mp_stress_control").collect()
    }
    assert got == want
    assert {k: control.get_state(*k)["records_processed"] for k in want} == want
    assert spark.table("metadata.mp_stress_audit").count() == 8 * 50


def _table_dir(spark, table):
    db, name = table.split(".")
    return os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"),
        f"{db}.db", name,
    )


class _Crashing:
    """A Hadoop ``FileSystem`` whose method ``name`` raises, standing in
    for a driver that dies at that step of a commit."""

    def __init__(self, fs, name):
        self._fs, self._name = fs, name

    def __getattr__(self, attr):
        if attr != self._name:
            return getattr(self._fs, attr)

        def crash(*_args):
            raise OSError(f"crash in {attr}")

        return crash


def test_metadata_commits_and_loads_start_no_spark_job(spark, spark_jobs):
    """Every commit is a driver-written file and every store loads from
    files on the driver: commits and construction over an existing table
    start no Spark job."""
    fmt = ParquetFormat()
    tables = {name: f"metadata.mp_nojob_{name}"
              for name in ("control", "audit", "dq", "dict")}

    def stores():
        return (
            ControlTable(spark, fmt, table=tables["control"]),
            AuditLogger(spark, fmt, table=tables["audit"]),
            DQMetricsStore(spark, fmt, table=tables["dq"]),
            DataDictionary(spark, fmt, table=tables["dict"]),
        )

    control, audit, dq, dictionary = stores()
    control.update_run("t", "bronze", "2024-05-01", 1, "success")
    dictionary.register("t", spark.range(1))
    with spark_jobs() as jobs:
        control.update_run("t", "bronze", "2024-05-02", 2, "success")
        audit.log_start("bronze", "process", "u")
        audit.flush()
        dq.record("t", "2024-05-02", [
            DQRuleMetrics("r", "expression", "filter", 10, 9, 1),
        ])
        dictionary.register("t", spark.range(1).selectExpr("id", "'x' AS tag"))
        stores()
        assert jobs() == 0
    assert [tuple(r)[:4] for r in spark.table(tables["control"]).collect()] == [
        ("t", "bronze", "2024-05-02", 2),
    ]
    assert spark.table(tables["audit"]).count() == 1
    assert [r.invalid_count for r in spark.table(tables["dq"]).collect()] == [1]
    assert sorted(
        r.column_name for r in spark.table(tables["dict"]).collect()
    ) == ["id", "tag"]


def test_keyed_commit_cut_before_cleanup_leaves_new_state(spark):
    """A crash between the rename and the delete of the older file leaves
    both files: the table stays readable, a new store's mirror is the new
    state (newest file wins), and the next commit leaves each key once."""
    fmt = ParquetFormat()
    table = "metadata.mp_crash_cleanup"
    control = ControlTable(spark, fmt, table=table)
    control.update_run("t1", "bronze", "2024-06-01", 1, "success")
    control.update_run("t2", "bronze", "2024-06-01", 2, "success")
    control._fs = _Crashing(control._fs, "delete")
    with pytest.raises(OSError, match="crash in delete"):
        control.update_run("t1", "bronze", "2024-06-02", 10, "success")
    assert len(_data_files(_table_dir(spark, table))) == 2
    assert spark.table(table).count() == 4

    after = ControlTable(spark, fmt, table=table)
    assert {
        t: after.get_state(t, "bronze")["records_processed"] for t in ("t1", "t2")
    } == {"t1": 10, "t2": 2}
    assert after.get_last_run_date("t1", "bronze") == "2024-06-02"
    after.update_run("t3", "bronze", "2024-06-02", 3, "success")
    assert sorted(
        (r.table_name, r.records_processed)
        for r in spark.table(table).collect()
    ) == [("t1", 10), ("t2", 2), ("t3", 3)]
    assert len(_data_files(_table_dir(spark, table))) == 1


def test_leftover_temp_file_is_read_by_nobody(spark):
    """A crash before the rename leaves the hidden temp file: neither
    Spark nor a new store's mirror reads it."""
    fmt = ParquetFormat()
    table = "metadata.mp_crash_rename"
    control = ControlTable(spark, fmt, table=table)
    control.update_run("t1", "bronze", "2024-06-01", 1, "success")
    control._fs = _Crashing(control._fs, "rename")
    with pytest.raises(OSError, match="crash in rename"):
        control.update_run("ghost", "bronze", "2024-06-02", 9, "success")
    names = os.listdir(_table_dir(spark, table))
    assert any(n.startswith(".") and n.endswith(".tmp") for n in names), names

    spark.catalog.refreshTable(table)
    assert [r.table_name for r in spark.table(table).collect()] == ["t1"]
    after = ControlTable(spark, fmt, table=table)
    assert after.get_state("ghost", "bronze") is None
    assert after.get_state("t1", "bronze")["records_processed"] == 1


def test_saveastable_files_load_and_count_as_oldest(spark):
    """A table ``saveAsTable`` wrote (Spark's own timestamp encoding)
    loads into the mirror as ``spark.table`` reads it, and the first
    commit replaces its file."""
    fmt = ParquetFormat()
    table = "metadata.mp_saveastable"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    stamp = datetime(2024, 6, 1, 12, 30, 45, 123456)
    spark.createDataFrame(
        [("t1", "bronze", "2024-06-01", 1, "success", "{}", stamp),
         ("t2", "bronze", "2024-06-01", 2, "failed", "{}", stamp)],
        CONTROL_SCHEMA,
    ).coalesce(1).write.mode("overwrite").saveAsTable(table)
    control = ControlTable(spark, fmt, table=table)
    for row in spark.table(table).collect():
        assert control.get_state(row.table_name, row.layer) == row
    control.update_run("t2", "bronze", "2024-06-02", 5, "success")
    assert sorted(
        (r.table_name, r.records_processed, r.updated_timestamp == stamp)
        for r in spark.table(table).collect()
    ) == [("t1", 1, True), ("t2", 5, False)]
    [name] = _data_files(_table_dir(spark, table))
    assert os.path.basename(name).startswith("commit-")


@pytest.mark.parametrize("stamp", [
    datetime(2024, 3, 10, 1, 2, 3, 456789),
    datetime(1969, 12, 31, 23, 59, 59, 999999),
])
def test_timestamps_round_trip_through_a_commit(spark, monkeypatch, stamp):
    """A committed ``TimestampType`` value reads back, through
    ``spark.table`` and through a new mirror, exactly as a frame built by
    ``createDataFrame`` returns it."""
    for module in (control_module, audit_module, metrics_module):
        monkeypatch.setattr(module, "utc_now", lambda: stamp)
    want = spark.createDataFrame([(stamp,)], "ts timestamp").collect()[0].ts
    assert want == stamp
    fmt = ParquetFormat()
    suffix = stamp.year
    tables = [f"metadata.mp_ts_{name}_{suffix}" for name in ("control", "audit", "dq")]
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    control = ControlTable(spark, fmt, table=tables[0])
    control.update_run("t", "bronze", "2024-03-10", 1, "success")
    audit = AuditLogger(spark, fmt, table=tables[1])
    audit.log_start("bronze", "process", "u")
    audit.flush()
    DQMetricsStore(spark, fmt, table=tables[2]).record(
        "t", "2024-03-10", [DQRuleMetrics("r", "not_null", "tag", 1, 1, 0)]
    )
    assert [
        [r[col] for r in spark.table(t).collect()]
        for t, col in zip(tables, ("updated_timestamp", "timestamp", "measured_at"))
    ] == [[want]] * 3
    mirror = ControlTable(spark, fmt, table=tables[0]).get_state("t", "bronze")
    assert mirror.updated_timestamp == want


def test_dictionary_tracks_added_and_retyped_columns(spark, runs):
    """Runs last: a third run changes the gold model's schema."""
    _write_configs(
        runs["config_dir"], runs["src"],
        units="CAST(SUM(qty) AS DOUBLE)", extra=", MAX(amount) AS top_amount",
    )
    results = run_pipeline(
        spark, str(runs["config_dir"]), RUN_DATES[1], ["gold"], ParquetFormat()
    )
    assert [r.status for r in results["gold"]] == ["success", "success"]
    after = {
        (r.table_name, r.column_name): r
        for r in spark.table("metadata.data_dictionary").collect()
    }
    before = runs["dictionary"]
    assert set(after) - set(before) == {("mp_gold.category_units", "top_amount")}
    assert after[("mp_gold.category_units", "top_amount")].data_type == "double"
    assert after[("mp_gold.category_units", "units")].data_type == "double"
    unchanged = set(before) - {("mp_gold.category_units", "units")}
    assert {k: tuple(after[k]) for k in unchanged} == {
        k: tuple(before[k]) for k in unchanged
    }
