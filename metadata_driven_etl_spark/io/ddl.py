"""DDL / table-maintenance surface (SURVEY.md §2.10, D1-D14).

The reference scatters these across db_utils.py:115-253 and
metadata_manager.py:40-88 — including a hand-rolled DDL-string→StructType
parser (db_utils.py:148-211) that reimplements ``StructType.fromDDL``. Here
each capability is one thin, correctly-parameterized call on Spark's public
API; identifiers are validated instead of f-string-spliced (the reference's
injection hazard, SURVEY.md §2.14#4).
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)?$")


def _check_ident(name: str) -> str:
    """Allow only `db.table`-shaped identifiers into SQL text."""
    if not _IDENT.match(name):
        raise ValueError(f"invalid table/database identifier: {name!r}")
    return name


def create_database(spark: SparkSession, db: str) -> None:
    """D1 (reference db_utils.py:115-123) — non-destructive."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {_check_ident(db)}")


def create_table_from_ddl(
    spark: SparkSession,
    table: str,
    ddl: str,
    partition_by: Sequence[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """D2/D3 (reference db_utils.py:126-211): empty table from a DDL column
    string — via the built-in ``StructType.fromDDL``, not a hand parser.
    Non-destructive (IF NOT EXISTS semantics, unlike the reference's
    drop-then-create)."""
    _check_ident(table)
    if spark.catalog.tableExists(table):
        return
    schema = StructType.fromDDL(ddl)
    writer = spark.createDataFrame([], schema).write.format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(table)


def drop_table(spark: SparkSession, table: str) -> None:
    """D4 (reference db_utils.py:225-235)."""
    spark.sql(f"DROP TABLE IF EXISTS {_check_ident(table)}")


def truncate_table(spark: SparkSession, table: str) -> None:
    """D5 (reference db_utils.py:214-222)."""
    spark.sql(f"TRUNCATE TABLE {_check_ident(table)}")


def refresh_table(spark: SparkSession, table: str) -> None:
    """D7 (reference metadata_manager.py:40-45)."""
    spark.catalog.refreshTable(_check_ident(table))


def table_exists(spark: SparkSession, table: str) -> bool:
    """D12 (reference gold_layer.py:165-182 scans listTables; one catalog
    call here)."""
    return spark.catalog.tableExists(table)


def describe_table(spark: SparkSession, table: str) -> list[Row]:
    """D8 (reference gold_layer.py:231-235, dead code there) — column name/
    type/comment rows via the catalog API."""
    return [
        Row(col_name=c.name, data_type=c.dataType, comment=c.description)
        for c in spark.catalog.listColumns(_check_ident(table))
    ]


def list_databases(spark: SparkSession) -> list[str]:
    """D13 (reference query_delta_tables.py:23)."""
    return [d.name for d in spark.catalog.listDatabases()]


def list_tables(spark: SparkSession, db: str | None = None) -> list[str]:
    return [t.name for t in spark.catalog.listTables(db)]


def vacuum_table(spark: SparkSession, table: str, retain_hours: int = 168) -> bool:
    """D6 (reference db_utils.py:238-253): Delta VACUUM; returns False when
    the table isn't Delta-backed (parquet harness) instead of raising."""
    _check_ident(table)
    if retain_hours < 0:
        raise ValueError("retain_hours must be >= 0")
    try:
        spark.sql(f"VACUUM {table} RETAIN {int(retain_hours)} HOURS")
        return True
    except Exception:
        return False


def analyze_table(
    spark: SparkSession, table: str, columns: Sequence[str] | None = None
) -> None:
    """Stats for Catalyst CBO (SURVEY.md §4.2 join-reordering note): run
    after large writes so joins over managed tables get real cardinalities."""
    _check_ident(table)
    if columns:
        cols = ", ".join(_check_ident(c) for c in columns)
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}")
    else:
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")


def apply_spark_conf(spark: SparkSession, conf: dict[str, str]) -> None:
    """D14 (reference bronze_layer.py:39-41): per-layer conf overrides from
    config; runtime-settable confs only."""
    for k, v in (conf or {}).items():
        spark.conf.set(k, str(v))


def create_view(spark: SparkSession, view: str, sql_query: str) -> None:
    """CREATE OR REPLACE VIEW over config SQL — the lightweight alternative
    to a gold materialization when freshness beats scan cost."""
    _check_ident(view)
    spark.sql(f"CREATE OR REPLACE VIEW {view} AS {sql_query}")


def drop_view(spark: SparkSession, view: str) -> None:
    _check_ident(view)
    spark.sql(f"DROP VIEW IF EXISTS {view}")


def compact_table(
    spark: SparkSession,
    table: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction for managed parquet tables (the intent behind
    the reference's `spark.databricks.delta.autoCompact.enabled`, which OSS
    Delta 2.2 ignores — SURVEY.md §4.1). Rewrites the table into
    ceil(bytes / target) files and returns the new file count. Streaming
    appends and per-unit micro-batches are the usual source of file sprawl;
    at 100 TB run this per partition (dynamic partition overwrite), never
    whole-table.
    """
    _check_ident(table)
    location = next(
        r.data_type
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
        if (r.col_name or "").strip() == "Location"
    )
    jpath = spark._jvm.org.apache.hadoop.fs.Path(location)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    files = fs.listFiles(jpath, True)
    total_bytes = 0
    while files.hasNext():
        total_bytes += files.next().getLen()
    n_out = max(1, -(-total_bytes // target_file_bytes))

    _swap_rewrite(spark, table, spark.table(table).coalesce(n_out), "compact")
    return n_out


def _swap_rewrite(
    spark: SparkSession, table: str, out: DataFrame, suffix: str
) -> None:
    """Shared maintenance-rewrite tail: write ``out`` as a tmp table, then
    DROP + RENAME into place (used by compact_table / optimize_layout, so
    a future crash-safety fix lands in every rewrite at once)."""
    tmp = f"{table}__{suffix}_tmp"
    out.write.mode("overwrite").format("parquet").saveAsTable(tmp)
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")


def optimize_layout(
    spark: SparkSession,
    table: str,
    layout_cols: Sequence[str],
    num_files: int,
) -> None:
    """Rewrite a managed parquet table range-clustered on ``layout_cols``
    (the OPTIMIZE ... ZORDER BY maintenance intent on plain parquet —
    SURVEY.md §2.10; exact file-range pruning on the leading column).
    After the rewrite each data file covers a disjoint key range, so
    selective scans open only matching files (parquet footer min/max).
    Same tmp-table rewrite as :func:`compact_table`, which is NOT atomic:
    ``_swap_rewrite`` runs ``DROP TABLE`` and then ``ALTER TABLE ...
    RENAME``, so the table is missing between the two statements and a
    failure there loses it (publishing by a catalog swap is ROADMAP item
    3). At 100 TB run it per partition, never whole-table."""
    from metadata_driven_etl_spark.io.writer import range_cluster

    _check_ident(table)
    _swap_rewrite(
        spark,
        table,
        range_cluster(spark.table(table), layout_cols, num_files),
        "layout",
    )
