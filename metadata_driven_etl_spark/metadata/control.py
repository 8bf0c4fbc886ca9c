"""Pipeline control table: per-(table, layer) run state.

Reference: ``metadata.etl_control_table`` (metadata_manager.py:20-191).
Differences by design:

- **Non-destructive init**: CREATE IF NOT EXISTS — the reference DROPs and
  recreates its metadata tables on every pipeline run AND on every
  AuditLogger construction, destroying all history (SURVEY.md §4.3).
- **Upserts replace rows of a driver-side mirror** and rewrite the tiny
  table from it (``metadata.store.KeyedTable``), not f-string-interpolated
  UPDATE/INSERT SQL (injection hazard, §2.14#4).
- **records_processed is LONG** (the reference's IntegerType overflows at
  2^31 rows — §2.14#9; this engine targets 100 TB).
- **Lookups read the (table, layer) row of the mirror**, with no Spark
  job, rather than result[0] of an unordered scan (§2.14#5).
"""

from __future__ import annotations

import json

from pyspark.sql import Row, SparkSession
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from metadata_driven_etl_spark.io.writer import TableFormat
from metadata_driven_etl_spark.metadata.store import KeyedTable, utc_now

CONTROL_SCHEMA = StructType(
    [
        StructField("table_name", StringType(), False),
        StructField("layer", StringType(), False),
        StructField("last_run_date", StringType(), True),
        StructField("records_processed", LongType(), True),
        StructField("status", StringType(), True),
        StructField("config_snapshot", StringType(), True),
        StructField("updated_timestamp", TimestampType(), True),
    ]
)


class ControlTable(KeyedTable):
    def __init__(self, spark: SparkSession, table_format: TableFormat,
                 table: str = "metadata.etl_control_table"):
        super().__init__(spark, table_format, table, CONTROL_SCHEMA,
                         ("table_name", "layer"))

    def update_run(
        self,
        table_name: str,
        layer: str,
        run_date: str,
        records_processed: int,
        status: str,
        config_snapshot: dict | None = None,
    ) -> None:
        snapshot = json.dumps(config_snapshot or {}, default=str)
        self.upsert([(table_name, layer, run_date, int(records_processed),
                      status, snapshot, utc_now())])

    def get_last_run_date(self, table_name: str, layer: str) -> str | None:
        row = self.get((table_name, layer))
        if row is None or row["status"] != "success":
            return None
        return row["last_run_date"]

    def get_state(self, table_name: str, layer: str) -> Row | None:
        return self.get((table_name, layer))
