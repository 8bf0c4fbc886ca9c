"""Execution audit log.

Reference: ``metadata.etl_audit_log`` + AuditLogger (audit_logger.py:25-285,
13 columns, STARTED/SUCCESS/ERROR rows keyed by uuid log_id/run_id).
Fixed here: non-destructive init (the reference drops the log on every
AuditLogger construction — SURVEY.md §4.3), LongType row counts (§2.14#9),
and query helpers built with the DataFrame API instead of f-string SQL
(§2.14#4). Events are buffered in the driver and ``flush`` appends them
as one file: the pipeline flushes once at the end of each layer and once
at the end of a run, so the log gains a few files per run rather than one
per event.
"""

from __future__ import annotations

import getpass
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from metadata_driven_etl_spark.io.writer import TableFormat
from metadata_driven_etl_spark.metadata.store import AppendTable, utc_now

AUDIT_SCHEMA = StructType(
    [
        StructField("log_id", StringType(), False),
        StructField("timestamp", TimestampType(), False),
        StructField("layer", StringType(), True),
        StructField("operation", StringType(), True),
        StructField("component", StringType(), True),
        StructField("source_id", StringType(), True),
        StructField("target_table", StringType(), True),
        StructField("status", StringType(), True),  # STARTED | SUCCESS | ERROR
        StructField("rows_processed", LongType(), True),
        StructField("error_message", StringType(), True),
        StructField("execution_time_seconds", DoubleType(), True),
        StructField("run_id", StringType(), True),
        StructField("user", StringType(), True),
    ]
)


class AuditLogger(AppendTable):
    def __init__(
        self,
        spark: SparkSession,
        table_format: TableFormat,
        table: str = "metadata.etl_audit_log",
        run_id: str | None = None,
    ):
        super().__init__(spark, table_format, table, AUDIT_SCHEMA)
        self.run_id = run_id or str(uuid.uuid4())
        try:
            self._user = getpass.getuser()
        except Exception:
            self._user = "unknown"

    def _emit(self, **kw) -> str:
        kw.update(
            log_id=str(uuid.uuid4()), timestamp=utc_now(),
            run_id=self.run_id, user=self._user,
        )
        self.add([tuple(kw.get(name) for name in AUDIT_SCHEMA.names)])
        return kw["log_id"]

    # -- event API (reference audit_logger.py:76-217) -----------------------

    def log_start(self, layer: str, operation: str, component: str,
                  source_id: str | None = None, target_table: str | None = None) -> str:
        return self._emit(
            layer=layer, operation=operation, component=component,
            source_id=source_id, target_table=target_table, status="STARTED",
        )

    def log_success(self, layer: str, operation: str, component: str,
                    seconds: float, rows_processed: int | None = None,
                    source_id: str | None = None,
                    target_table: str | None = None) -> str:
        return self._emit(
            layer=layer, operation=operation, component=component,
            source_id=source_id, target_table=target_table, status="SUCCESS",
            rows_processed=rows_processed, execution_time_seconds=seconds,
        )

    def log_error(self, layer: str, operation: str, component: str,
                  error: Exception | str, seconds: float,
                  source_id: str | None = None,
                  target_table: str | None = None) -> str:
        return self._emit(
            layer=layer, operation=operation, component=component,
            source_id=source_id, target_table=target_table, status="ERROR",
            error_message=str(error)[:4000], execution_time_seconds=seconds,
        )

    # -- query helpers (reference audit_logger.py:241-285) ------------------

    def recent(self, n: int = 100, layer: str | None = None) -> DataFrame:
        df = self.read()
        if layer:
            df = df.filter(F.col("layer") == layer)
        # ORDER BY ts DESC LIMIT n → TakeOrderedAndProject (true top-k)
        return df.orderBy(F.desc("timestamp"), F.desc("log_id")).limit(n)
