"""DQ metrics store + data dictionary.

Reference: ``metadata.data_quality_metrics`` (silver_schemas.py:72-85 — the
reference defines the table but its write is commented out,
silver_layer.py:129-139) and ``metadata.data_dictionary``
(gold_schemas.py:63-72, populated only by dead code gold_layer.py:215-254).
Both are live here, on the commit helper in ``metadata.store``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from metadata_driven_etl_spark.dq.engine import DQRuleMetrics
from metadata_driven_etl_spark.io.writer import TableFormat
from metadata_driven_etl_spark.metadata.store import AppendTable, KeyedTable, utc_now

DQ_METRICS_SCHEMA = StructType(
    [
        StructField("table_name", StringType(), False),
        StructField("rule_name", StringType(), False),
        StructField("rule_type", StringType(), True),
        StructField("action", StringType(), True),
        StructField("total_count", LongType(), True),
        StructField("valid_count", LongType(), True),
        StructField("invalid_count", LongType(), True),
        StructField("is_valid", BooleanType(), True),
        StructField("run_date", StringType(), True),
        StructField("measured_at", TimestampType(), True),
    ]
)

DICTIONARY_SCHEMA = StructType(
    [
        StructField("table_name", StringType(), False),
        StructField("column_name", StringType(), False),
        StructField("data_type", StringType(), True),
        StructField("nullable", BooleanType(), True),
        StructField("description", StringType(), True),
        StructField("registered_at", TimestampType(), True),
    ]
)


class DQMetricsStore(AppendTable):
    def __init__(self, spark: SparkSession, table_format: TableFormat,
                 table: str = "metadata.data_quality_metrics"):
        super().__init__(spark, table_format, table, DQ_METRICS_SCHEMA)

    def record(self, table_name: str, run_date: str,
               metrics: list[DQRuleMetrics]) -> None:
        if not metrics:
            return
        self.add([
            (table_name, m.rule_name, m.rule_type, m.action, m.total_count,
             m.valid_count, m.invalid_count, m.is_valid, run_date, utc_now())
            for m in metrics
        ])
        self.flush()

    def history(self, table_name: str | None = None) -> DataFrame:
        df = self.read()
        if table_name:
            df = df.filter(F.col("table_name") == table_name)
        return df


class DataDictionary(KeyedTable):
    def __init__(self, spark: SparkSession, table_format: TableFormat,
                 table: str = "metadata.data_dictionary"):
        super().__init__(spark, table_format, table, DICTIONARY_SCHEMA,
                         ("table_name", "column_name"))

    def register(self, table_name: str, df: DataFrame,
                 descriptions: dict[str, str] | None = None) -> None:
        """Register a table's live schema (reference register_table_schema,
        metadata_manager.py:273-328), upserting per (table, column) the
        columns whose type, nullability or description changed."""
        descriptions = descriptions or {}
        now = utc_now()
        rows = [
            (table_name, f.name, f.dataType.simpleString(), f.nullable,
             descriptions.get(f.name), now)
            for f in df.schema.fields
        ]
        changed = [r for r in rows if (self.get(r[:2]) or ())[2:5] != r[2:5]]
        if changed:
            self.upsert(changed)
