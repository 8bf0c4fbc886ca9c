"""Testdata catalog helpers: load the TPC-H-ish parquet tables.

The driver's testdata (TESTDATA.md) is one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}``. These helpers load them lazily and
optionally register temp views so SQL-in-config (the engine's core extension
point, SURVEY.md §2.12) can reference them by name.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ensure_session_confs(spark: SparkSession) -> None:
    """Defensive runtime confs for sessions the engine didn't build (e.g.
    the driver's): nanos-parquet readability and UTC timestamps (DuckDB
    oracle parity — Spark timestamps are session-TZ)."""
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked down — engine-built sessions already set it


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    min_partitions: int | None = None,
) -> DataFrame:
    """Load one testdata table; optionally enforce a parallelism floor.

    ``min_partitions`` repartitions inputs that arrive with fewer splits
    (typical value: ``spark.sparkContext.defaultParallelism``). The
    testdata ships one single-row-group parquet file per table, which
    Spark cannot split below one partition — so CPU-heavy per-row work
    (regex/hash over documents) would otherwise serialize onto one core.
    At real scale inputs are naturally multi-partition and the hint is a
    no-op (the floor check sees enough splits and skips the shuffle).
    """
    _ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if min_partitions and df.rdd.getNumPartitions() < min_partitions:
        df = df.repartition(min_partitions)
    # TIMESTAMP(NANOS) columns arrive as long (spark.sql.legacy.parquet.
    # nanosAsLong); normalize to microsecond timestamps (floor division —
    # matches DuckDB's ns→µs truncation).
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn(
                "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))")
            )
        elif field.name == "ts" and field.dataType.simpleString().startswith(
            "timestamp_ntz"
        ):
            # Conf locked down or scan planned before the conf applied. The
            # stored NTZ wall clock is UTC; a bare NTZ→LTZ cast interprets
            # it in the SESSION time zone, so on a locked-down non-UTC
            # session it would silently shift every instant. Re-express the
            # wall clock in the session zone first, so the cast lands on
            # the correct UTC instant regardless of session TZ.
            tz = spark.conf.get("spark.sql.session.timeZone")
            ts = F.col("ts")
            if tz != "UTC":
                ts = F.convert_timezone(F.lit("UTC"), F.lit(tz), ts)
            df = df.withColumn("ts", ts.cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (idempotent)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
