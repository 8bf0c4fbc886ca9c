"""File/table source readers (reference bronze_layer.py:182-200 generic
``_extract_file`` with an options loop; S1-S3, S6 in SURVEY.md §2.1).

An explicit ``schema`` (DDL string) beats ``inferSchema`` at scale —
inference is an extra full read of CSV/JSON sources. The config may still
ask for inference (reference parity); schema wins when both are present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from metadata_driven_etl_spark.config.model import SourceConfig


def read_file_source(
    spark: SparkSession, src: SourceConfig, schema: str | None = None
) -> DataFrame:
    reader = spark.read
    if src.options:
        reader = reader.options(**src.options)
    if schema:
        reader = reader.schema(schema)
    fmt = src.file_format or "parquet"
    return reader.format(fmt).load(src.source_path)


def read_binary_media(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """Raw media files → (media_id, media_type, payload, n_bytes,
    modified_at): the on-ramp from a file corpus to the multimodal
    operators (operators/multimodal.py expects exactly this shape).

    Spark's ``binaryFile`` source does distributed listing and reads one
    row per file with no driver involvement — the right ingest for an
    image/audio corpus at 100 TB. Small files are packed per task by
    ``spark.sql.files.maxPartitionBytes``; ``pathGlobFilter`` prunes at
    listing time (never reads non-matching bytes); media_type derives
    from the file extension.
    """
    from pyspark.sql import functions as F

    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    df = reader.load(path)
    ext = F.lower(F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1))
    return df.select(
        F.col("path").alias("media_id"),
        ext.alias("media_type"),
        F.col("content").alias("payload"),
        F.col("length").alias("n_bytes"),
        F.col("modificationTime").alias("modified_at"),
    )
