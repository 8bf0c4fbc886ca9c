"""The streaming upsert sink (``streaming.sink.merge_stream``) over a small
file stream: the target equals the batch aggregate after every drain, each
micro-batch stays within its Spark-job budget, an empty batch writes
nothing, a partitioned target keeps its spec, a restart on the same
checkpoint is exactly-once, a failed batch leaves the target intact, and
the sink's cached state does not grow with the number of batches and is
released when the query ends."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException
from pyspark.sql import functions as F

from metadata_driven_etl_spark.io.writer import ParquetFormat, partition_columns
from metadata_driven_etl_spark.streaming.sink import merge_stream
from metadata_driven_etl_spark.streaming.windows import stream_from_files

SCHEMA = "grp string, k long, v long"
KEYS = ["grp", "k"]
JOBS_PER_BATCH = 4
DB = "stream_sink_t"


def _aggregate(df):
    return df.groupBy(*KEYS).agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")
    )


def _drop(spark, path: str, rows) -> None:
    """Land one parquet file (one micro-batch under maxFilesPerTrigger=1)
    at the top level of ``path``; ``rows`` may be empty."""
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(
        path
    )


def _wave(i: int) -> list[tuple]:
    """Rows of file ``i``: keys overlap between files, so later batches
    update rows that earlier batches inserted."""
    return [(("a", "b")[j % 2], (i + j) % 5, 10 * i + j) for j in range(6)]


def _rows(df) -> set[tuple]:
    return {tuple(r[c] for c in ("grp", "k", "n", "total")) for r in df.collect()}


def _data_files(spark, table: str) -> set[str]:
    loc = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").where(
        "col_name = 'Location'"
    ).first()["data_type"]
    root = loc.removeprefix("file:")
    return {
        os.path.join(d, n)
        for d, _, names in os.walk(root)
        for n in names
        if not n.startswith((".", "_"))
    }


def _start(spark, src: str, table: str, ckpt: str):
    agg = _aggregate(stream_from_files(spark, src, SCHEMA))
    return merge_stream(
        agg, table, KEYS, ParquetFormat(), ckpt, trigger_available_now=False
    )


def _data_batches(query) -> int:
    return sum(1 for p in query.recentProgress if p.numInputRows)


@pytest.fixture()
def target(spark):
    table = f"{DB}.totals"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    yield table
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP DATABASE IF EXISTS {DB}")


def test_merge_stream_drains_within_budget_and_restarts(
    spark, tmp_path, target, persistent_rdds
):
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    sc = spark.sparkContext
    persistent = persistent_rdds()
    expected = lambda: _rows(  # noqa: E731
        _aggregate(spark.read.schema(SCHEMA).parquet(src))
    )

    _drop(spark, src, _wave(0))
    query = _start(spark, src, target, ckpt)
    cached = []
    try:
        query.processAllAvailable()
        assert _rows(spark.table(target)) == expected()
        for i in range(1, 5):
            _drop(spark, src, _wave(i))
            query.processAllAvailable()
            assert _rows(spark.table(target)) == expected(), f"after file {i}"
            cached.append(persistent())

        before = _data_files(spark, target)
        _drop(spark, src, [])
        query.processAllAvailable()
        progress = query.recentProgress
        assert progress[-1].numInputRows == 0, "the empty file made no batch"
        assert _data_files(spark, target) == before, "empty batch wrote files"

        batches = _data_batches(query)
        jobs = sc.statusTracker().getJobIdsForGroup(str(query.runId))
    finally:
        query.stop()
    assert batches == 5
    assert len(jobs) <= JOBS_PER_BATCH * batches, (len(jobs), batches)
    # one mirror at a time: the cache does not grow batch after batch
    assert len(set(cached)) == 1, cached

    # restart on the same checkpoint: the new query reloads its mirror from
    # the table, skips the committed files and merges only the new one
    _drop(spark, src, _wave(5))
    query = _start(spark, src, target, ckpt)
    try:
        query.processAllAvailable()
        restarted = _data_batches(query)
        jobs = sc.statusTracker().getJobIdsForGroup(str(query.runId))
    finally:
        query.stop()
    assert restarted == 1
    # the mirror is read inside the batch's own checkpoint job
    assert len(jobs) <= JOBS_PER_BATCH, len(jobs)
    assert _rows(spark.table(target)) == expected()


def test_finished_query_releases_its_mirror(
    spark, tmp_path, target, persistent_rdds
):
    """The query's copy of the target is a local checkpoint held across
    batches; once the query has terminated it is released. The release
    follows an asynchronous listener event, so the check polls, for at
    most 60 s."""
    src = str(tmp_path / "in")
    _drop(spark, src, _wave(0))
    persistent = persistent_rdds()
    query = merge_stream(
        _aggregate(stream_from_files(spark, src, SCHEMA)), target, KEYS,
        ParquetFormat(), str(tmp_path / "ckpt"),
    )
    assert query.awaitTermination(120)
    assert _data_batches(query) == 1
    deadline = time.monotonic() + 60
    while persistent() and time.monotonic() < deadline:
        time.sleep(0.1)
    assert persistent() == 0


def test_failed_batch_leaves_target_intact(spark, tmp_path, target, monkeypatch):
    """A batch whose upsert fails while it is computed fails the query
    before the overwrite drops the table, so the target keeps the previous
    batch's rows and a restart on the same checkpoint reloads them and
    ends exactly-once."""
    from metadata_driven_etl_spark.operators import merge as merge_ops

    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    real_upsert = merge_ops.upsert

    def failing_upsert(rows, source, keys):
        out = real_upsert(rows, source, keys)
        boom = F.raise_error(F.lit("injected upsert failure"))
        return out.withColumn("total", F.when(F.col("n") > 0, boom).otherwise(F.col("total")))

    _drop(spark, src, _wave(0))
    query = _start(spark, src, target, ckpt)
    try:
        query.processAllAvailable()
        first = _rows(spark.table(target))
        monkeypatch.setattr(merge_ops, "upsert", failing_upsert)
        _drop(spark, src, _wave(1))
        with pytest.raises(StreamingQueryException, match="injected upsert failure"):
            query.processAllAvailable()
    finally:
        query.stop()
    spark.catalog.refreshTable(target)
    assert _rows(spark.table(target)) == first

    monkeypatch.setattr(merge_ops, "upsert", real_upsert)
    query = _start(spark, src, target, ckpt)
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    assert _rows(spark.table(target)) == _rows(
        _aggregate(spark.read.schema(SCHEMA).parquet(src))
    )


def test_merge_stream_keeps_partition_spec(spark, tmp_path, target):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
    spark.sql(
        f"CREATE TABLE {target} (k BIGINT, n BIGINT, total BIGINT, grp STRING) "
        "USING parquet PARTITIONED BY (grp)"
    )
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    _drop(spark, src, _wave(0))
    query = _start(spark, src, target, ckpt)
    try:
        query.processAllAvailable()
        _drop(spark, src, _wave(1))
        query.processAllAvailable()
    finally:
        query.stop()
    assert partition_columns(spark, target) == ["grp"]
    assert _rows(spark.table(target)) == _rows(
        _aggregate(spark.read.schema(SCHEMA).parquet(src))
    )


def test_merge_stream_rejects_duplicate_keys(spark, tmp_path, target):
    """A micro-batch with two rows for one key raises, as TableFormat.merge
    does, instead of landing one of them at random."""
    src = str(tmp_path / "in")
    _drop(spark, src, [("a", 1, 1), ("a", 1, 2), ("b", 2, 3)])
    raw = stream_from_files(spark, src, SCHEMA).withColumnRenamed("v", "total")
    query = merge_stream(raw, target, KEYS, ParquetFormat(), str(tmp_path / "ckpt"),
                         output_mode="append")
    with pytest.raises(StreamingQueryException, match="DuplicateSourceKeysError"):
        query.awaitTermination(120)
    assert not spark.catalog.tableExists(target)
