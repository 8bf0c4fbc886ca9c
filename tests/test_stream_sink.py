"""The streaming upsert sink (``streaming.sink.merge_stream``) over a small
file stream: the target equals the batch aggregate after every drain, each
micro-batch stays within its Spark-job budget (one job on an
unpartitioned target, the driver-side ``ArrowMirror``; four on a
partitioned one, ``MirroredTable``), an empty batch writes nothing, a
partitioned target keeps its spec, a restart on the same checkpoint is
exactly-once, a failed batch or a commit cut before its cleanup leaves a
readable target, column types survive the driver's load and publish, and
the sink's copy of the target does not grow with the number of batches
and is released when the query ends."""

from __future__ import annotations

import os
import time
from datetime import date, datetime
from decimal import Decimal

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException
from pyspark.sql import functions as F

from metadata_driven_etl_spark.io.writer import (
    ArrowMirror,
    ParquetFormat,
    partition_columns,
)
from metadata_driven_etl_spark.streaming.sink import merge_stream
from metadata_driven_etl_spark.streaming.windows import stream_from_files

SCHEMA = "grp string, k long, v long"
KEYS = ["grp", "k"]
JOBS_PER_BATCH = 1
PARTITIONED_JOBS_PER_BATCH = 4
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


def _sink_batches(query) -> int:
    """Micro-batches that ran the sink, with rows or without."""
    return sum(1 for p in query.recentProgress if "addBatch" in p.durationMs)


@pytest.fixture()
def mirrors(monkeypatch):
    """The ``ArrowMirror`` of every parquet stream merger made from now
    on, in order."""
    made = []
    real = ParquetFormat.stream_merger

    def capture(self, table, keys):
        merge = real(self, table, keys)
        made.append(merge.__self__)
        return merge

    monkeypatch.setattr(ParquetFormat, "stream_merger", capture)
    return made


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
        # the empty file's batch runs the stateful plan too: one job
        ran = _sink_batches(query)
        jobs = sc.statusTracker().getJobIdsForGroup(str(query.runId))
    finally:
        query.stop()
    assert batches == 5 and ran == 6, (batches, ran)
    assert len(jobs) <= JOBS_PER_BATCH * ran, (len(jobs), ran)
    # nothing is cached batch after batch
    assert len(set(cached)) == 1, cached

    # restart on the same checkpoint: the new query reloads its copy from
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
    # the copy is read from the table's files on the driver, with no job
    assert len(jobs) <= JOBS_PER_BATCH, len(jobs)
    assert _rows(spark.table(target)) == expected()


def test_finished_query_releases_its_mirror(
    spark, tmp_path, target, persistent_rdds
):
    """No persisted RDD of the query outlives it. The copy of this
    unpartitioned target lives on the driver, and
    ``test_ended_query_drops_its_driver_copy`` checks its release; a
    release follows an asynchronous listener event, so the check polls,
    for at most 60 s."""
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
    before anything is published, so the target keeps the previous
    batch's rows and a restart on the same checkpoint reloads them and
    ends exactly-once."""
    from metadata_driven_etl_spark.operators import merge as merge_ops

    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    real_upsert = merge_ops.upsert_arrow

    def failing_upsert(rows, source, keys):
        real_upsert(rows, source, keys)
        raise RuntimeError("injected upsert failure")

    _drop(spark, src, _wave(0))
    query = _start(spark, src, target, ckpt)
    try:
        query.processAllAvailable()
        first = _rows(spark.table(target))
        monkeypatch.setattr(merge_ops, "upsert_arrow", failing_upsert)
        _drop(spark, src, _wave(1))
        with pytest.raises(StreamingQueryException, match="injected upsert failure"):
            query.processAllAvailable()
    finally:
        query.stop()
    spark.catalog.refreshTable(target)
    assert _rows(spark.table(target)) == first

    monkeypatch.setattr(merge_ops, "upsert_arrow", real_upsert)
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


def test_partitioned_target_stays_within_mirrored_budget(spark, tmp_path, target):
    """A partitioned target goes to ``MirroredTable``: at most four Spark
    jobs per micro-batch."""
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
        for i in (1, 2):
            _drop(spark, src, _wave(i))
            query.processAllAvailable()
        batches = _data_batches(query)
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId))
    finally:
        query.stop()
    assert batches == 3
    assert len(jobs) <= PARTITIONED_JOBS_PER_BATCH * batches, (len(jobs), batches)
    assert _rows(spark.table(target)) == _rows(
        _aggregate(spark.read.schema(SCHEMA).parquet(src))
    )


def test_driver_copy_round_trips_spark_written_types(spark, target):
    """A target ``saveAsTable`` wrote (INT96 timestamps, Spark's decimal
    encoding) loads into the driver copy and is published back: every row
    reads back through ``spark.table`` as before, beside the new one."""
    schema = ("k long, s string, ts timestamp, d date, amount decimal(25,10), "
              "x double")
    old = [
        (1, "a", datetime(1969, 7, 20, 20, 17, 40, 123456), date(1969, 7, 20),
         Decimal("123456789012345.0123456789"), 1.5),
        (2, None, None, None, None, None),
    ]
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
    spark.createDataFrame(old, schema).coalesce(1).write.saveAsTable(target)
    before = spark.table(target).collect()
    new = spark.createDataFrame(
        [(3, "c", datetime(2024, 3, 10, 1, 2, 3), date(2024, 3, 10),
          Decimal("-0.0000000001"), -2.25)],
        schema,
    )
    assert ArrowMirror(ParquetFormat(), target, ["k"]).merge(new) == 1
    assert sorted(spark.table(target).collect()) == sorted(before + new.collect())
    [name] = _data_files(spark, target)
    assert os.path.basename(name).startswith("commit-")


def test_commit_cut_before_cleanup_reloads_new_state(
    spark, tmp_path, target, mirrors
):
    """A crash between a batch's rename and the delete of the older file
    leaves both files; the copy a restart loads holds each key once with
    its newest value, and the next batch leaves one file."""
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    expected = lambda: _rows(  # noqa: E731
        _aggregate(spark.read.schema(SCHEMA).parquet(src))
    )
    _drop(spark, src, _wave(0))
    query = _start(spark, src, target, ckpt)
    try:
        query.processAllAvailable()
        commits = mirrors[-1]._commits
        commits._fs = _Crashing(commits._fs, "delete")
        _drop(spark, src, _wave(1))
        with pytest.raises(StreamingQueryException, match="crash in delete"):
            query.processAllAvailable()
    finally:
        query.stop()
    assert len(_data_files(spark, target)) == 2

    loaded = ArrowMirror(ParquetFormat(), target, KEYS)
    loaded._load(spark)
    copy = [tuple(r[c] for c in ("grp", "k", "n", "total"))
            for r in loaded._rows.to_pylist()]
    assert len(copy) == len(set(copy)) and set(copy) == expected()

    _drop(spark, src, _wave(2))
    query = _start(spark, src, target, ckpt)
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    assert _rows(spark.table(target)) == expected()
    assert len(_data_files(spark, target)) == 1


def test_ended_query_drops_its_driver_copy(spark, tmp_path, target, mirrors):
    """The query's Arrow copy of the target is dropped once the query has
    terminated. The release follows an asynchronous listener event, so the
    check polls, for at most 60 s."""
    src = str(tmp_path / "in")
    _drop(spark, src, _wave(0))
    query = _start(spark, src, target, str(tmp_path / "ckpt"))
    try:
        query.processAllAvailable()
        [mirror] = mirrors
        assert mirror._rows.num_rows == len(_rows(spark.table(target)))
    finally:
        query.stop()
    deadline = time.monotonic() + 60
    while mirror._rows is not None and time.monotonic() < deadline:
        time.sleep(0.1)
    assert mirror._rows is None
