"""TableFormat write-path semantics: dynamic partition overwrite column
alignment and independence from the session conf, merge and rewrite
partition preservation, released checkpoint blocks, the batch merge's job
budget, backfill-safe behaviors."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from metadata_driven_etl_spark.io.writer import ParquetFormat, partition_columns


@pytest.fixture(scope="module")
def fmt():
    return ParquetFormat()


def test_overwrite_partitions_aligns_nontrailing_partition_col(spark, fmt):
    """Regression (ADVICE r1): insertInto is positional and saveAsTable
    moves partition columns to the END of the table schema — a df whose
    partition column is NOT listed last used to land misaligned columns."""
    tbl = "default.wp_align"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    base = spark.createDataFrame(
        [Row(day="2024-01-01", k=1, v="a"), Row(day="2024-01-02", k=2, v="b")]
    )
    # partition column 'day' is FIRST in the df, not last
    fmt.overwrite(base, tbl, ["day"])
    incr = spark.createDataFrame([Row(day="2024-01-02", k=20, v="B")])
    fmt.overwrite_partitions(incr, tbl, ["day"])

    got = {(r.day, r.k, r.v) for r in spark.table(tbl).collect()}
    assert got == {("2024-01-01", 1, "a"), ("2024-01-02", 20, "B")}


def test_overwrite_partitions_only_touches_written_partitions(spark, fmt):
    tbl = "default.wp_dyn"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    base = spark.range(0, 100).select(
        (F.col("id") % 4).cast("string").alias("part"),
        F.col("id").alias("val"),
    )
    fmt.overwrite(base, tbl, ["part"])
    repl = spark.createDataFrame([Row(part="1", val=-1)])
    fmt.overwrite_partitions(repl, tbl, ["part"])
    t = spark.table(tbl)
    assert t.filter("part = '1'").count() == 1
    assert t.filter("part != '1'").count() == 75  # untouched history


def test_overwrite_partitions_ignores_a_concurrent_static_session_conf(
    spark, fmt
):
    """Units write from concurrent threads that share the session conf.
    While one thread keeps setting ``partitionOverwriteMode`` to static,
    rewriting one partition of a two-partition table must leave the other
    one in place. When the write switched the session conf to dynamic and
    back, the other thread's static could land in between, and the
    static insertInto wiped the sibling partition."""
    key = "spark.sql.sources.partitionOverwriteMode"
    tbl = "default.wp_dyn_race"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    fmt.overwrite(
        spark.createDataFrame([Row(part="a", v=0), Row(part="b", v=0)]),
        tbl, ["part"],
    )
    prev = spark.conf.get(key)
    stop = threading.Event()

    def keep_static():
        while not stop.is_set():
            spark.conf.set(key, "static")

    flipper = threading.Thread(target=keep_static)
    flipper.start()
    try:
        for i in range(1, 9):
            fmt.overwrite_partitions(
                spark.createDataFrame([Row(part="a", v=i)]), tbl, ["part"]
            )
            got = {(r.part, r.v) for r in spark.table(tbl).collect()}
            assert got == {("a", i), ("b", 0)}, (i, got)
    finally:
        stop.set()
        flipper.join(timeout=30)
        spark.conf.set(key, prev)
    assert not flipper.is_alive()


def test_merge_preserves_partition_spec(spark, fmt):
    """Regression (ADVICE r1): ParquetFormat.merge rewrote via overwrite()
    without partition_by — a partitioned gold table lost its partitioning
    on the first incremental merge."""
    tbl = "default.wp_merge_part"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    base = spark.createDataFrame(
        [Row(region="eu", id=1, amt=10.0), Row(region="us", id=2, amt=20.0)]
    )
    fmt.overwrite(base, tbl, ["region"])
    src = spark.createDataFrame(
        [Row(region="eu", id=1, amt=99.0), Row(region="ap", id=3, amt=30.0)]
    )
    fmt.merge(spark, tbl, src, keys=["id"])

    parts = [
        c.name for c in spark.catalog.listColumns(tbl) if c.isPartition
    ]
    assert parts == ["region"], "merge dropped the partition spec"
    assert partition_columns(spark, tbl) == parts
    got = {(r.id, r.amt) for r in spark.table(tbl).collect()}
    assert got == {(1, 99.0), (2, 20.0), (3, 30.0)}


def test_merge_returns_source_count_and_skips_empty_source(spark, fmt):
    """The key check also counts the source: merge returns that count, and
    an empty source leaves an existing table's files untouched."""
    tbl = "default.wp_merge_count"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    src = spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")])
    assert fmt.merge(spark, tbl, src, keys=["id"]) == 2
    files = set(spark.table(tbl).inputFiles())
    assert fmt.merge(spark, tbl, src.limit(0), keys=["id"]) == 0
    assert set(spark.table(tbl).inputFiles()) == files
    assert fmt.merge(spark, tbl, src.limit(1), keys=["id"]) == 1
    assert {(r.id, r.v) for r in spark.table(tbl).collect()} == {(1, "a"), (2, "b")}


def test_merge_rejects_duplicate_source_keys(spark, fmt):
    """Delta MERGE raises on multiple source matches per target row; the
    relational emulation must not silently land duplicates instead."""
    from metadata_driven_etl_spark.operators.merge import (
        DuplicateSourceKeysError,
    )

    tbl = "default.wp_merge_dup"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    fmt.overwrite(spark.createDataFrame([Row(id=1, v="x")]), tbl)
    dup_src = spark.createDataFrame([Row(id=1, v="a"), Row(id=1, v="b")])
    with pytest.raises(DuplicateSourceKeysError, match=r"2 rows for key \{'id': 1\}"):
        fmt.merge(spark, tbl, dup_src, keys=["id"])


def _lazy_agg(spark, i):
    """A lazily built aggregate source, unique on ``id`` (0..9): ten
    groups of four rows whose ``v`` grows with ``i``."""
    return (
        spark.range(0, 40)
        .select((F.col("id") % 10).alias("id"), (F.col("id") + i).alias("v"))
        .groupBy("id")
        .agg(F.sum("v").alias("v"))
    )


def test_one_shot_merges_and_rewrites_release_their_blocks(
    spark, fmt, persistent_rdds
):
    """A batch merge and a rewrite each checkpoint the table's new rows
    before the overwrite; once the call returns those blocks are
    released, so repeated calls leave the persistent-RDD count where it
    started (it grew by 8 over six gold-style merges when each merge
    left its checkpoints behind)."""
    tbl = "default.wp_merge_blocks"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    fmt.overwrite(_lazy_agg(spark, 0), tbl)
    persistent = persistent_rdds()
    before = persistent()
    for i in range(1, 7):
        assert fmt.merge(spark, tbl, _lazy_agg(spark, i), keys=["id"]) == 10
    for _ in range(3):
        bumped = spark.table(tbl).withColumn("v", F.col("v") + 1)
        assert fmt.rewrite(bumped, tbl) == 10
    assert persistent() == before
    want = _lazy_agg(spark, 6).withColumn("v", F.col("v") + 3)
    assert {tuple(r) for r in spark.table(tbl).collect()} == {
        tuple(r) for r in want.collect()
    }


def test_rewrite_keeps_partition_spec_and_counts(spark, fmt):
    """``rewrite`` of a plan that reads its own table keeps the table's
    partition spec unless one is given, and returns the rows written."""
    tbl = "default.wp_rewrite_part"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    base = spark.createDataFrame(
        [Row(region="eu", id=1, amt=10), Row(region="us", id=2, amt=20)]
    )
    fmt.overwrite(base, tbl, ["region"])
    doubled = spark.table(tbl).withColumn("amt", F.col("amt") * 2)
    assert fmt.rewrite(doubled, tbl) == 2
    assert partition_columns(spark, tbl) == ["region"]
    assert {(r.id, r.amt) for r in spark.table(tbl).collect()} == {(1, 20), (2, 40)}
    assert fmt.rewrite(spark.table(tbl).where("id = 1"), tbl, ["id"]) == 1
    assert partition_columns(spark, tbl) == ["id"]


# Measured: the key check runs as 4 adaptive-execution jobs and fills the
# source's cache; then one job each for the broadcast of the source keys,
# the checkpoint of the upsert and the write.
MERGE_JOBS = 7


def test_merge_of_a_lazy_aggregate_stays_within_its_job_budget(spark, fmt):
    """The merge persists its source, so a lazily built aggregate runs
    once for the key check and the upsert together, and the result is
    ``upsert`` of the two frames."""
    from metadata_driven_etl_spark.operators.merge import upsert

    tbl = "default.wp_merge_jobs"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    target = spark.createDataFrame(
        [(k, -k) for k in range(5, 15)], "id long, v long"
    )
    fmt.overwrite(target, tbl)
    source = _lazy_agg(spark, 1)
    want = {tuple(r) for r in upsert(target, source, ["id"]).collect()}
    sc = spark.sparkContext
    group = "wp_merge_jobs"
    sc.setJobGroup(group, "one batch merge")
    try:
        assert fmt.merge(spark, tbl, source, keys=["id"]) == 10
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= MERGE_JOBS, len(jobs)
    assert {tuple(r) for r in spark.table(tbl).collect()} == want


# --- range-clustered layout (file-skipping) ---------------------------------


def _file_key_ranges(spark, table, key):
    """Per-data-file (min, max) of ``key`` straight from parquet footers —
    the same stats a scan uses to skip files."""
    import glob
    import os

    import pyarrow.parquet as pq

    location = next(
        r.data_type
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
        if (r.col_name or "").strip() == "Location"
    ).removeprefix("file:")
    ranges = []
    for path in glob.glob(os.path.join(location, "**", "*.parquet"), recursive=True):
        md = pq.ParquetFile(path).metadata
        idx = md.schema.names.index(key)
        lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
        ranges.append((lo, hi))
    return sorted(ranges)


def _assert_disjoint(ranges):
    for (_, prev_hi), (lo, _) in zip(ranges, ranges[1:]):
        assert prev_hi <= lo, f"overlapping file ranges: {ranges}"


def test_optimize_layout_preserves_data_and_clusters(spark):
    """DDL maintenance form: rewrite an existing fragmented table into a
    range-clustered one atomically (tmp-swap), data intact."""
    from metadata_driven_etl_spark.io.ddl import optimize_layout

    tbl = "default.wp_layout_maint"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    df = spark.range(0, 5_000).select(
        ((F.col("id") * 4999) % 5_000).alias("k"), F.lit("x").alias("v")
    )
    # fragmented + unordered: 16 hash-partitioned files
    df.repartition(16).write.mode("overwrite").format("parquet").saveAsTable(tbl)

    optimize_layout(spark, tbl, ["k"], num_files=4)

    ranges = _file_key_ranges(spark, tbl, "k")
    assert len(ranges) > 1
    _assert_disjoint(ranges)
    got = spark.table(tbl)
    assert got.count() == 5_000
    assert got.where(F.col("k") < 100).count() == 100
