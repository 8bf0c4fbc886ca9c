"""TableFormat seam: managed-table reads/writes behind one interface.

The reference hard-wires Delta (saveAsTable everywhere, e.g. reference
bronze_layer.py:135-137, silver_layer.py:148-150) and passes ``partitionBy``
through ``.options()`` — which DataFrameWriter silently ignores, so its
tables end up unpartitioned despite config (SURVEY.md §2.14#3). This seam

- fixes partitioning (a real ``.partitionBy()``),
- makes Delta optional: ``DeltaFormat`` when delta jars are present,
  ``ParquetFormat`` otherwise (this harness has no Delta), selected by
  ``get_table_format``,
- gives MERGE/upsert one implementation point (Delta's native MERGE vs the
  relational emulation in operators.merge),
- owns the one path that overwrites a table its own plan reads
  (``_checkpointed_overwrite``): ``TableFormat.rewrite`` for a computed
  table, ``MirroredTable`` for a batch parquet merge and a partitioned
  stream target. Callers never checkpoint before an overwrite themselves,
- keeps an unpartitioned parquet stream target on the driver
  (``ArrowMirror``): one Spark job per micro-batch, which collects it,
  and one file published per batch through ``io.commit``, the commit path
  the metadata stores share,
- owns every local checkpoint the engine makes: :func:`checkpoint` is the
  one call, and the :func:`owned` block open in the calling thread
  releases the checkpoint's blocks when it exits (SCALE.md §5.5).

Scale notes: ``overwrite_partitions`` uses dynamic partition overwrite —
an incremental run only rewrites the partitions it produced, never the
table history (fixes the reference's silent history loss, §2.14#7).
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType

from metadata_driven_etl_spark.io.commit import CommitTable


def range_cluster(
    df: DataFrame, layout_cols: Sequence[str], num_files: int
) -> DataFrame:
    """The range-clustered layout recipe of ``ddl.optimize_layout``:
    range-partition on ``layout_cols``, sort within each output file, so
    every file covers a disjoint key range and parquet footer min/max
    stats can skip whole files."""
    return df.repartitionByRange(num_files, *layout_cols).sortWithinPartitions(
        *layout_cols
    )


def _ensure_database(spark: SparkSession, table: str) -> None:
    if "." in table:
        db = table.split(".")[0]
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")


def partition_columns(spark: SparkSession, table: str) -> list[str]:
    """The partition columns of a managed table, in spec order, from the
    ``# Partition Information`` section of ``DESCRIBE TABLE``. A command
    returns its rows as a local relation, so this starts no Spark job,
    while ``spark.catalog.listColumns`` runs one per partition of its
    result."""
    names = [r.col_name for r in spark.sql(f"DESCRIBE TABLE {table}").collect()]
    if "# Partition Information" not in names:
        return []
    # skip the section title and its "# col_name" header row
    section = names[names.index("# Partition Information") + 2:]
    cols = []
    for name in section:
        if not name or name.startswith("#"):
            break
        cols.append(name)
    return cols


class TableFormat:
    """Base: catalog-managed tables via saveAsTable in a given format."""

    format_name = "parquet"

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.table(table)

    def table_exists(self, spark: SparkSession, table: str) -> bool:
        return spark.catalog.tableExists(table)

    def append(self, df: DataFrame, table: str) -> None:
        _ensure_database(df.sparkSession, table)
        df.write.format(self.format_name).mode("append").saveAsTable(table)

    def overwrite(
        self, df: DataFrame, table: str, partition_by: Sequence[str] | None = None
    ) -> None:
        _ensure_database(df.sparkSession, table)
        writer = df.write.format(self.format_name).mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.option("overwriteSchema", "true").saveAsTable(table)

    def overwrite_partitions(
        self, df: DataFrame, table: str, partition_by: Sequence[str]
    ) -> None:
        """Replace only the partitions present in ``df`` (dynamic overwrite).

        The correct write mode for incremental refreshes of partitioned
        tables: history outside the written partitions survives.
        """
        spark = df.sparkSession
        if not self.table_exists(spark, table):
            self.overwrite(df, table, partition_by)
            return
        # insertInto is POSITIONAL, and saveAsTable+partitionBy stores
        # partition columns last in the table schema — align by name first
        # or any df whose partition column isn't trailing writes misaligned
        # columns (silent corruption or cast errors).
        self._insert_dynamic(df.select(*spark.table(table).columns), table)

    def _insert_dynamic(self, df: DataFrame, table: str) -> None:
        """Dynamic partition overwrite of an existing table, as a storage
        property of the table (``partitionOverwriteMode=dynamic``, set by
        ``ALTER TABLE``, a catalog command that runs no Spark job). The
        property wins over the session's
        ``spark.sql.sources.partitionOverwriteMode``, so the write neither
        reads nor flips that shared conf, which another thread may change
        meanwhile; the same option on the ``insertInto`` writer would be
        ignored. The table keeps the property, so a later ``INSERT
        OVERWRITE`` into it is dynamic too."""
        df.sparkSession.sql(
            f"ALTER TABLE {table} "
            "SET SERDEPROPERTIES ('partitionOverwriteMode'='dynamic')"
        )
        df.write.format(self.format_name).mode("overwrite").insertInto(table)

    def overwrite_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_cols: Sequence[str],
        num_buckets: int,
        sort_cols: Sequence[str] | None = None,
    ) -> None:
        """Bucketed managed table: repeated joins/aggs on ``bucket_cols``
        skip their shuffle entirely (both sides pre-hash-partitioned on
        disk). The 100 TB lever for fact⋈fact joins too big to broadcast:
        bucket both tables on the join key at write time, then every join
        is a zero-Exchange sort-merge. Pick num_buckets ≈ cluster cores ×
        small integer; it is fixed at write time."""
        _ensure_database(df.sparkSession, table)
        writer = (
            df.write.format(self.format_name)
            .mode("overwrite")
            .bucketBy(num_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.option("overwriteSchema", "true").saveAsTable(table)

    def rewrite(
        self, df: DataFrame, table: str, partition_by: Sequence[str] | None = None
    ) -> int:
        """Overwrite ``table`` with ``df`` and return its row count, also
        when ``df`` reads ``table`` (a maintained aggregate, an SCD2
        dimension): see :func:`_checkpointed_overwrite`. The count comes
        from an ``Observation`` on the checkpoint job, so it adds no job,
        and the checkpoint is released once the write is done. Without
        ``partition_by`` an existing table keeps its partition spec. The
        session's cached file listing is refreshed, as after :meth:`merge`."""
        spark = df.sparkSession
        if partition_by is None and self.table_exists(spark, table):
            partition_by = partition_columns(spark, table) or None
        obs = Observation()
        counted = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        with owned():
            _checkpointed_overwrite(self, counted, table, partition_by)
        spark.catalog.refreshTable(table)
        return int(obs.get["rows"])

    def merge(
        self, spark: SparkSession, table: str, source: DataFrame, keys: Sequence[str]
    ) -> int:
        """Upsert ``source`` into ``table`` on key equality
        (WHEN MATCHED UPDATE ALL / WHEN NOT MATCHED INSERT ALL) and return
        the source row count. Raises DuplicateSourceKeysError on a
        non-unique source — same contract as Delta's native MERGE. An
        empty source writes nothing. One :meth:`MirroredTable.merge`,
        whose copy is released afterwards."""
        mirror = MirroredTable(self, table, keys)
        rows = mirror.merge(source)
        mirror.release()
        # The rewrite replaced every data file; a reader that resolves the
        # table through this session's cached file listing would otherwise
        # hit FAILED_READ_FILE on the vanished parts.
        spark.catalog.refreshTable(table)
        return rows

    def stream_merger(
        self, table: str, keys: Sequence[str]
    ) -> Callable[[DataFrame], int]:
        """A merge function for one writer that upserts into ``table`` batch
        after batch and owns it meanwhile (a streaming upsert sink). It
        takes a source frame and returns its row count, like :meth:`merge`.
        Here it is :meth:`ArrowMirror.merge`, which keeps the table on the
        driver; ``DeltaFormat`` uses its native MERGE instead."""
        return ArrowMirror(self, table, keys).merge


class ArrowMirror:
    """A streaming upsert sink's copy of its parquet target, kept as an
    Arrow table on the driver, so a micro-batch costs one Spark job.

    Each :meth:`merge` collects its batch once with ``toArrow()``: the one
    action, which runs the stateful plan; nothing is persisted. An empty
    batch returns 0 and writes nothing. Otherwise the batch is matched by
    column name into the table's column order (a mismatch raises),
    key-checked (``operators.merge.validate_unique_keys_arrow``, so a
    duplicate key raises ``DuplicateSourceKeysError`` before anything is
    written) and upserted into the copy (``upsert_arrow``). The result is
    published as one Parquet file through ``io.commit.CommitTable``: temp
    file, rename, delete the older files, refresh. A missing table is
    created at that first publish, unpartitioned. Nothing is written
    until the batch is fully computed, so a failed batch leaves the table
    intact.

    The first batch with rows loads the copy, if the table exists: its
    data files are read on the driver with no Spark job, in commit order
    with the newest file's row winning per key, cast to the table's Arrow
    schema. So a crash between a commit's rename and its delete reloads
    the new state. A partitioned table is handed to a
    :class:`MirroredTable` for the query's life instead.

    Contract:

    - The copy and each batch live in driver memory. Measured up to 1M
      rows (below); a larger target belongs on a format with a file-pruned
      MERGE (Delta).
    - Single writer: a write to the table from anywhere else is not in the
      copy and is overwritten by the next batch.
    - Between a commit's rename and its delete a concurrent reader can see
      both files, old and new, for that instant. (The ``saveAsTable``
      rewrite this replaced left no table at all for a moment.)

    Size, on 4 vCPUs (local mode), 12 merges of 50-key sources computed
    in the JVM into a table of N rows, median of the last 10, two runs per
    size: at 100k rows 0.224 / 0.265 s per merge at a peak RSS of 1042 /
    1040 MB, at 1M rows 0.615 / 0.537 s at 1134 / 1163 MB, against 0.832 /
    0.966 s at 1403 / 1366 MB and 1.498 / 1.395 s at 2000 / 2069 MB for a
    :class:`MirroredTable` kept across merges. Larger tables are
    unmeasured."""

    def __init__(
        self, table_format: TableFormat, table: str, keys: Sequence[str]
    ) -> None:
        self.table_format = table_format
        self.table = table
        self.keys = list(keys)
        self._loaded = False
        self._rows = None  # the copy: a pyarrow Table, None for no table
        self._commits: CommitTable | None = None
        self._files: list[str] = []
        self._partitioned: MirroredTable | None = None

    def merge(self, source: DataFrame) -> int:
        """Upsert ``source`` (unique per key, else DuplicateSourceKeysError)
        into the table and return its row count; an empty source writes
        nothing."""
        from metadata_driven_etl_spark.operators import merge as merge_ops

        spark = source.sparkSession
        if not self._loaded and self._partitioned is None:
            if self.table_format.table_exists(spark, self.table) and (
                partition_columns(spark, self.table)
            ):
                self._partitioned = MirroredTable(
                    self.table_format, self.table, self.keys
                )
        if self._partitioned is not None:
            return self._partitioned.merge(source)
        batch = source.toArrow()
        if not batch.num_rows:
            return 0
        if not self._loaded:
            self._load(spark)
        if self._commits is None:  # the publish creates it, all nullable
            schema = StructType(
                [StructField(f.name, f.dataType) for f in source.schema]
            )
        else:
            schema = self._commits.schema
        if sorted(batch.column_names) != sorted(schema.names):
            raise ValueError(
                f"batch columns {batch.column_names} do not match "
                f"{self.table}'s {schema.names}"
            )
        batch = batch.select(schema.names).cast(to_arrow_schema(schema))
        rows = merge_ops.validate_unique_keys_arrow(batch, self.keys)
        merged = merge_ops.upsert_arrow(self._rows, batch, self.keys)
        if self._commits is None:
            self._commits = CommitTable(spark, self.table, schema)
        self._files.append(self._commits.publish(merged))
        self._rows = merged
        try:
            self._commits.drop_older(self._files)
        finally:
            spark.catalog.refreshTable(self.table)
        return rows

    def release(self) -> None:
        """Drop the copy; the next merge reads the table again."""
        self._rows, self._loaded = None, False
        if self._partitioned is not None:
            self._partitioned.release()

    def _load(self, spark: SparkSession) -> None:
        from metadata_driven_etl_spark.operators.merge import upsert_arrow

        self._rows, self._commits, self._files = None, None, []
        if self.table_format.table_exists(spark, self.table):
            self._commits = CommitTable(spark, self.table)
            self._files = self._commits.data_files()
            for name in self._files:
                self._rows = upsert_arrow(
                    self._rows, self._commits.read_file(name), self.keys
                )
        self._loaded = True


class MirroredTable:
    """A single writer's copy of a keyed managed table, kept as a local
    checkpoint so each upsert rewrites the table from it without reading
    the table's files. It serves :meth:`TableFormat.merge` (one merge
    through a copy that is then released: the gold layer's incremental
    MERGE) and a streaming sink's partitioned parquet target, for which
    :class:`ArrowMirror` keeps it across batches.

    The rows are read from the table once, lazily, on the first merge that
    has a source row (nothing when the table does not exist; the first
    write creates it), together with its partition spec. Each merge
    computes ``upsert(rows, source)`` at the rows' partition count, so the
    files per write do not grow, and writes it through
    :func:`_checkpointed_overwrite`, so a failed merge leaves the table
    intact. The rows move to the new checkpoint once the overwrite has
    returned, and the old checkpoint's blocks are then released. A merge
    runs at most four Spark jobs: key check, broadcast of the source keys,
    checkpoint, write.

    Only the writer's own merges are in the copy: a write to the table
    from anywhere else is overwritten by the next merge.

    Size: the copy is the whole table, held in executor block storage
    (memory, spilling to disk) for the writer's life, and every merge
    rewrites the whole table, so both costs grow with the table. On 4
    vCPUs (local mode), 12 merges of 50-key sources computed in the JVM
    into a copy kept across merges, median of the last 10, two runs per
    size: 100k-row tables took 0.832 / 0.966 s per merge at a peak RSS of
    1403 / 1366 MB, 1M-row tables 1.498 / 1.395 s at 2000 / 2069 MB,
    against 0.224 / 0.265 s at 1042 / 1040 MB and 0.615 / 0.537 s at 1134
    / 1163 MB for an unpartitioned target's :class:`ArrowMirror`. Larger
    tables are unmeasured; they belong on a format with a file-pruned
    MERGE (Delta)."""

    def __init__(
        self, table_format: TableFormat, table: str, keys: Sequence[str]
    ) -> None:
        self.table_format = table_format
        self.table = table
        self.keys = list(keys)
        self._loaded = False
        self._rows: DataFrame | None = None
        self._num_files = 1
        self._partition_by: list[str] | None = None
        self._owner = CheckpointOwner()

    def merge(self, source: DataFrame) -> int:
        """Upsert ``source`` (unique per key, else DuplicateSourceKeysError)
        into the table and return its row count; an empty source writes
        nothing. ``source`` is persisted for the call: the key check, which
        also counts it, and the upsert both read it."""
        from metadata_driven_etl_spark.operators.merge import (
            upsert,
            validate_unique_keys,
        )

        with persisted(source), owned() as block:
            rows = validate_unique_keys(source, self.keys)
            if not rows:
                return 0
            if not self._loaded:
                self._load(source.sparkSession)
            if self._rows is None:
                merged = source
                self._num_files = max(source.rdd.getNumPartitions(), 1)
            else:
                merged = upsert(self._rows, source, self.keys).coalesce(
                    self._num_files
                )
            merged = _checkpointed_overwrite(
                self.table_format, merged, self.table, self._partition_by
            )
            owner = block.keep()
        self.release()
        self._loaded, self._rows, self._owner = True, merged, owner
        return rows

    def release(self) -> None:
        """Drop the copy's blocks; the next merge reads the table again."""
        self._owner.release()
        self._loaded = False

    def _load(self, spark: SparkSession) -> None:
        self._rows, self._partition_by = None, None
        if self.table_format.table_exists(spark, self.table):
            # a plain read: the first merge's checkpoint reads the files
            # once, before its overwrite replaces them
            self._rows = self.table_format.read(spark, self.table)
            self._num_files = max(self._rows.rdd.getNumPartitions(), 1)
            self._partition_by = partition_columns(spark, self.table) or None
        self._loaded = True


@contextmanager
def persisted(df: DataFrame) -> Iterator[DataFrame]:
    """Cache ``df`` for the length of the block, so every action after the
    first reads the cache instead of running its (possibly stateful) plan
    again — the foreachBatch docs' advice for a micro-batch."""
    df.persist()
    try:
        yield df
    finally:
        df.unpersist()


class CheckpointOwner:
    """The local checkpoints of one :func:`owned` block or, after
    :meth:`keep`, of whoever took them over."""

    def __init__(self) -> None:
        self._rdds: list = []

    def keep(self) -> CheckpointOwner:
        """Hand this block's checkpoints to a new owner, which keeps them
        until its :meth:`release`; the block no longer releases them."""
        kept = CheckpointOwner()
        kept._rdds, self._rdds = self._rdds, []
        return kept

    def release(self) -> None:
        """Drop the blocks of every checkpoint held. ``DataFrame.unpersist``
        does not reach them: they belong to the checkpointed RDD, which
        :func:`checkpoint` takes from the checkpoint's ``LogicalRDD``."""
        rdds, self._rdds = self._rdds, []
        for rdd in rdds:
            rdd.unpersist(False)


_BLOCKS = threading.local()  # .owners: the thread's open blocks, innermost last


@contextmanager
def owned() -> Iterator[CheckpointOwner]:
    """A block that owns the local checkpoints made inside it: each
    :func:`checkpoint` belongs to the innermost block open in its thread,
    which releases them all when it exits, by returning or by raising.
    Outside any block nothing is released until Spark's ContextCleaner
    finds the frame unreachable after a JVM garbage collection.

    Contract: a frame that reads a block's checkpoint, directly or through
    a lazy plan, must not be read after the block exits; the read raises
    ``Py4JJavaError``. A block hands back counts, writes tables and keeps
    schemas, never a frame to read later. ``_LayerBase._run_unit`` opens
    one per unit (it returns a count; the data dictionary reads only the
    written frame's schema); a silver unit's block owns the checkpoint
    ``DataQualityEngine.apply`` returns, which the unit writes. The
    streaming dedup sink opens one per micro-batch and
    :meth:`TableFormat.rewrite` one per call. A copy that outlives its
    block, like :class:`MirroredTable`'s, is taken over with
    :meth:`CheckpointOwner.keep`."""
    owner = CheckpointOwner()
    owners = _BLOCKS.__dict__.setdefault("owners", [])
    owners.append(owner)
    try:
        yield owner
    finally:
        owners.pop()
        owner.release()


def checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """A local checkpoint of ``df``, owned by the innermost :func:`owned`
    block open in this thread; lazy unless ``eager``, so the first action
    that reads it computes its blocks."""
    checkpointed = df.localCheckpoint(eager=eager)
    owners = getattr(_BLOCKS, "owners", None)
    if owners:
        owners[-1]._rdds.append(checkpointed._jdf.queryExecution().logical().rdd())
    return checkpointed


def _checkpointed_overwrite(
    table_format: TableFormat,
    df: DataFrame,
    table: str,
    partition_by: Sequence[str] | None,
) -> DataFrame:
    """Overwrite ``table`` from an eager :func:`checkpoint` of ``df`` and
    return the checkpoint.

    The engine's one way to overwrite a table that its own plan may read.
    ``saveAsTable`` drops the table before its write job runs, so ``df``
    is computed in full first: a failure while computing it (a task
    error, lost blocks) fails here with the table intact. Callers run it
    inside an :func:`owned` block, so a failed overwrite releases the
    checkpoint as its error leaves the block."""
    checkpointed = checkpoint(df, eager=True)
    table_format.overwrite(checkpointed, table, partition_by)
    return checkpointed


class ParquetFormat(TableFormat):
    """Parquet-backed managed tables (harness default — no delta jars)."""

    format_name = "parquet"


_SESSION_CONF_LOCK = threading.Lock()


class DeltaFormat(TableFormat):
    """Delta-backed tables; native MERGE. Only constructible when
    delta-spark is importable."""

    format_name = "delta"

    def _insert_dynamic(self, df: DataFrame, table: str) -> None:
        """Dynamic overwrite through the session conf, switched for the
        write and restored after it; the lock keeps concurrent engine
        writes from restoring it under one another. Unverified (no
        delta-spark here), and so is whether Delta would honour the table
        property the base class sets instead."""
        spark, key = df.sparkSession, "spark.sql.sources.partitionOverwriteMode"
        with _SESSION_CONF_LOCK:
            prev = spark.conf.get(key, "static")
            spark.conf.set(key, "dynamic")
            try:
                df.write.format(self.format_name).mode("overwrite").insertInto(
                    table
                )
            finally:
                spark.conf.set(key, prev)

    def merge(
        self, spark: SparkSession, table: str, source: DataFrame, keys: Sequence[str]
    ) -> int:
        from delta.tables import DeltaTable  # gated import

        from metadata_driven_etl_spark.operators.merge import (
            validate_unique_keys,
        )

        # Delta raises only when duplicates MATCH a target row; unmatched
        # duplicates would insert twice — enforce the uniform contract.
        with persisted(source):
            rows = validate_unique_keys(source, keys)
            if not rows:
                return 0
            if not self.table_exists(spark, table):
                self.overwrite(source, table)
                return rows
            cond = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
            (
                DeltaTable.forName(spark, table)
                .alias("t")
                .merge(source.alias("s"), cond)
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .execute()
            )
        return rows

    def stream_merger(
        self, table: str, keys: Sequence[str]
    ) -> Callable[[DataFrame], int]:
        """Native MERGE per batch: file-pruned, so no copy of the table is
        kept."""
        return lambda source: self.merge(source.sparkSession, table, source, keys)


def delta_available() -> bool:
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def get_table_format(prefer: str = "auto") -> TableFormat:
    """'delta' | 'parquet' | 'auto' (delta when importable)."""
    if prefer == "delta" or (prefer == "auto" and delta_available()):
        return DeltaFormat()
    return ParquetFormat()
