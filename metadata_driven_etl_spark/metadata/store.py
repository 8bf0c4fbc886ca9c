"""The one commit path every metadata table shares.

Metadata tables are tiny and every row already sits on the driver, so one
commit is one driver-written Parquet file and starts no Spark job: the
rows are serialized with pyarrow, written through the session's Hadoop
``FileSystem`` for the table's location (so ``hdfs://`` and ``s3a://``
warehouses work as well as local ones) under a hidden temp name, which
Spark's file listing skips, and published by renaming it to a visible
data file. The rename is the commit: a reader sees the whole file or none
of it. The commit then refreshes the session's cached file listing of the
table. A missing table is created with ``CREATE TABLE IF NOT EXISTS ...
USING parquet``, which touches only the catalog.

Metadata tables are Parquet under every ``TableFormat``: a Delta table's
files may only change through its log, and these engine-owned tables need
none. The stores take a ``TableFormat`` like every other writer and do not
use it; a metadata table of another provider is refused at construction.

Two commit shapes:

- :class:`KeyedTable` (control table, data dictionary): construction reads
  the table's data files on the driver, through the same ``FileSystem``,
  into a mirror keyed on the table's key columns. Lookups answer from the
  mirror. Each change publishes the whole mirror as a new file, then
  deletes the older data files. Files are named so they sort in commit
  order (files another writer such as ``saveAsTable`` left count as
  oldest), and the load keeps the newest file's row for each key. So a
  crash between the rename and the deletes leaves a readable table whose
  mirror is the new state, and the next commit deletes the stale files.
- :class:`AppendTable` (audit log, DQ metrics): rows are buffered and
  ``flush`` publishes them as one file.

Single-writer contract: one ``PipelineContext`` owns the metadata tables
for one run (``run_pipeline`` builds one per run), so its mirrors are the
tables; a store constructed later loads what earlier stores committed.
Two live stores over one keyed table would overwrite each other's
commits. Locks are per instance: they serialize the units of one run,
which log from concurrent threads (``_LayerBase._run_units``).
"""

from __future__ import annotations

import threading
import time
import uuid
from collections.abc import Sequence
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, TimestampType

from metadata_driven_etl_spark.io.writer import TableFormat

_COMMIT_PREFIX = "commit-"


def utc_now() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _commit_order(name: str) -> tuple:
    """Sort key of a data file: files this module published, by commit
    sequence, after every file another writer left."""
    return (name.startswith(_COMMIT_PREFIX), name)


class _MetadataTable:
    def __init__(self, spark: SparkSession, table_format: TableFormat,
                 table: str, schema: StructType):
        self.spark = spark
        self.table = table
        self.schema = schema
        self._lock = threading.Lock()
        self._seq = 0
        if not spark.catalog.tableExists(table):
            if "." in table:
                spark.sql(
                    f"CREATE DATABASE IF NOT EXISTS {table.rpartition('.')[0]}"
                )
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
            )
            spark.sql(f"CREATE TABLE IF NOT EXISTS {table} ({cols}) USING parquet")
        info = {
            r.col_name: r.data_type
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        }
        if info.get("Provider", "").lower() != "parquet":
            raise ValueError(
                f"metadata table {table} is stored as {info.get('Provider')}; "
                "metadata commits publish parquet files"
            )
        self._path = spark._jvm.org.apache.hadoop.fs.Path
        self._dir = self._path(info["Location"])
        self._fs = self._dir.getFileSystem(spark._jsc.hadoopConfiguration())

    def _publish(self, rows: list) -> str:
        """Commit ``rows`` as one new data file and return its name. The
        file is built from an Arrow table; timestamps go in as PySpark's
        own epoch microseconds, so naive means local time, as in
        ``createDataFrame``. The caller refreshes the table."""
        cols = [list(c) for c in zip(*rows)] or [[] for _ in self.schema]
        for c, f in zip(cols, self.schema.fields):
            if isinstance(f.dataType, TimestampType):
                c[:] = map(f.dataType.toInternal, c)
        buf = pa.BufferOutputStream()
        pq.write_table(pa.table(cols, schema=to_arrow_schema(self.schema)), buf)
        self._seq = max(time.time_ns(), self._seq + 1)
        name = f"{_COMMIT_PREFIX}{self._seq:020d}-{uuid.uuid4().hex[:8]}.parquet"
        tmp = self._path(self._dir, f".{name}.tmp")
        out = self._fs.create(tmp, False)
        try:
            out.write(buf.getvalue().to_pybytes())
        finally:
            out.close()
        if not self._fs.rename(tmp, self._path(self._dir, name)):
            raise OSError(f"could not publish {name} into {self.table}")
        return name

    def read(self) -> DataFrame:
        return self.spark.table(self.table)


class KeyedTable(_MetadataTable):
    def __init__(self, spark: SparkSession, table_format: TableFormat,
                 table: str, schema: StructType, keys: Sequence[str]):
        super().__init__(spark, table_format, table, schema)
        self._key_idx = [schema.names.index(k) for k in keys]
        self._row = Row(*schema.names)
        names = [s.getPath().getName() for s in self._fs.listStatus(self._dir)]
        self._files = sorted(
            (n for n in names if not n.startswith((".", "_"))), key=_commit_order
        )
        self._rows = {}
        for name in self._files:
            self._rows.update((self._key(r), r) for r in self._load(name))
            if name.startswith(_COMMIT_PREFIX):
                self._seq = int(name[len(_COMMIT_PREFIX):].split("-")[0])

    def _load(self, name: str) -> list[Row]:
        """The rows of one data file, as ``spark.table(...).collect()``
        returns them."""
        stream = self._fs.open(self._path(self._dir, name))
        try:
            data = stream.readAllBytes()
        finally:
            stream.close()
        table = pq.read_table(pa.BufferReader(data), columns=self.schema.names)
        cols = []
        for f, c in zip(self.schema.fields, table.columns):
            if isinstance(f.dataType, TimestampType):
                # Spark may have written INT96 (read as nanoseconds)
                micros = c.cast(pa.timestamp("us"), safe=False).cast(pa.int64())
                cols.append(list(map(f.dataType.fromInternal, micros.to_pylist())))
            else:
                cols.append(c.to_pylist())
        return [self._row(*r) for r in zip(*cols)]

    def _key(self, row) -> tuple:
        return tuple(row[i] for i in self._key_idx)

    def get(self, key: tuple) -> Row | None:
        return self._rows.get(key)

    def upsert(self, rows: list[tuple]) -> None:
        """Replace the rows sharing a key with ``rows``, insert the rest,
        commit the whole table as one new file, then delete the older
        files. A failed delete leaves the stale file listed for the next
        commit; the new file already holds every key."""
        with self._lock:
            merged = dict(self._rows)
            merged.update((self._key(r), self._row(*r)) for r in rows)
            self._files.append(self._publish(list(merged.values())))
            self._rows = merged
            try:
                while len(self._files) > 1:
                    self._fs.delete(self._path(self._dir, self._files[0]), False)
                    del self._files[0]
            finally:
                self.spark.catalog.refreshTable(self.table)


class AppendTable(_MetadataTable):
    def __init__(self, spark: SparkSession, table_format: TableFormat,
                 table: str, schema: StructType):
        super().__init__(spark, table_format, table, schema)
        self._buffer: list[tuple] = []

    def add(self, rows: list[tuple]) -> None:
        with self._lock:
            self._buffer.extend(rows)

    def flush(self) -> None:
        """Commit the buffered rows as one file."""
        with self._lock:
            if self._buffer:
                self._publish(self._buffer)
                self._buffer = []
                self.spark.catalog.refreshTable(self.table)
