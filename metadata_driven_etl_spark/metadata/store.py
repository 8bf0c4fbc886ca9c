"""The metadata tables: four stores on the engine's one commit path.

Metadata tables are tiny and every row already sits on the driver, so one
commit is one driver-written Parquet file and starts no Spark job: the
rows are serialized with pyarrow and published through
``io.commit.CommitTable`` (local temp file, copy in under a hidden temp
name, rename, refresh), the commit path the streaming upsert sink shares.
A missing table is created with ``CREATE TABLE IF NOT EXISTS ... USING
parquet``, which touches only the catalog.

Metadata tables are Parquet under every ``TableFormat``: a Delta table's
files may only change through its log, and these engine-owned tables need
none. The stores take a ``TableFormat`` like every other writer and do not
use it; a metadata table of another provider is refused at construction.

Two commit shapes:

- :class:`KeyedTable` (control table, data dictionary): construction reads
  the table's data files on the driver into a mirror keyed on the table's
  key columns, taking them in commit order with the newest file's row
  winning per key. Lookups answer from the mirror. Each change publishes
  the whole mirror as a new file, then deletes the older data files. So a
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
from collections.abc import Sequence
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType, TimestampType

from metadata_driven_etl_spark.io.commit import CommitTable
from metadata_driven_etl_spark.io.writer import TableFormat


def utc_now() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


class _MetadataTable(CommitTable):
    def __init__(self, spark: SparkSession, table_format: TableFormat,
                 table: str, schema: StructType):
        super().__init__(spark, table, schema)
        self._lock = threading.Lock()

    def _publish(self, rows: list) -> str:
        """Commit ``rows`` as one new data file and return its name.
        Timestamps go in as PySpark's own epoch microseconds, so naive
        means local time, as in ``createDataFrame``. The caller refreshes
        the table."""
        cols = [list(c) for c in zip(*rows)] or [[] for _ in self.schema]
        for c, f in zip(cols, self.schema.fields):
            if isinstance(f.dataType, TimestampType):
                c[:] = map(f.dataType.toInternal, c)
        return self.publish(pa.table(cols, schema=self.arrow_schema))

    def read(self) -> DataFrame:
        return self.spark.table(self.table)


class KeyedTable(_MetadataTable):
    def __init__(self, spark: SparkSession, table_format: TableFormat,
                 table: str, schema: StructType, keys: Sequence[str]):
        super().__init__(spark, table_format, table, schema)
        self._key_idx = [schema.names.index(k) for k in keys]
        self._row = Row(*schema.names)
        self._files = self.data_files()
        self._rows = {}
        for name in self._files:
            self._rows.update((self._key(r), r) for r in self._load(name))

    def _load(self, name: str) -> list[Row]:
        """The rows of one data file, as ``spark.table(...).collect()``
        returns them."""
        cols = []
        for f, c in zip(self.schema.fields, self.read_file(name).columns):
            if isinstance(f.dataType, TimestampType):
                micros = c.cast(pa.int64()).to_pylist()
                cols.append(list(map(f.dataType.fromInternal, micros)))
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
                self.drop_older(self._files)
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
