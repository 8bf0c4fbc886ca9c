"""The one commit path every metadata table shares.

Metadata tables are tiny and every row comes from the driver, so a commit
writes one file from local rows: no table read, no join, no checkpoint.
A missing table is created empty. Two commit shapes:

- :class:`KeyedTable` (control table, data dictionary): one ``collect``
  at construction loads a driver-side mirror keyed on the table's key
  columns. Lookups answer from the mirror without a Spark job; each
  change overwrites the table from the mirror before it returns.
- :class:`AppendTable` (audit log, DQ metrics): rows are buffered and
  ``flush`` appends them as one file.

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
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, TimestampType

from metadata_driven_etl_spark.io.writer import TableFormat


def utc_now() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


class _MetadataTable:
    def __init__(self, spark: SparkSession, table_format: TableFormat,
                 table: str, schema: StructType):
        self.spark = spark
        self.fmt = table_format
        self.table = table
        self.schema = schema
        self._lock = threading.Lock()
        if not table_format.table_exists(spark, table):
            self._write([], append=False)

    def _write(self, rows: list, append: bool) -> None:
        """Commit ``rows`` as one file. The frame is built from an Arrow
        table: PySpark builds one from a Python list with a Python worker
        task, several times slower per commit. Timestamps go in as
        PySpark's own epoch microseconds, so naive means local time."""
        cols = [list(c) for c in zip(*rows)] or [[] for _ in self.schema]
        for c, f in zip(cols, self.schema.fields):
            if isinstance(f.dataType, TimestampType):
                c[:] = map(f.dataType.toInternal, c)
        table = pa.table(cols, schema=to_arrow_schema(self.schema))
        df = self.spark.createDataFrame(table, self.schema).coalesce(1)
        (self.fmt.append if append else self.fmt.overwrite)(df, self.table)

    def read(self) -> DataFrame:
        return self.fmt.read(self.spark, self.table)


class KeyedTable(_MetadataTable):
    def __init__(self, spark: SparkSession, table_format: TableFormat,
                 table: str, schema: StructType, keys: Sequence[str]):
        super().__init__(spark, table_format, table, schema)
        self._key_idx = [schema.names.index(k) for k in keys]
        self._row = Row(*schema.names)
        self._rows = {self._key(r): r for r in self.read().collect()}

    def _key(self, row) -> tuple:
        return tuple(row[i] for i in self._key_idx)

    def get(self, key: tuple) -> Row | None:
        return self._rows.get(key)

    def upsert(self, rows: list[tuple]) -> None:
        """Replace the rows sharing a key with ``rows``, insert the rest,
        and commit the whole table."""
        with self._lock:
            merged = dict(self._rows)
            merged.update((self._key(r), self._row(*r)) for r in rows)
            self._write(list(merged.values()), append=False)
            self._rows = merged


class AppendTable(_MetadataTable):
    def __init__(self, spark: SparkSession, table_format: TableFormat,
                 table: str, schema: StructType):
        super().__init__(spark, table_format, table, schema)
        self._buffer: list[tuple] = []

    def add(self, rows: list[tuple]) -> None:
        with self._lock:
            self._buffer.extend(rows)

    def flush(self) -> None:
        """Append the buffered rows as one file."""
        with self._lock:
            if self._buffer:
                self._write(self._buffer, append=True)
                self._buffer = []
