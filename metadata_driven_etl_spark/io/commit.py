"""The one commit path of tables whose data files the driver writes.

A commit is one Parquet file built on the driver with pyarrow, and starts
no Spark job. pyarrow writes the file to a local temp file; the session's
Hadoop ``FileSystem`` for the table's location (so ``hdfs://`` and
``s3a://`` warehouses work as well as local ones) copies it in under a
hidden temp name, which Spark's file listing skips, and renames it to a
visible data file. The rename is the commit: a reader sees the whole file
or none of it. The caller then deletes the files the commit replaced, if
any, and refreshes the session's cached file listing of the table. Reads
go the other way: a data file is copied to a local temp file and read
with pyarrow. No file's bytes cross py4j.

Files this module publishes are named so they sort in commit order; files
another writer such as ``saveAsTable`` left count as oldest. A table whose
commits each hold its whole state therefore loads by taking the files in
commit order with the newest file's row winning per key, and a crash
between a commit's rename and its deletes leaves a readable table that
loads as the new state.

Every ``FileSystem`` call goes through :attr:`CommitTable._fs`, so a test
can stand a failing file system in for it.

Users: the metadata stores (``metadata.store``) and the streaming upsert
sink's driver copy of its target (``io.writer.ArrowMirror``).
"""

from __future__ import annotations

import os
import tempfile
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

COMMIT_PREFIX = "commit-"


def commit_order(name: str) -> tuple:
    """Sort key of a data file: files this module published, by commit
    sequence, after every file another writer left."""
    return (name.startswith(COMMIT_PREFIX), name)


class CommitTable:
    """A parquet managed table whose data files the driver commits.

    Construction opens ``table``; when it is missing and ``schema`` is
    given it is first created with ``CREATE TABLE IF NOT EXISTS ... USING
    parquet``, which touches only the catalog. A table of another provider
    is refused: a Delta table's files may only change through its log.
    :attr:`schema` is ``schema`` if given, else the table's own, and
    :attr:`arrow_schema` its Arrow form, which every file read is cast to.
    """

    def __init__(self, spark: SparkSession, table: str,
                 schema: StructType | None = None):
        self.spark = spark
        self.table = table
        self._seq = 0
        if schema is not None and not spark.catalog.tableExists(table):
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
                f"table {table} is stored as {info.get('Provider')}; "
                "driver commits publish parquet files"
            )
        self.schema = schema if schema is not None else spark.table(table).schema
        self.arrow_schema = to_arrow_schema(self.schema)
        self._path = spark._jvm.org.apache.hadoop.fs.Path
        self._dir = self._path(info["Location"])
        self._fs = self._dir.getFileSystem(spark._jsc.hadoopConfiguration())

    def data_files(self) -> list[str]:
        """The table's visible data files, in commit order. Later commits
        are named after the newest one listed."""
        names = [s.getPath().getName() for s in self._fs.listStatus(self._dir)]
        files = sorted(
            (n for n in names if not n.startswith((".", "_"))), key=commit_order
        )
        for name in files:
            if name.startswith(COMMIT_PREFIX):
                seq = int(name[len(COMMIT_PREFIX):].split("-")[0])
                self._seq = max(self._seq, seq)
        return files

    def read_file(self, name: str) -> pa.Table:
        """The rows of one data file, cast to :attr:`arrow_schema`
        (Spark's INT96 timestamps included)."""
        with tempfile.TemporaryDirectory() as tmp:
            local = os.path.join(tmp, "data.parquet")
            self._fs.copyToLocalFile(
                False, self._path(self._dir, name), self._path(local), True
            )
            data = pq.read_table(
                local, columns=self.schema.names, coerce_int96_timestamp_unit="us"
            )
        return data.cast(self.arrow_schema)

    def publish(self, data: pa.Table) -> str:
        """Commit ``data`` as one new data file and return its name. The
        caller refreshes the table."""
        self._seq = max(time.time_ns(), self._seq + 1)
        name = f"{COMMIT_PREFIX}{self._seq:020d}-{uuid.uuid4().hex[:8]}.parquet"
        tmp = self._path(self._dir, f".{name}.tmp")
        fd, local = tempfile.mkstemp(suffix=".parquet")
        os.close(fd)
        try:
            pq.write_table(data, local)
            self._fs.copyFromLocalFile(False, self._path(local), tmp)
        finally:
            os.unlink(local)
        if not self._fs.rename(tmp, self._path(self._dir, name)):
            raise OSError(f"could not publish {name} into {self.table}")
        return name

    def drop_older(self, files: list[str]) -> None:
        """Delete every file of ``files`` but the last, oldest first, and
        take each from the list once it is gone: after a failed delete the
        list still names the files left for the next call."""
        while len(files) > 1:
            self._fs.delete(self._path(self._dir, files[0]), False)
            del files[0]
