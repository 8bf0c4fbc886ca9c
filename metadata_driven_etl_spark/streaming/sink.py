"""Streaming upsert sink: foreachBatch → upsert into a managed table.

The canonical streaming-medallion ingest pattern: a streaming aggregation
(update semantics) lands in a managed table by MERGE-ing each micro-batch,
so the table always holds the latest value per key — the streaming
counterpart of the gold layer's incremental refresh (plans/pipeline.py).

The merge is ``table_format.stream_merger``. On parquet it is an
``io.writer.ArrowMirror``: the query keeps its target as an Arrow table on
the driver, loaded from the table's files once (no Spark job). Each
micro-batch is collected once with ``toArrow()``, which is the batch's one
Spark job and runs the stateful plan, then key-checked and upserted in
pyarrow (``operators.merge.validate_unique_keys_arrow`` /
``upsert_arrow``), and the new target is published as one Parquet file
through ``io.commit``, the commit path the metadata stores share: temp
file, rename, delete the older file, refresh. An empty batch stops after
the collect and writes nothing; a batch with a duplicate key raises
``DuplicateSourceKeysError`` before anything is written, as
``TableFormat.merge`` does. So a micro-batch costs one Spark job and the
table holds one file. The target and each batch live in driver memory:
``ArrowMirror`` gives the figures measured up to 1M rows; larger targets
belong on Delta.

A partitioned parquet target keeps an ``io.writer.MirroredTable`` (a
checkpointed copy in executor storage, at most four Spark jobs per
batch), and Delta targets use Delta's file-pruned native MERGE.

Single-writer contract: while the query runs it owns its target. A
write from anywhere else is not in the copy and is overwritten by the
next batch. The copy is released when the query terminates (stopped,
drained or failed); a restarted query reloads it from the table. A
reader of the table during a batch's commit may see the old and the new
file together for the instant between the rename and the delete.
Checkpointing makes the sink exactly-once per micro-batch id: on restart,
a replayed batch re-merges the same rows idempotently (upsert is
idempotent for deterministic aggregates).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQueryListener

from metadata_driven_etl_spark.io.writer import ArrowMirror, TableFormat


def refresh_owner_tables(owner, *tables: str) -> None:
    """Invalidate the stream OWNER session's relation cache for ``tables``.

    foreachBatch executes in a CLONED SparkSession and Spark's table
    relation cache is per-session: a refresh inside the batch only fixes
    the clone, and a reader in the owning session would hit
    FAILED_READ_FILE on the parquet fallback's replaced files after the
    next micro-batch. Shared by every streaming sink that rewrites a
    managed table; best-effort because the table may be resolvable only
    in the batch session."""
    for t in tables:
        try:
            owner.catalog.refreshTable(t)
        except Exception:
            pass


class _ReleaseOnTermination(StreamingQueryListener):
    """Releases a query's copy of its target once the query run has
    terminated, and deregisters itself. The event arrives asynchronously
    after the end."""

    def __init__(self, streams, run_id: str, mirror: ArrowMirror) -> None:
        self.streams, self.run_id, self.mirror = streams, run_id, mirror

    def onQueryStarted(self, event) -> None:
        pass

    onQueryProgress = onQueryStarted

    def onQueryTerminated(self, event) -> None:
        if str(event.runId) == self.run_id:
            self.release()

    def release(self) -> None:  # a second call is harmless
        self.streams.removeListener(self)
        self.mirror.release()


def merge_stream(
    stream_df: DataFrame,
    table: str,
    keys: Sequence[str],
    table_format: TableFormat,
    checkpoint_dir: str,
    output_mode: str = "update",
    trigger_available_now: bool = True,
):
    """Start a streaming query that upserts each micro-batch into ``table``.

    ``stream_df`` is typically a streaming aggregation keyed by ``keys``;
    with ``update`` output mode each micro-batch carries only changed keys.
    The query owns ``table`` while it runs (module docstring). Returns the
    StreamingQuery (caller awaits/stops).
    """
    owner = stream_df.sparkSession
    merge_batch = table_format.stream_merger(table, keys)

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        if merge_batch(batch_df):
            refresh_owner_tables(owner, table)

    writer = (
        stream_df.writeStream.foreachBatch(upsert_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    # the parquet merger is an ArrowMirror's bound merge: its copy of the
    # target outlives every batch, so the query's end releases it
    mirror = getattr(merge_batch, "__self__", None)
    if isinstance(mirror, ArrowMirror):
        listener = _ReleaseOnTermination(owner.streams, query.runId, mirror)
        owner.streams.addListener(listener)
        if not query.isActive:  # ended before the listener could hear it
            listener.release()
    return query
