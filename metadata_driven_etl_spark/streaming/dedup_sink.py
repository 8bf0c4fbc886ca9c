"""Streaming near-dup ingest: per micro-batch LSH screening + index update.

The streaming composition of ``operators.dedup.incremental_dedup_survivors``:
documents arrive as a stream; each micro-batch is screened against the
PERSISTED corpus band index (batch bands broadcast, index never
reshuffled), survivors are appended to the clean corpus table, and the
survivors' OWN bands are appended to the index so later micro-batches
dedup against them too. Net effect: the output table never contains two
near-duplicate documents, whatever the arrival order — the always-on form
of the daily-batch dedup pattern.

Exactly-once notes: checkpointing makes micro-batch replay idempotent
only if the batch writes are — and the sink performs TWO appends (output
+ index), so the replay guard must survive a crash BETWEEN them, not just
after both. Both tables therefore carry a ``_batch_id`` column and each
append is guarded independently: a replayed batch skips whichever append
already landed and redoes only the missing one. Screening excludes the
replayed batch's own bands from the index view (otherwise a batch whose
index append landed first would self-match and drop its survivors), and
screening is deterministic (fixed hash seeds, same replayed offsets), so
the redone append writes the identical survivor set. Delta/transactional
tables would subsume this; the guard keeps the parquet fallback correct.

Each micro-batch runs in one ``io.writer.owned`` block: its survivor
and band checkpoints are released when the batch ends, also by raising.

Pre-seeding: when seeding ``index_table`` from an existing corpus, attach
``_batch_id = CAST(NULL AS LONG)`` to the ``lsh_bands`` output — the
guard's null-safe filters keep seed rows visible to every batch.

Legacy tables: output/index tables created WITHOUT ``_batch_id`` (by the
pre-guard sink, or seeded bare) keep working — appends match their
schema, and the guard degrades per table to the pre-guard semantics
(that table's append is redone on replay instead of skipped). To get
the full crash-between-appends guarantee, migrate by adding a nullable
``_batch_id BIGINT`` column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metadata_driven_etl_spark.io.writer import (
    TableFormat,
    checkpoint,
    owned,
    persisted,
)
from metadata_driven_etl_spark.operators.dedup import (
    incremental_dedup_survivors,
    lsh_bands,
)
from metadata_driven_etl_spark.streaming.sink import refresh_owner_tables


def dedup_stream(
    stream_df: DataFrame,
    output_table: str,
    index_table: str,
    table_format: TableFormat,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    trigger_available_now: bool = True,
):
    """Start a streaming query that near-dup-screens every micro-batch.

    Returns the StreamingQuery (caller awaits/stops). ``index_table`` is
    created on first use; pre-seed it with ``lsh_bands`` of an existing
    corpus to dedup the stream against history.
    """
    owner = stream_df.sparkSession

    def screen_batch(batch_df: DataFrame, batch_id: int) -> None:
        with persisted(batch_df) as batch, owned():
            if not batch.isEmpty():
                _screen(batch, batch_id)

    def _screen(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession

        # Pre-existing tables written before the per-table guard (or
        # seeded directly from a corpus) may lack _batch_id; appends must
        # match their schema, and the guard degrades gracefully: such a
        # table can never record a batch, so its append is simply redone
        # on replay (the pre-guard semantics for that table).
        def stamped(table: str) -> bool:
            if not table_format.table_exists(spark, table):
                return True  # fresh table: created with the stamp column
            return "_batch_id" in spark.table(table).columns

        out_stamped = stamped(output_table)
        idx_stamped = stamped(index_table)

        def recorded(table: str, has_stamp: bool) -> bool:
            if not has_stamp or not table_format.table_exists(spark, table):
                return False
            return (
                spark.table(table)
                .filter(F.col("_batch_id").eqNullSafe(F.lit(batch_id)))
                .limit(1)
                .count()
                > 0
            )

        # per-table replay guard (ADVICE r3): the two appends are not
        # atomic, so a crash between them must leave a replayable state —
        # skip whichever append already landed, redo only the missing one.
        out_done = recorded(output_table, out_stamped)
        idx_done = recorded(index_table, idx_stamped)
        if not out_stamped and idx_done:
            # legacy (pre-guard) output table: the index stamp was the
            # ONLY commit marker back then and meant "both appends done" —
            # honoring it avoids re-appending output on a normal replay
            # of the last uncommitted batch after an upgrade.
            out_done = True
        if out_done and idx_done:
            return
        if table_format.table_exists(spark, index_table):
            # exclude the replayed batch's OWN bands (null-safe: pre-seeded
            # rows carry _batch_id NULL and must stay visible) — otherwise
            # an index-append-then-crash replay would self-match and drop
            # this batch's survivors from the output.
            index = spark.table(index_table)
            if idx_stamped:
                index = index.filter(
                    ~F.col("_batch_id").eqNullSafe(F.lit(batch_id))
                )
            index = index.select(id_col, "band", "bhash")
        else:
            # empty index: only within-batch screening applies
            index = lsh_bands(
                batch_df.limit(0), text_col, id_col, num_hashes,
                band_size, shingle_n,
            )
        survivors = incremental_dedup_survivors(
            batch_df, index, id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, band_size=band_size,
            shingle_n=shingle_n,
        )
        # materialize once: appended to BOTH tables below, and the second
        # append must see the same survivor set the first one wrote
        survivors = checkpoint(survivors, eager=True)
        if survivors.isEmpty():
            return
        if not out_done:
            out_rows = survivors
            if out_stamped:
                out_rows = out_rows.withColumn("_batch_id", F.lit(batch_id))
            table_format.append(out_rows, output_table)
        if not idx_done:
            new_bands = lsh_bands(
                survivors, text_col, id_col, num_hashes, band_size,
                shingle_n,
            )
            if idx_stamped:
                new_bands = new_bands.withColumn("_batch_id", F.lit(batch_id))
            table_format.append(new_bands, index_table)
        refresh_owner_tables(owner, output_table, index_table)

    writer = (
        stream_df.writeStream.foreachBatch(screen_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
