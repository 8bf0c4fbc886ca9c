"""Structured Streaming ops: file-source micro-batches → memory sink, and
batch/stream expression equivalence for the tumbling window."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metadata_driven_etl_spark.catalog import load_table
from metadata_driven_etl_spark.streaming.windows import (
    session_window_agg,
    stream_from_files,
    tumbling_window_agg,
)

EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Normalize the nanos-timestamp events table into a streamable dir
    (two files → two micro-batches)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, sf_dir, "events").repartition(2).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def _run_stream(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_stream_equals_batch(spark, events_dir):
    stream = stream_from_files(spark, events_dir, EVENT_SCHEMA)
    _run_stream(tumbling_window_agg(stream), "t_tumble")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.table("t_tumble").collect()
    }
    batch = tumbling_window_agg(spark.read.schema(EVENT_SCHEMA).parquet(events_dir))
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_session_window_stream(spark, events_dir):
    stream = stream_from_files(spark, events_dir, EVENT_SCHEMA)
    _run_stream(session_window_agg(stream, gap="30 minutes"), "t_sess")
    out = spark.table("t_sess")
    assert out.count() > 0
    # sessions are per-user, start <= end, event counts positive
    bad = out.filter(
        (F.col("session_start") > F.col("session_end")) | (F.col("n_events") <= 0)
    )
    assert bad.count() == 0


@pytest.mark.slow
def test_stateful_sessionize_matches_batch(spark, sf_dir, tmp_path_factory):
    """applyInPandasWithState sessions == batch lag/cumsum sessions.

    A far-future sentinel event (its own user) is appended as the last
    micro-batch so the event-time watermark passes every real session's
    end + gap and times them all out — making the streaming output total,
    hence exactly comparable to the batch computation.
    """
    import datetime

    from pyspark.sql import functions as F

    from metadata_driven_etl_spark.operators.windows import sessionize
    from metadata_driven_etl_spark.streaming.stateful import sessionize_stateful

    import time as _time

    gap_s = 1800
    path = str(tmp_path_factory.mktemp("events_stateful"))
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    # FileStreamSource replays files in MODIFICATION-TIME order — write each
    # chronological slice as its own sequential job (concurrent task writes
    # would race the modTimes and replay late data first)
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    split_ts = lo + (hi - lo) / 2
    for i, part_df in enumerate(
        [
            events.filter(F.col("ts") <= F.lit(split_ts)),
            events.filter(F.col("ts") > F.lit(split_ts)),
        ]
    ):
        part_df.coalesce(1).sortWithinPartitions("ts").write.mode(
            "overwrite"
        ).parquet(f"{path}/slice={i}")
        _time.sleep(1.1)
    sentinel = spark.createDataFrame(
        [(999_999_999, datetime.datetime(2100, 1, 1), -1, "sentinel", 0.0, "{}")],
        EVENT_SCHEMA,
    )
    sentinel.coalesce(1).write.mode("overwrite").parquet(f"{path}/slice=2")
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    q = (
        sessionize_stateful(stream, gap_seconds=gap_s)
        .writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.total_value)
        for r in spark.table("t_stateful").filter(F.col("user_id") >= 0).collect()
    }

    batch = sessionize(events, "user_id", "ts", gap_s, tiebreak=("event_id",))
    want = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.total_value)
        for r in batch.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .collect()
    }
    assert set(got) == set(want) and len(got) > 0
    for k, (n_got, v_got) in got.items():
        n_want, v_want = want[k]
        assert n_got == n_want
        assert abs(v_got - v_want) < 1e-6


@pytest.mark.slow
def test_merge_stream_upsert_equals_batch_agg(spark, events_dir, tmp_path):
    """foreachBatch streaming merge: after draining the stream, the managed
    table equals the batch aggregate (latest value per key), even though it
    was built by per-micro-batch upserts."""
    from pyspark.sql import functions as F

    from metadata_driven_etl_spark.io.writer import ParquetFormat
    from metadata_driven_etl_spark.streaming.sink import merge_stream
    from metadata_driven_etl_spark.streaming.windows import stream_from_files

    fmt = ParquetFormat()
    spark.sql("DROP TABLE IF EXISTS stream_sink.user_totals")

    stream = stream_from_files(spark, events_dir, EVENT_SCHEMA)
    agg = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    q = merge_stream(
        agg,
        "stream_sink.user_totals",
        keys=["user_id"],
        table_format=fmt,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    got = {
        r.user_id: r.n_events
        for r in spark.table("stream_sink.user_totals").collect()
    }
    want = {
        r.user_id: r.n_events
        for r in spark.read.schema(EVENT_SCHEMA)
        .parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == want and len(got) > 0
    spark.sql("DROP TABLE IF EXISTS stream_sink.user_totals")
    spark.sql("DROP DATABASE IF EXISTS stream_sink")


def test_stream_static_join_equals_batch(spark, events_dir):
    """Stream⋈static-dim enrichment aggregates == the batch join."""
    from metadata_driven_etl_spark.streaming.enrich import stream_static_join

    batch_events = spark.read.schema(EVENT_SCHEMA).parquet(events_dir)
    dim = (
        batch_events.select("event_type")
        .distinct()
        .withColumn("category", F.upper("event_type"))
    )
    stream = stream_from_files(spark, events_dir, EVENT_SCHEMA)
    joined = stream_static_join(stream, dim, on=["event_type"])
    agg = joined.groupBy("category").agg(F.count(F.lit(1)).alias("n"))
    _run_stream(agg, "t_enrich")
    got = {(r.category): r.n for r in spark.table("t_enrich").collect()}
    want = {
        (r.category): r.n
        for r in batch_events.join(dim, "event_type")
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_dedup_within_watermark(spark, sf_dir, tmp_path_factory):
    """Two micro-batches carrying the same rows → one surviving copy per
    event_id (state held across batches by the watermark horizon)."""
    import time

    from metadata_driven_etl_spark.streaming.enrich import dedup_within_watermark

    path = str(tmp_path_factory.mktemp("events_dup_stream"))
    events = load_table(spark, sf_dir, "events").limit(500)
    # Sequential writes → distinct mtimes → deterministic replay order
    # (FileStreamSource orders by modification time).
    events.coalesce(1).write.mode("append").parquet(path)
    time.sleep(1.1)
    events.coalesce(1).write.mode("append").parquet(path)

    stream = stream_from_files(spark, path, EVENT_SCHEMA)
    deduped = dedup_within_watermark(
        stream, keys=["event_id"], watermark="3650 days"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("t_dedup").count()
    want = events.select("event_id").distinct().count()
    assert got == want > 0


@pytest.mark.slow
def test_stream_stream_join_equals_batch(spark, sf_dir, tmp_path_factory):
    """Watermarked stream⋈stream join with a ±15min proximity bound equals
    the same join over the static tables."""
    from metadata_driven_etl_spark.streaming.enrich import stream_stream_join

    events = load_table(spark, sf_dir, "events")
    types = sorted(
        r.event_type for r in events.select("event_type").distinct().collect()
    )
    t_left, t_right = types[0], types[1]
    left_b = events.filter(F.col("event_type") == t_left).select(
        "user_id", "ts", F.col("event_id").alias("l_id")
    )
    right_b = events.filter(F.col("event_type") == t_right).select(
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
    )
    lp = str(tmp_path_factory.mktemp("ss_left"))
    rp = str(tmp_path_factory.mktemp("ss_right"))
    left_b.coalesce(1).write.mode("overwrite").parquet(lp)
    right_b.coalesce(1).write.mode("overwrite").parquet(rp)

    l_schema = "user_id long, ts timestamp, l_id long"
    r_schema = "user_id long, r_ts timestamp, r_id long"
    ls = stream_from_files(spark, lp, l_schema)
    rs = stream_from_files(spark, rp, r_schema)
    joined = stream_stream_join(
        ls, rs, key="user_id", left_ts="ts", right_ts="r_ts",
        within="15 minutes", watermark="31 days",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.l_id, r.r_id) for r in spark.table("t_ssj").select("l_id", "r_id").collect()
    }
    want = {
        (r.l_id, r.r_id)
        for r in left_b.join(
            right_b.withColumnRenamed("user_id", "u2"),
            (F.col("user_id") == F.col("u2"))
            & (F.col("r_ts") >= F.col("ts") - F.expr("interval 15 minutes"))
            & (F.col("r_ts") <= F.col("ts") + F.expr("interval 15 minutes")),
        ).select("l_id", "r_id").collect()
    }
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_merge_stream_resumes_from_checkpoint_across_restarts(
    spark, sf_dir, tmp_path
):
    """The real multi-cycle lifecycle of the upsert sink: drain micro-
    batches, STOP the query, land new files, start a NEW query on the
    same checkpoint. The restarted query must (a) recover the streaming
    aggregation state (totals accumulate across restarts, not reset),
    (b) skip already-committed files, and (c) re-merge only the changed
    keys — ending bit-identical to the one-shot batch aggregate."""
    import os

    from metadata_driven_etl_spark.io.writer import ParquetFormat
    from metadata_driven_etl_spark.streaming.sink import merge_stream
    from metadata_driven_etl_spark.streaming.windows import stream_from_files

    fmt = ParquetFormat()
    table = "stream_sink.resume_totals"
    spark.sql("DROP TABLE IF EXISTS " + table)
    src_dir = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    wave1 = events.filter(F.col("event_id") % 3 == 0)
    wave2 = events.filter(F.col("event_id") % 3 != 0)

    def drain(wave, _):
        # append part-files at the TOP level — the file-stream source does
        # not recurse into subdirectories
        wave.coalesce(1).write.mode("append").parquet(src_dir)
        agg = stream_from_files(spark, src_dir, EVENT_SCHEMA).groupBy(
            "user_id"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        q = merge_stream(
            agg, table, keys=["user_id"], table_format=fmt,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(180)
        assert not q.isActive

    drain(wave1, None)
    after_wave1 = {
        r.user_id: r.n_events for r in spark.table(table).collect()
    }
    want_wave1 = {
        r.user_id: r.n_events
        for r in wave1.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert after_wave1 == want_wave1 and len(after_wave1) > 0

    drain(wave2, None)
    got = {r.user_id: r.n_events for r in spark.table(table).collect()}
    want = {
        r.user_id: r.n_events
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    # totals accumulated across the restart — wave2-only counts would
    # differ for every user that appeared in both waves
    assert got == want and got != want_wave1

    spark.sql("DROP TABLE IF EXISTS " + table)
    spark.sql("DROP DATABASE IF EXISTS stream_sink")


@pytest.mark.slow
def test_streaming_near_dedup_equals_sequential_batches(
    spark, sf_dir, tmp_path
):
    """The streaming near-dup ingest sink (per micro-batch: screen against
    the persisted band index, append survivors, grow the index) must end
    with exactly the survivor set of applying incremental_dedup_survivors
    sequentially wave by wave — and the output must be near-dup-free
    across micro-batches."""
    import os
    import time as _time

    from metadata_driven_etl_spark.io.writer import ParquetFormat
    from metadata_driven_etl_spark.operators.dedup import (
        incremental_dedup_survivors,
        lsh_bands,
    )
    from metadata_driven_etl_spark.streaming.dedup_sink import dedup_stream

    fmt = ParquetFormat()
    out_t, idx_t = "stream_sink.clean_docs", "stream_sink.clean_docs_bands"
    for t in (out_t, idx_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wave1 = docs.filter(F.col("doc_id") % 2 == 0)
    wave2 = docs.filter(F.col("doc_id") % 2 == 1)
    src_dir = str(tmp_path / "doc_arrivals")
    os.makedirs(src_dir)
    # sequential writes → distinct modTimes → deterministic replay order
    wave1.coalesce(1).write.mode("append").parquet(src_dir)
    _time.sleep(1.1)
    wave2.coalesce(1).write.mode("append").parquet(src_dir)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = dedup_stream(
        stream, out_t, idx_t, table_format=fmt,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    got = {r.doc_id for r in spark.table(out_t).collect()}

    # sequential reference: wave1 against empty index, wave2 against
    # wave1-survivor bands
    s1 = incremental_dedup_survivors(wave1, lsh_bands(wave1.limit(0)))
    s1 = s1.localCheckpoint(eager=True)
    s2 = incremental_dedup_survivors(wave2, lsh_bands(s1))
    want = {r.doc_id for r in s1.collect()} | {r.doc_id for r in s2.collect()}
    assert got == want and len(got) > 0

    # cross-batch near-dup-freedom: re-screening the output against its
    # own index minus itself keeps everything (no surviving pair collides)
    out_docs = spark.table(out_t)
    assert (
        incremental_dedup_survivors(
            out_docs, lsh_bands(out_docs.limit(0))
        ).count()
        == out_docs.count()
    )

    for t in (out_t, idx_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.sql("DROP DATABASE IF EXISTS stream_sink")


def test_streaming_near_dedup_releases_each_batch_survivors(
    spark, tmp_path, persistent_rdds
):
    """Each micro-batch checkpoints its survivor set for its two appends;
    once the batch is written the blocks are released, so a run of
    batches leaves the persistent-RDD count where it started."""
    import os
    import time as _time

    from metadata_driven_etl_spark.io.writer import ParquetFormat
    from metadata_driven_etl_spark.streaming.dedup_sink import dedup_stream

    out_t, idx_t = "stream_sink.rel_docs", "stream_sink.rel_docs_bands"
    for t in (out_t, idx_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    src_dir = str(tmp_path / "arrivals")
    os.makedirs(src_dir)
    words = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa"]
    for wave in range(3):
        docs = [
            (wave * 10 + i, " ".join(words[(i + k) % 7] for k in range(6 + i)))
            for i in range(4)
        ]
        spark.createDataFrame(docs, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src_dir)
        _time.sleep(1.1)  # distinct modTimes: one file per batch, in order
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    persistent = persistent_rdds()
    before = persistent()
    q = dedup_stream(
        stream, out_t, idx_t, table_format=ParquetFormat(),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert len(q.recentProgress) >= 3
    assert spark.table(out_t).count() > 0
    assert persistent() == before
    for t in (out_t, idx_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.sql("DROP DATABASE IF EXISTS stream_sink")


@pytest.mark.parametrize("crash_mode", ["between_appends", "after_both"])
@pytest.mark.slow
def test_streaming_dedup_replay_guard_survives_mid_batch_crash(
    spark, sf_dir, tmp_path, crash_mode
):
    """ADVICE r3 (dedup_sink.py): a crash BETWEEN the output append and the
    index append must not duplicate documents on replay.

    Simulated by a table format that raises on the batch's second append —
    either before writing it (output landed, index missing: the exact
    partial state the advisory described) or after writing it (both landed
    but the micro-batch never committed to the checkpoint: full replay must
    skip both appends). Restarting the stream on the same checkpoint must
    heal to exactly the sequential-reference survivor set with every doc_id
    appearing once."""
    import os
    import time as _time

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from metadata_driven_etl_spark.io.writer import ParquetFormat
    from metadata_driven_etl_spark.operators.dedup import (
        incremental_dedup_survivors,
        lsh_bands,
    )
    from metadata_driven_etl_spark.streaming.dedup_sink import dedup_stream

    class CrashingFormat(ParquetFormat):
        """Raises on the Nth append call (1-based), optionally after the
        data already landed — simulating a sink crash mid-batch."""

        def __init__(self, fail_at: int, after_write: bool):
            self.calls = 0
            self.fail_at = fail_at
            self.after_write = after_write

        def append(self, df, table):
            self.calls += 1
            if self.calls == self.fail_at:
                if self.after_write:
                    super().append(df, table)
                raise RuntimeError("simulated sink crash")
            super().append(df, table)

    out_t = f"stream_sink.crash_docs_{crash_mode}"
    idx_t = f"{out_t}_bands"
    for t in (out_t, idx_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wave1 = docs.filter(F.col("doc_id") % 2 == 0)
    wave2 = docs.filter(F.col("doc_id") % 2 == 1)
    src_dir = str(tmp_path / "doc_arrivals")
    os.makedirs(src_dir)
    wave1.coalesce(1).write.mode("append").parquet(src_dir)
    _time.sleep(1.1)
    wave2.coalesce(1).write.mode("append").parquet(src_dir)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    ckpt = str(tmp_path / "ckpt")
    crashing = CrashingFormat(
        fail_at=2, after_write=(crash_mode == "after_both")
    )
    q = dedup_stream(stream, out_t, idx_t, table_format=crashing,
                     checkpoint_dir=ckpt)
    with pytest.raises(StreamingQueryException, match="simulated sink crash"):
        q.awaitTermination(180)

    # batch 0's output append landed; in after_both mode its index append
    # landed too — but the batch was never committed to the checkpoint
    assert spark.table(out_t).count() > 0

    # restart on the same checkpoint with a healthy format → batch 0
    # replays, then batch 1 processes
    q2 = dedup_stream(stream, out_t, idx_t, table_format=ParquetFormat(),
                      checkpoint_dir=ckpt)
    q2.awaitTermination(180)

    got_rows = spark.table(out_t).select("doc_id").collect()
    got = [r.doc_id for r in got_rows]
    assert len(got) == len(set(got)), "replay duplicated documents"

    s1 = incremental_dedup_survivors(wave1, lsh_bands(wave1.limit(0)))
    s1 = s1.localCheckpoint(eager=True)
    s2 = incremental_dedup_survivors(wave2, lsh_bands(s1))
    want = {r.doc_id for r in s1.collect()} | {r.doc_id for r in s2.collect()}
    assert set(got) == want and len(got) > 0

    for t in (out_t, idx_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.sql("DROP DATABASE IF EXISTS stream_sink")


@pytest.mark.slow
def test_streaming_dedup_legacy_unstamped_output_table(spark, sf_dir, tmp_path):
    """Tables created before the per-table replay guard lack _batch_id.
    The sink must keep working against them: appends match the legacy
    schema, screening still dedups across batches, and the guard degrades
    per table instead of crashing on an unresolved column."""
    import os
    import time as _time

    from metadata_driven_etl_spark.io.writer import ParquetFormat
    from metadata_driven_etl_spark.operators.dedup import (
        incremental_dedup_survivors,
        lsh_bands,
    )
    from metadata_driven_etl_spark.streaming.dedup_sink import dedup_stream

    fmt = ParquetFormat()
    out_t, idx_t = "stream_sink.legacy_docs", "stream_sink.legacy_docs_bands"
    for t in (out_t, idx_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # legacy output table: old-sink schema, NO _batch_id, pre-populated
    # with an earlier corpus half
    pre = docs.filter(F.col("doc_id") % 2 == 0)
    pre = incremental_dedup_survivors(pre, lsh_bands(pre.limit(0)))
    pre = pre.localCheckpoint(eager=True)
    fmt.overwrite(pre, out_t)
    # its bands, seeded bare (also legacy: no _batch_id)
    fmt.overwrite(lsh_bands(pre), idx_t)
    pre_ids = {r.doc_id for r in pre.select("doc_id").collect()}

    wave = docs.filter(F.col("doc_id") % 2 == 1)
    src_dir = str(tmp_path / "arrivals")
    os.makedirs(src_dir)
    wave.coalesce(1).write.mode("append").parquet(src_dir)
    _time.sleep(0.2)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = dedup_stream(stream, out_t, idx_t, table_format=fmt,
                     checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    out = spark.table(out_t)
    assert "_batch_id" not in out.columns  # legacy schema preserved
    got = {r.doc_id for r in out.select("doc_id").collect()}
    want_new = {
        r.doc_id
        for r in incremental_dedup_survivors(wave, lsh_bands(pre)).collect()
    }
    assert got == pre_ids | want_new and want_new

    for t in (out_t, idx_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.sql("DROP DATABASE IF EXISTS stream_sink")


# ---------------------------------------------------------------------------
# streaming incremental view maintenance (CDC → aggregate table)
# ---------------------------------------------------------------------------


def _cdc_waves(spark, sf_dir):
    """Two CDC micro-batches over orders: wave 1 inserts a base slice;
    wave 2 deletes some of it, updates some (delete+insert pair), and
    inserts fresh keys — net state is SQL-checkable."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.trunc("o_orderdate", "mm").alias("order_month"),
            F.floor(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("price_cents"),
        )
        .where(F.col("o_orderkey") % 7 < 4)
    )
    w1 = orders.where(F.col("o_orderkey") % 7 < 3).withColumn(
        "op", F.lit("insert")
    )
    deletes = orders.where(F.col("o_orderkey") % 7 == 0).withColumn(
        "op", F.lit("delete")
    )
    upd_keys = orders.where(F.col("o_orderkey") % 7 == 1)
    upd = upd_keys.withColumn("op", F.lit("delete")).unionByName(
        upd_keys.withColumn(
            "price_cents", F.col("price_cents") + F.lit(100)
        ).withColumn("op", F.lit("insert"))
    )
    fresh = orders.where(F.col("o_orderkey") % 7 == 3).withColumn(
        "op", F.lit("insert")
    )
    w2 = deletes.unionByName(upd).unionByName(fresh)
    # expected net state: w1 minus deleted keys, updated repriced, + fresh
    net = (
        orders.where(F.col("o_orderkey") % 7 == 2)
        .unionByName(
            upd_keys.withColumn(
                "price_cents", F.col("price_cents") + F.lit(100)
            )
        )
        .unionByName(orders.where(F.col("o_orderkey") % 7 == 3))
    )
    return w1, w2, net


def test_streaming_agg_maintenance_equals_batch_agg(spark, sf_dir, tmp_path):
    """After both CDC micro-batches, the maintained aggregate table must
    equal a full groupBy of the net row state."""
    import os
    import time as _time

    from metadata_driven_etl_spark.io.writer import ParquetFormat
    from metadata_driven_etl_spark.streaming.agg_maintenance_sink import (
        agg_maintenance_stream,
    )

    agg_t = "stream_ivm.monthly_orders"
    spark.sql(f"DROP TABLE IF EXISTS {agg_t}")
    w1, w2, net = _cdc_waves(spark, sf_dir)
    src = str(tmp_path / "cdc")
    os.makedirs(src)
    w1.coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    w2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(
            "o_orderkey long, order_month date, price_cents long, op string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = agg_maintenance_stream(
        stream, agg_t, ParquetFormat(), str(tmp_path / "ckpt"),
        group_keys=["order_month"],
        sum_cols={"total_cents": "price_cents"},
        count_col="n_orders",
    )
    q.awaitTermination(180)

    got = sorted(
        map(
            tuple,
            spark.table(agg_t)
            .select("order_month", "n_orders", "total_cents")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            net.groupBy("order_month")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("price_cents").alias("total_cents"),
            )
            .collect(),
        )
    )
    assert got == want and len(got) > 0
    spark.sql(f"DROP TABLE IF EXISTS {agg_t}")
    spark.sql("DROP DATABASE IF EXISTS stream_ivm")


def test_streaming_agg_maintenance_replay_guard_and_bad_op(
    spark, sf_dir, tmp_path
):
    """A crash AFTER the aggregate overwrite landed but BEFORE the
    micro-batch committed to the checkpoint must not double-count on
    replay (the _batch_id stamp skips the re-applied batch); an op
    outside {insert, delete} raises instead of silently dropping rows;
    float measures are rejected."""
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from metadata_driven_etl_spark.io.writer import ParquetFormat
    from metadata_driven_etl_spark.streaming.agg_maintenance_sink import (
        agg_maintenance_stream,
    )

    class CrashAfterWriteFormat(ParquetFormat):
        """Overwrite lands, then the sink dies — the exact torn state a
        replayed batch must detect via the _batch_id stamp."""

        def overwrite(self, df, table, partition_by=None):
            super().overwrite(df, table, partition_by)
            raise RuntimeError("simulated sink crash")

    agg_t = "stream_ivm.replay_agg"
    spark.sql(f"DROP TABLE IF EXISTS {agg_t}")
    w1, _, _ = _cdc_waves(spark, sf_dir)
    src = str(tmp_path / "cdc")
    os.makedirs(src)
    w1.coalesce(1).write.mode("append").parquet(src)

    stream_of = lambda: (  # noqa: E731
        spark.readStream.schema(
            "o_orderkey long, order_month date, price_cents long, op string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    fmt = ParquetFormat()
    kwargs = dict(
        group_keys=["order_month"],
        sum_cols={"total_cents": "price_cents"},
        count_col="n_orders",
    )
    ckpt = str(tmp_path / "ckpt")
    q = agg_maintenance_stream(
        stream_of(), agg_t, CrashAfterWriteFormat(), ckpt, **kwargs
    )
    with pytest.raises(StreamingQueryException, match="simulated sink crash"):
        q.awaitTermination(120)
    # batch 0's overwrite landed but never committed to the checkpoint
    first = sorted(map(tuple, spark.table(agg_t).collect()))
    assert first, "expected the torn overwrite to have landed"

    # restart on the same checkpoint: batch 0 replays and must be skipped
    q2 = agg_maintenance_stream(stream_of(), agg_t, fmt, ckpt, **kwargs)
    q2.awaitTermination(120)
    assert sorted(map(tuple, spark.table(agg_t).collect())) == first

    # loud guards: unknown op AND NULL op (NULL would silently read as a
    # delete under a bare when/otherwise) both raise from the inline
    # raise_error mapping
    for tag, op_val in (("upsert", F.lit("upsert")), ("null", F.lit(None))):
        bad_dir = str(tmp_path / f"bad_{tag}")
        os.makedirs(bad_dir)
        w1.withColumn("op", op_val.cast("string")).coalesce(1).write.mode(
            "append"
        ).parquet(bad_dir)
        bad_stream = (
            spark.readStream.schema(
                "o_orderkey long, order_month date, price_cents long, "
                "op string"
            )
            .parquet(bad_dir)
        )
        qb = agg_maintenance_stream(
            bad_stream, f"stream_ivm.bad_agg_{tag}", fmt,
            str(tmp_path / f"ckpt_bad_{tag}"), **kwargs,
        )
        with pytest.raises(Exception, match="invalid CDC op"):
            qb.awaitTermination(120)

    # a reset checkpoint against a table maintained FURTHER than the
    # stream's next batch must fail loudly, not silently discard batches
    from metadata_driven_etl_spark.streaming.agg_maintenance_sink import (
        CheckpointTableMismatchError,
    )

    ahead = (
        spark.table(agg_t)
        .withColumn("_batch_id", F.lit(99))
        .localCheckpoint(eager=True)
    )
    fmt.overwrite(ahead, agg_t)
    q3 = agg_maintenance_stream(
        stream_of(), agg_t, fmt, str(tmp_path / "ckpt_reset"), **kwargs
    )
    with pytest.raises(Exception) as ei:
        q3.awaitTermination(120)
    assert "CheckpointTableMismatchError" in str(ei.value) or isinstance(
        ei.value, CheckpointTableMismatchError
    )

    with pytest.raises(TypeError, match="order-sensitive"):
        agg_maintenance_stream(
            stream_of().withColumn(
                "price_f", F.col("price_cents").cast("double")
            ),
            "stream_ivm.float_agg", fmt, str(tmp_path / "ckpt_f"),
            group_keys=["order_month"],
            sum_cols={"total": "price_f"},
        )
    spark.sql(f"DROP TABLE IF EXISTS {agg_t}")
    spark.sql("DROP DATABASE IF EXISTS stream_ivm")


def test_streaming_agg_maintenance_keeps_partition_spec(spark, tmp_path):
    """A pre-created aggregate table partitioned on ``p`` keeps that spec
    across a batch (the sink's rewrite used to flatten it), and holds the
    seed plus the batch's signed delta."""
    from metadata_driven_etl_spark.io.writer import (
        ParquetFormat,
        partition_columns,
    )
    from metadata_driven_etl_spark.streaming.agg_maintenance_sink import (
        agg_maintenance_stream,
    )

    agg_t = "stream_ivm.part_agg"
    spark.sql(f"DROP TABLE IF EXISTS {agg_t}")
    spark.sql("CREATE DATABASE IF NOT EXISTS stream_ivm")
    fmt = ParquetFormat()
    seed = spark.createDataFrame(
        [("x", 1, 2, 10, None), ("y", 1, 1, 5, None)],
        "p string, g long, n_rows long, total long, _batch_id long",
    )
    fmt.overwrite(seed, agg_t, ["p"])
    src = str(tmp_path / "cdc")
    spark.createDataFrame(
        [("x", 1, 3, "insert"), ("y", 2, 7, "insert"), ("y", 1, 5, "delete")],
        "p string, g long, amt long, op string",
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "p string, g long, amt long, op string"
    ).parquet(src)
    q = agg_maintenance_stream(
        stream, agg_t, fmt, str(tmp_path / "ckpt"),
        group_keys=["p", "g"], sum_cols={"total": "amt"},
    )
    q.awaitTermination(120)

    assert partition_columns(spark, agg_t) == ["p"]
    got = {
        tuple(r)
        for r in spark.table(agg_t).select("p", "g", "n_rows", "total").collect()
    }
    assert got == {("x", 1, 3, 13), ("y", 2, 1, 7)}
    spark.sql(f"DROP TABLE IF EXISTS {agg_t}")
    spark.sql("DROP DATABASE IF EXISTS stream_ivm")


def test_ohlc_stream_equals_batch(spark, events_dir):
    """Streaming OHLC bars (min_by/max_by over tumbling windows) must
    equal the batch evaluation of the same expression — extremum
    partial states merge associatively across micro-batches, so the
    two-file stream exercises real state merges."""
    from metadata_driven_etl_spark.streaming.windows import ohlc_window_agg

    stream = stream_from_files(spark, events_dir, EVENT_SCHEMA)
    _run_stream(ohlc_window_agg(stream), "t_ohlc")
    got = {
        (r.window_start, r.event_type): (
            r.open_cents, r.high_cents, r.low_cents, r.close_cents,
            r.n_ticks,
        )
        for r in spark.table("t_ohlc").collect()
    }
    batch = ohlc_window_agg(
        spark.read.schema(EVENT_SCHEMA).parquet(events_dir)
    )
    want = {
        (r.window_start, r.event_type): (
            r.open_cents, r.high_cents, r.low_cents, r.close_cents,
            r.n_ticks,
        )
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_stateful_cusum_matches_batch(spark, sf_dir, tmp_path_factory):
    """applyInPandasWithState CUSUM alerts == the batch clamp-identity
    workload, on chronologically sliced micro-batches with a far-future
    sentinel flushing the pending buffers via the event-time timeout."""
    import datetime
    import time as _time

    from pyspark.sql import Window

    from metadata_driven_etl_spark.streaming.stateful import cusum_stateful

    # thresholds tuned so alerts exist at the test SF (sf0.001)
    k_cents, h_cents = 5_500, 20_000
    path = str(tmp_path_factory.mktemp("events_cusum"))
    events = load_table(spark, sf_dir, "events")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    split_ts = lo + (hi - lo) / 2
    for i, part_df in enumerate(
        [
            events.filter(F.col("ts") <= F.lit(split_ts)),
            events.filter(F.col("ts") > F.lit(split_ts)),
        ]
    ):
        part_df.coalesce(1).sortWithinPartitions("ts").write.mode(
            "overwrite"
        ).parquet(f"{path}/slice={i}")
        _time.sleep(1.1)
    sentinel = spark.createDataFrame(
        [(999_999_999, datetime.datetime(2100, 1, 1), -1, "sentinel", 0.0, "{}")],
        EVENT_SCHEMA,
    )
    sentinel.coalesce(1).write.mode("overwrite").parquet(f"{path}/slice=2")
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    q = (
        cusum_stateful(stream, k_cents=k_cents, h_cents=h_cents)
        .writeStream.format("memory")
        .queryName("t_cusum")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.event_type, r.event_id): r.cusum_cents
        for r in spark.table("t_cusum")
        .filter(F.col("event_type") != "sentinel")
        .collect()
    }

    # batch twin: the cusum_alerts_by_type clamp identity
    delta = (
        F.floor(F.col("value") * 100 + 0.5).cast("long") - k_cents
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = events.select(
        "event_type", "event_id", "ts", delta.alias("delta")
    ).withColumn("psum", F.sum("delta").over(w))
    s = F.col("psum") - F.least(F.lit(0), F.min("psum").over(w))
    want = {
        (r.event_type, r.event_id): r.cusum_cents
        for r in p.select(
            "event_type", "event_id", s.alias("cusum_cents")
        )
        .filter(F.col("cusum_cents") > h_cents)
        .collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.slow
def test_stateful_rolling_zscore_matches_batch(
    spark, sf_dir, tmp_path_factory
):
    """applyInPandasWithState trailing z-score alerts == the batch
    window_rolling_zscore identity (bit-identical doubles: exact int64
    moments, one float chain), on chronologically sliced micro-batches
    with a far-future sentinel flushing pending buffers."""
    import datetime
    import time as _time

    from pyspark.sql import Window

    from metadata_driven_etl_spark.streaming.stateful import (
        rolling_zscore_stateful,
    )

    win_rows, z_thresh = 100, 3
    path = str(tmp_path_factory.mktemp("events_zscore"))
    events = load_table(spark, sf_dir, "events")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    split_ts = lo + (hi - lo) / 2
    for i, part_df in enumerate(
        [
            events.filter(F.col("ts") <= F.lit(split_ts)),
            events.filter(F.col("ts") > F.lit(split_ts)),
        ]
    ):
        part_df.coalesce(1).sortWithinPartitions("ts").write.mode(
            "overwrite"
        ).parquet(f"{path}/slice={i}")
        _time.sleep(1.1)
    sentinel = spark.createDataFrame(
        [(999_999_999, datetime.datetime(2100, 1, 1), -1, "sentinel", 0.0, "{}")],
        EVENT_SCHEMA,
    )
    sentinel.coalesce(1).write.mode("overwrite").parquet(f"{path}/slice=2")
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    q = (
        rolling_zscore_stateful(
            stream, win_rows=win_rows, z_thresh=z_thresh
        )
        .writeStream.format("memory")
        .queryName("t_zscore")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.event_type, r.event_id): r.zscore
        for r in spark.table("t_zscore")
        .filter(F.col("event_type") != "sentinel")
        .collect()
    }

    # batch twin: the window_rolling_zscore exact-moment identity
    x = F.floor(F.col("value") * 100 + 0.5).cast("long")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(win_rows - 1), 0)
    )
    m = events.select(
        "event_type", "event_id", "ts", x.alias("x")
    ).select(
        "event_type", "event_id", "x",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("s2"),
    )
    var_num = F.col("n") * F.col("s2") - F.col("s") * F.col("s")
    z = (
        (F.col("n") * F.col("x") - F.col("s")).cast("double")
        / F.sqrt(var_num.cast("double"))
    )
    want = {
        (r.event_type, r.event_id): r.zscore
        for r in m.filter(var_num > 0)
        .select("event_type", "event_id", z.alias("zscore"))
        .filter((F.col("zscore") > z_thresh) | (F.col("zscore") < -z_thresh))
        .collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.slow
def test_stateful_drawdown_matches_batch(spark, sf_dir, tmp_path_factory):
    """applyInPandasWithState new-max-drawdown alerts == the batch
    prefix-sum/running-max identity, on chronologically sliced
    micro-batches with the far-future sentinel flushing the pending
    buffers via the event-time timeout."""
    import datetime
    import time as _time

    from pyspark.sql import Window

    from metadata_driven_etl_spark.streaming.stateful import (
        drawdown_stateful,
    )

    path = str(tmp_path_factory.mktemp("events_drawdown"))
    events = load_table(spark, sf_dir, "events")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    split_ts = lo + (hi - lo) / 2
    for i, part_df in enumerate(
        [
            events.filter(F.col("ts") <= F.lit(split_ts)),
            events.filter(F.col("ts") > F.lit(split_ts)),
        ]
    ):
        part_df.coalesce(1).sortWithinPartitions("ts").write.mode(
            "overwrite"
        ).parquet(f"{path}/slice={i}")
        _time.sleep(1.1)
    sentinel = spark.createDataFrame(
        [(999_999_999, datetime.datetime(2100, 1, 1), -1, "sentinel", 0.0, "{}")],
        EVENT_SCHEMA,
    )
    sentinel.coalesce(1).write.mode("overwrite").parquet(f"{path}/slice=2")
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    # drift at ~the mean event value so the net series meanders and
    # drawdowns exist at the test SF (an all-positive raw stream never
    # draws down)
    drift = 5_500
    q = (
        drawdown_stateful(stream, drift_cents=drift)
        .writeStream.format("memory")
        .queryName("t_drawdown")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.event_type, r.event_id): r.drawdown_cents
        for r in spark.table("t_drawdown")
        .filter(F.col("event_type") != "sentinel")
        .collect()
    }

    # batch twin: cum prefix sum, peak = max(0, running max cum),
    # emit rows whose drawdown strictly exceeds every previous one
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long") - drift
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wprev = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    p = (
        events.select(
            "event_type", "event_id", "ts", cents.alias("cents")
        )
        .withColumn("cum", F.sum("cents").over(w))
        .withColumn(
            "peak", F.greatest(F.lit(0), F.max("cum").over(w))
        )
        .withColumn("dd", F.col("peak") - F.col("cum"))
        .withColumn(
            "prev_max",
            F.coalesce(F.max("dd").over(wprev), F.lit(0)),
        )
    )
    want = {
        (r.event_type, r.event_id): r.dd
        for r in p.filter(F.col("dd") > F.col("prev_max")).collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.slow
def test_stateful_gap_record_matches_batch(spark, sf_dir, tmp_path_factory):
    """applyInPandasWithState record-silence alerts == the batch
    lag + strictly-earlier running-max identity (the
    silence_record_alerts workload shape), on chronologically sliced
    micro-batches with the far-future sentinel flushing the pending
    buffers via the event-time timeout."""
    import datetime
    import time as _time

    from pyspark.sql import Window

    from metadata_driven_etl_spark.streaming.stateful import (
        gap_record_stateful,
    )

    path = str(tmp_path_factory.mktemp("events_gap_record"))
    events = load_table(spark, sf_dir, "events")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    split_ts = lo + (hi - lo) / 2
    for i, part_df in enumerate(
        [
            events.filter(F.col("ts") <= F.lit(split_ts)),
            events.filter(F.col("ts") > F.lit(split_ts)),
        ]
    ):
        part_df.coalesce(1).sortWithinPartitions("ts").write.mode(
            "overwrite"
        ).parquet(f"{path}/slice={i}")
        _time.sleep(1.1)
    sentinel = spark.createDataFrame(
        [(999_999_999, datetime.datetime(2100, 1, 1), -1, "sentinel", 0.0, "{}")],
        EVENT_SCHEMA,
    )
    sentinel.coalesce(1).write.mode("overwrite").parquet(f"{path}/slice=2")
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    q = (
        gap_record_stateful(stream)
        .writeStream.format("memory")
        .queryName("t_gap_record")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.event_type, r.event_id): r.gap_us
        for r in spark.table("t_gap_record")
        .filter(F.col("event_type") != "sentinel")
        .collect()
    }

    # batch twin: lag gap + running max over STRICTLY EARLIER gaps
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = (
        events.where(F.col("user_id").isNotNull())
        .select(
            "event_type", "event_id",
            (
                F.unix_micros(F.col("ts"))
                - F.unix_micros(F.lag("ts").over(w))
            ).alias("gap_us"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("gap_us").isNotNull())
    )
    wm = (
        Window.partitionBy("event_type")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = g.select(
        "event_type", "event_id", "gap_us",
        F.max("gap_us").over(wm).alias("prev_max"),
    )
    want = {
        (row.event_type, row.event_id): row.gap_us
        for row in r.where(
            F.col("prev_max").isNull()
            | (F.col("gap_us") > F.col("prev_max"))
        ).collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.slow
def test_stateful_lateness_monitor_matches_batch(
    spark, sf_dir, tmp_path_factory
):
    """applyInPandasWithState lateness monitor == the batch
    out_of_order_arrival_stats workload, bit-for-bit, when the stream
    is replayed in ingestion (event_id) order — three event_id-range
    micro-batches, each sorted by event_id. Unlike the event-time-
    ordered twins there is no pending buffer to flush: the final
    cumulative snapshot per key IS the answer."""
    from metadata_driven_etl_spark import workloads
    from metadata_driven_etl_spark.streaming.stateful import (
        lateness_monitor_stateful,
    )

    path = str(tmp_path_factory.mktemp("events_lateness"))
    events = load_table(spark, sf_dir, "events")
    lo, hi = events.agg(F.min("event_id"), F.max("event_id")).first()
    b1 = lo + (hi - lo) // 3
    b2 = lo + 2 * (hi - lo) // 3
    slices = [
        events.filter(F.col("event_id") <= b1),
        events.filter((F.col("event_id") > b1) & (F.col("event_id") <= b2)),
        events.filter(F.col("event_id") > b2),
    ]
    import time as _time

    for i, part_df in enumerate(slices):
        part_df.coalesce(1).sortWithinPartitions("event_id").write.mode(
            "overwrite"
        ).parquet(f"{path}/slice={i}")
        _time.sleep(1.1)  # file mtime order drives trigger order
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    q = (
        lateness_monitor_stateful(stream)
        .writeStream.format("memory")
        .queryName("t_lateness_monitor")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.table("t_lateness_monitor").collect()
    assert rows, "no snapshots emitted"
    got = {}
    for r in rows:  # latest cumulative snapshot per key
        cur = got.get(r.event_type)
        if cur is None or r.n_events > cur[0]:
            got[r.event_type] = (
                r.n_events, r.n_late, r.max_late_us, r.total_late_us
            )

    batch = workloads.QUERIES["out_of_order_arrival_stats"](spark, sf_dir)
    want = {
        r.event_type: (
            r.n_events, r.n_late, r.max_late_us, r.total_late_us
        )
        for r in batch.collect()
    }
    # the testdata's ts is monotone in event_id, so the natural-order
    # replay proves the NO-FALSE-POSITIVE side (all-zero lateness,
    # matching the workload exactly)
    assert got == want and sum(v[1] for v in want.values()) == 0


def test_stateful_lateness_monitor_detects_disorder(
    spark, sf_dir, tmp_path_factory
):
    """Same twin under a DISORDERED arrival permutation (event_id XOR 1
    swaps adjacent pairs, so with monotone ts every odd-first pair makes
    its even partner late): the streaming fold must equal the batch
    formula computed over the same permuted ingestion order, and the
    lateness counters must actually bite."""
    import time as _time

    from pyspark.sql import Window

    from metadata_driven_etl_spark.streaming.stateful import (
        lateness_monitor_stateful,
    )

    path = str(tmp_path_factory.mktemp("events_lateness_perm"))
    events = load_table(spark, sf_dir, "events").withColumn(
        "event_id", F.col("event_id").bitwiseXOR(F.lit(1))
    )
    lo, hi = events.agg(F.min("event_id"), F.max("event_id")).first()
    b1 = lo + (hi - lo) // 2
    slices = [
        events.filter(F.col("event_id") <= b1),
        events.filter(F.col("event_id") > b1),
    ]
    for i, part_df in enumerate(slices):
        part_df.coalesce(1).sortWithinPartitions("event_id").write.mode(
            "overwrite"
        ).parquet(f"{path}/slice={i}")
        _time.sleep(1.1)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    q = (
        lateness_monitor_stateful(stream)
        .writeStream.format("memory")
        .queryName("t_lateness_perm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {}
    for r in spark.table("t_lateness_perm").collect():
        cur = got.get(r.event_type)
        if cur is None or r.n_events > cur[0]:
            got[r.event_type] = (
                r.n_events, r.n_late, r.max_late_us, r.total_late_us
            )

    # batch formula over the same permuted ingestion order
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    x = events.select(
        "event_type",
        F.unix_micros("ts").alias("tus"),
        "event_id",
    ).select("event_type", "tus", F.max("tus").over(w).alias("mx"))
    late = F.when(
        F.col("mx").isNotNull() & (F.col("mx") > F.col("tus")),
        F.col("mx") - F.col("tus"),
    ).otherwise(F.lit(0).cast("long"))
    is_late = F.when(
        F.col("mx").isNotNull() & (F.col("mx") > F.col("tus")), 1
    ).otherwise(0)
    want = {
        r.event_type: (r.n, r.nl, r.ml, r.tl)
        for r in x.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(is_late).cast("long").alias("nl"),
            F.max(late).cast("long").alias("ml"),
            F.sum(late).cast("long").alias("tl"),
        ).collect()
    }
    assert got == want
    assert sum(v[1] for v in want.values()) > 0, "permutation must bite"


def test_stateful_lateness_monitor_pre_epoch(spark, tmp_path_factory):
    """ADVICE r11: pre-1970 timestamps have NEGATIVE unix micros — a
    '-1 means no max yet' sentinel would never fold them into the
    running maximum and never count them late, silently breaking the
    stream≡batch bit-parity contract.  Synthetic 1969 events with a
    disordered pair per type must match the batch window formula (whose
    MAX starts NULL) exactly, and lateness must actually bite."""
    import time as _time

    from pyspark.sql import Window

    from metadata_driven_etl_spark.streaming.stateful import (
        lateness_monitor_stateful,
    )

    path = str(tmp_path_factory.mktemp("events_lateness_preepoch"))
    # arrival order = event_id; per type: t=-100s, -300s (LATE by 200s),
    # -50s — every timestamp is pre-epoch (negative micros)
    rows = [
        (1, "1969-12-31 23:58:20", 1, "a", 0.0, "{}"),
        (2, "1969-12-31 23:55:00", 1, "a", 0.0, "{}"),
        (3, "1969-12-31 23:59:10", 1, "a", 0.0, "{}"),
        (4, "1969-06-01 00:00:30", 2, "b", 0.0, "{}"),
        (5, "1969-06-01 00:00:00", 2, "b", 0.0, "{}"),
    ]
    events = spark.createDataFrame(
        [(i, __import__("datetime").datetime.fromisoformat(ts), u, et, v, p)
         for i, ts, u, et, v, p in rows],
        schema=EVENT_SCHEMA,
    )
    slices = [
        events.filter(F.col("event_id") <= 2),
        events.filter(F.col("event_id") > 2),
    ]
    for i, part_df in enumerate(slices):
        part_df.coalesce(1).sortWithinPartitions("event_id").write.mode(
            "overwrite"
        ).parquet(f"{path}/slice={i}")
        _time.sleep(1.1)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    q = (
        lateness_monitor_stateful(stream)
        .writeStream.format("memory")
        .queryName("t_lateness_preepoch")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {}
    for r in spark.table("t_lateness_preepoch").collect():
        cur = got.get(r.event_type)
        if cur is None or r.n_events > cur[0]:
            got[r.event_type] = (
                r.n_events, r.n_late, r.max_late_us, r.total_late_us
            )

    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    x = events.select(
        "event_type", F.unix_micros("ts").alias("tus"), "event_id"
    ).select("event_type", "tus", F.max("tus").over(w).alias("mx"))
    late = F.when(
        F.col("mx").isNotNull() & (F.col("mx") > F.col("tus")),
        F.col("mx") - F.col("tus"),
    ).otherwise(F.lit(0).cast("long"))
    is_late = F.when(
        F.col("mx").isNotNull() & (F.col("mx") > F.col("tus")), 1
    ).otherwise(0)
    want = {
        r.event_type: (r.n, r.nl, r.ml, r.tl)
        for r in x.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(is_late).cast("long").alias("nl"),
            F.max(late).cast("long").alias("ml"),
            F.sum(late).cast("long").alias("tl"),
        ).collect()
    }
    assert got == want
    assert want["a"][1] == 1 and want["b"][1] == 1, "lateness must bite"


def test_stateful_active_days_matches_batch_any_order(
    spark, sf_dir, tmp_path_factory
):
    """Sixth twin — the SET-UNION point of the taxonomy: distinct
    active days per user is commutative in arrival order, so an
    ADVERSARIAL interleaving (slices by event_id mod 3 — each slice
    scatters every user's timeline across the full time range, the
    opposite of ingestion order) must still reproduce the batch
    count bit-for-bit, with no pending buffer and no watermark."""
    import time as _time

    from metadata_driven_etl_spark.streaming.stateful import (
        active_days_monitor_stateful,
    )

    path = str(tmp_path_factory.mktemp("events_active_days"))
    events = load_table(spark, sf_dir, "events")
    slices = [
        events.filter(F.col("event_id") % 3 == i) for i in range(3)
    ]
    for i, part_df in enumerate(slices):
        part_df.coalesce(1).write.mode("overwrite").parquet(
            f"{path}/slice={i}"
        )
        _time.sleep(1.1)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    q = (
        active_days_monitor_stateful(stream)
        .writeStream.format("memory")
        .queryName("t_active_days")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {}
    seen_updates = 0
    for r in spark.table("t_active_days").collect():
        seen_updates += 1
        cur = got.get(r.user_id)
        if cur is None or r.n_active_days >= cur:
            got[r.user_id] = r.n_active_days

    want = {
        r.user_id: r.n
        for r in events.groupBy("user_id")
        .agg(F.countDistinct(F.to_date("ts")).cast("long").alias("n"))
        .collect()
    }
    assert got == want
    # the interleaving must actually exercise cross-batch state growth:
    # more snapshot rows than users means keys were updated in multiple
    # micro-batches
    assert seen_updates > len(want)
