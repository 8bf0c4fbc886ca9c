"""Medallion-layer pipeline runners (the engine's orchestration core).

Re-derivation of the reference's bronze/silver/gold modules (reference
src/modules/{bronze,silver,gold}_layer.py, ~1100 LoC) with the semantics
fixed per SURVEY.md §2.14:

- incremental bronze extracts STRICTLY AFTER the last run date (#6: the
  reference re-extracts >= last_run_date with append → boundary-date dups),
- silver incremental writes replace only the partitions produced, never the
  table history (#7: the reference combines an incremental filter with full
  overwrite — each run silently discards history),
- gold incremental refresh MERGEs on primary keys through the TableFormat
  seam (Delta-native when available),
- one count per unit via ``df.observe`` — the reference runs count() then
  write(), executing every plan twice (§4.3),
- per-unit error isolation (M10): a failing unit logs ERROR and the
  pipeline continues,
- parameters are bound as typed literals via Spark SQL named parameters,
  never textual splicing (#4).
"""

from __future__ import annotations

import dataclasses
import importlib
import re
import time
from collections.abc import Iterator, Sequence
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from metadata_driven_etl_spark.config.model import (
    GoldModel,
    PipelineConfig,
    SilverTransform,
    SourceConfig,
    unit_id,
)
from metadata_driven_etl_spark.dq.engine import DataQualityEngine
from metadata_driven_etl_spark.io.writer import TableFormat, checkpoint, owned
from metadata_driven_etl_spark.metadata.audit import AuditLogger
from metadata_driven_etl_spark.metadata.control import ControlTable
from metadata_driven_etl_spark.metadata.metrics import DataDictionary, DQMetricsStore
from metadata_driven_etl_spark.operators import merge as merge_ops
from metadata_driven_etl_spark.operators.projections import with_lineage
from metadata_driven_etl_spark.sources.jdbc import build_jdbc_reader
from metadata_driven_etl_spark.sources.readers import read_file_source
from metadata_driven_etl_spark.sources.rest_api import read_api_source


@dataclass
class UnitResult:
    unit_id: str
    target_table: str
    status: str  # success | error | skipped
    rows: int = 0
    seconds: float = 0.0
    error: str | None = None


@dataclass
class PipelineContext:
    """Shared services for all layers — one construction point, reused
    (the reference re-creates metadata managers per layer object, which —
    combined with its destructive init — wipes history; §4.3)."""

    spark: SparkSession
    table_format: TableFormat
    control: ControlTable = None  # type: ignore[assignment]
    audit: AuditLogger = None  # type: ignore[assignment]
    dq_metrics: DQMetricsStore = None  # type: ignore[assignment]
    dictionary: DataDictionary = None  # type: ignore[assignment]

    def __post_init__(self):
        self.spark.sql("CREATE DATABASE IF NOT EXISTS metadata")
        if self.control is None:
            self.control = ControlTable(self.spark, self.table_format)
        if self.audit is None:
            self.audit = AuditLogger(self.spark, self.table_format)
        if self.dq_metrics is None:
            self.dq_metrics = DQMetricsStore(self.spark, self.table_format)
        if self.dictionary is None:
            self.dictionary = DataDictionary(self.spark, self.table_format)


def _counted_write(df: DataFrame, write_fn) -> int:
    """Write once, count from an Observation — no second plan execution."""
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    write_fn(observed)
    return int(obs.get["rows"])


def snapshot_copy(target_table: str) -> str:
    """The table a ``refresh_type: delta`` model keeps its last maintained
    snapshot in."""
    return f"{target_table}__maintained_snapshot"


def _config_strings(obj) -> Iterator[str]:
    """Every string in a unit's config, nested sections included."""
    if isinstance(obj, str):
        yield obj
    elif dataclasses.is_dataclass(obj):
        for f in dataclasses.fields(obj):
            yield from _config_strings(getattr(obj, f.name))
    elif isinstance(obj, dict):
        for k, v in obj.items():
            yield from _config_strings(k)
            yield from _config_strings(v)
    elif isinstance(obj, (list, tuple)):
        for v in obj:
            yield from _config_strings(v)


def _written_tables(unit) -> set[str]:
    tables = {unit.target_table.lower()}
    if getattr(unit, "refresh_type", None) == "delta":
        tables.add(snapshot_copy(unit.target_table).lower())
    return tables


def unit_dependencies(units: Sequence) -> list[set[int]]:
    """For each unit, the indices of the earlier units it must wait for.

    Two units conflict when they write a same table, or when either
    unit's config names a table the other writes, anywhere: SQL text,
    ``source_table``, a DQ ``ref_table``, an enrichment ``right_table``,
    ``event.source_table``, ``snapshot_table``, a corpus ``input_table``.
    The match is conservative: the whole table name, case-insensitive,
    backticks ignored, wherever it stands in any string of the config. A
    false match only serializes two units."""
    writes = [_written_tables(u) for u in units]
    texts = [
        "\n".join(_config_strings(u)).lower().replace("`", "") for u in units
    ]

    def names(text: str, tables: set[str]) -> bool:
        return any(
            re.search(rf"(?<!\w){re.escape(t)}(?!\w)", text) for t in tables
        )

    return [
        {
            i for i in range(j)
            if writes[i] & writes[j]
            or names(texts[j], writes[i])
            or names(texts[i], writes[j])
        }
        for j in range(len(units))
    ]


class _LayerBase:
    layer_name = "?"

    def __init__(self, ctx: PipelineContext, config: PipelineConfig):
        self.ctx = ctx
        self.config = config
        for k, v in config.defaults.spark_conf.items():
            try:
                self.ctx.spark.conf.set(k, v)
            except Exception:
                pass  # static confs can't change at runtime; defaults apply

    def _sql(self, sql_query: str, run_date: str) -> DataFrame:
        """Execute config SQL with the date bound as a Spark SQL named
        parameter (never string-spliced)."""
        q = sql_query.replace("'${PROCESSING_DATE}'", ":processing_date").replace(
            "${PROCESSING_DATE}", ":processing_date"
        )
        return self.ctx.spark.sql(q, args={"processing_date": run_date})

    def _run_unit(self, unit, runner) -> UnitResult:
        """Run one unit in an ``owned`` block: every checkpoint the unit
        makes is released when it ends, and it hands back only a count."""
        uid = unit_id(unit)
        if not unit.enabled:
            return UnitResult(uid, unit.target_table, "skipped")
        t0 = time.perf_counter()
        self.ctx.audit.log_start(
            self.layer_name, "process", uid, target_table=unit.target_table
        )
        try:
            with owned():
                rows = runner(unit)
            secs = round(time.perf_counter() - t0, 3)
            self.ctx.audit.log_success(
                self.layer_name, "process", uid, secs,
                rows_processed=rows, target_table=unit.target_table,
            )
            return UnitResult(uid, unit.target_table, "success", rows, secs)
        except Exception as e:  # per-unit isolation (M10)
            secs = round(time.perf_counter() - t0, 3)
            self.ctx.audit.log_error(
                self.layer_name, "process", uid, e, secs,
                target_table=unit.target_table,
            )
            return UnitResult(uid, unit.target_table, "error", 0, secs, str(e))

    def _run_units(self, units, runner) -> list[UnitResult]:
        """Run a layer's units, independent ones concurrently, in
        dependency order.

        The reference executes sources/transforms/models strictly
        sequentially (SURVEY.md §3), so the cluster idles while each
        unit's handful of small jobs runs. Here a unit waits only for the
        earlier units of its layer (config order) it conflicts with
        (:func:`unit_dependencies`); every other unit starts as soon as
        those have finished. Units run from a pool of at most
        ``defaultParallelism`` threads, each started through
        ``inheritable_thread_target``, so the caller's job group and local
        properties reach the unit's jobs. Spark's scheduler interleaves
        the jobs; each metadata store serializes its commits under its
        own lock (``metadata.store``). A layer of one unit, or a context
        of one core, runs in the calling thread.

        Results come back in config order, each unit's errors stay its
        own, and the audit rows the units buffered are appended once, when
        the layer ends, even when it ends by raising.
        """
        try:
            return self._schedule(list(units), runner)
        finally:
            self.ctx.audit.flush()

    def _schedule(self, units: list, runner) -> list[UnitResult]:
        spark = self.ctx.spark
        width = min(len(units), spark.sparkContext.defaultParallelism)
        if width <= 1:
            return [self._run_unit(u, runner) for u in units]
        waiting = dict(enumerate(unit_dependencies(units)))
        results: list[UnitResult | None] = [None] * len(units)
        running: dict[Future, int] = {}
        pool = ThreadPoolExecutor(max_workers=width)
        try:
            while waiting or running:
                for i in [i for i, deps in waiting.items() if not deps]:
                    del waiting[i]
                    # wrapped here, in the caller's thread, so each unit
                    # gets a copy of the caller's local properties. With
                    # PYSPARK_PIN_THREAD=false threads share them and
                    # PySpark hands the session back instead.
                    inherit = inheritable_thread_target(spark)
                    run = self._run_unit
                    if callable(inherit):
                        run = inherit(run)
                    running[pool.submit(run, units[i], runner)] = i
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for f in done:
                    i = running.pop(f)
                    results[i] = f.result()
                    for deps in waiting.values():
                        deps.discard(i)
        finally:
            pool.shutdown(wait=True, cancel_futures=True)
        return list(results)  # config order


class BronzeLayer(_LayerBase):
    """Config-driven raw ingestion (M1, M2)."""

    layer_name = "bronze"

    def run(self, run_date: str) -> list[UnitResult]:
        return self._run_units(
            self.config.sources, lambda s: self._ingest(s, run_date)
        )

    def _extract(self, src: SourceConfig, run_date: str) -> DataFrame:
        spark = self.ctx.spark
        if src.source_type == "file":
            return read_file_source(spark, src)
        if src.source_type == "table":
            return spark.table(src.source_path or src.source_id)
        if src.source_type == "jdbc":
            extract_date = self._extract_date(src, run_date)
            return build_jdbc_reader(spark, src, extract_date=extract_date).load()
        if src.source_type == "api":
            return read_api_source(spark, src)
        raise ValueError(f"unknown source_type {src.source_type!r}")

    def _extract_date(self, src: SourceConfig, run_date: str) -> str:
        if src.extract_strategy != "incremental":
            return run_date
        last = self.ctx.control.get_last_run_date(src.target_table, self.layer_name)
        return last or run_date

    def _ingest(self, src: SourceConfig, run_date: str) -> int:
        df = self._extract(src, run_date)
        incremental = (
            src.extract_strategy == "incremental" and src.incremental_column
        )
        if incremental:
            from datetime import date as _date
            from datetime import timedelta as _td

            col_type = dict(df.dtypes)[src.incremental_column]
            last = self.ctx.control.get_last_run_date(
                src.target_table, self.layer_name
            )
            if last:
                # STRICTLY after the last run date: re-running never
                # duplicates the boundary date (reference bug §2.14#6:
                # >= + append → dups). Expressed as `col >= next_day` with
                # the literal cast to the column's own type so the
                # predicate pushes into the parquet scan (a per-row
                # cast(col as date) would disable pushdown).
                next_day = (_date.fromisoformat(last) + _td(days=1)).isoformat()
                df = df.filter(
                    F.col(src.incremental_column)
                    >= F.lit(next_day).cast(col_type)
                )
            # Upper bound: only rows dated THROUGH run_date. Without it a
            # backfill replay ingests future-dated rows once per date —
            # first unbounded, then again via later dates' strictly-after
            # filter (duplicates). `< run_date+1d` covers date AND
            # timestamp columns; same pushdown-safe literal-cast shape.
            day_after = (
                _date.fromisoformat(run_date) + _td(days=1)
            ).isoformat()
            df = df.filter(
                F.col(src.incremental_column) < F.lit(day_after).cast(col_type)
            )
        df = with_lineage(df, src.source_id)
        if incremental:
            write = lambda d: self.ctx.table_format.append(d, src.target_table)  # noqa: E731
        else:
            # Full-strategy extracts replace THIS SOURCE's snapshot:
            # appending would multiply bronze on every re-run/backfill
            # date (silently inflating downstream silver/gold aggregates),
            # and a whole-table overwrite would clobber sibling sources
            # fanning into the same table. The lineage column source_id is
            # the natural partition: dynamic partition overwrite replaces
            # exactly this source's rows, leaving other sources' data and
            # unrelated partitions untouched — replay-idempotent AND
            # fan-in-safe, and at 100 TB it rewrites one partition, never
            # the table. (Units sharing a target table are serialized by
            # _run_units, so no table sees concurrent writers.)
            write = lambda d: self.ctx.table_format.overwrite_partitions(  # noqa: E731
                d, src.target_table, ["source_id"]
            )
        rows = _counted_write(df, write)
        self.ctx.control.update_run(
            src.target_table, self.layer_name, run_date, rows, "success",
            {"source_id": src.source_id, "strategy": src.extract_strategy},
        )
        return rows


class SilverLayer(_LayerBase):
    """Config-driven SQL transforms + single-pass DQ (M3-M6)."""

    layer_name = "silver"

    def __init__(self, ctx: PipelineContext, config: PipelineConfig):
        super().__init__(ctx, config)
        self.dq = DataQualityEngine(ctx.spark)

    def run(self, run_date: str) -> list[UnitResult]:
        return self._run_units(
            self.config.transformations, lambda t: self._transform(t, run_date)
        )

    def _enrich(self, df: DataFrame, t: SilverTransform) -> DataFrame:
        """Apply declared enrichments in order (VERDICT r6 item 5: the
        as-of lookup was API-only; the engine's idiom is YAML). Runs
        BEFORE DQ so rules can validate enriched columns. Each asof entry
        is one key-partitioned window over the unioned stream — never an
        |L|x|R| theta join (operators/temporal.py:asof_join)."""
        if not t.enrichments:
            return df
        from metadata_driven_etl_spark.operators.temporal import asof_join

        for e in t.enrichments:
            right = self.ctx.spark.table(e.right_table)
            df = asof_join(
                df,
                right,
                key=list(e.keys),
                left_ts=e.left_ts,
                right_ts=e.right_ts,
                right_cols=list(e.right_cols),
                prefix=e.prefix,
                direction=e.direction,
                tolerance_seconds=e.tolerance_seconds,
            )
        return df

    def _transform(self, t: SilverTransform, run_date: str) -> int:
        df = self._sql(t.sql_query, run_date)
        df = self._enrich(df, t)
        # a rejected batch raises here, before the table is touched; else
        # result.df is the unit's checkpoint of the DQ output
        result = self.dq.apply(df, list(t.data_quality))
        self.ctx.dq_metrics.record(t.target_table, run_date, result.metrics)

        fmt, parts = self.ctx.table_format, list(t.partition_by)
        if "${PROCESSING_DATE}" in t.sql_query and parts:
            # replace only the partitions this run produced (§2.14#7)
            write = lambda d: fmt.overwrite_partitions(d, t.target_table, parts)  # noqa: E731
        else:
            write = lambda d: fmt.overwrite(d, t.target_table, parts or None)  # noqa: E731
        rows = _counted_write(result.df, write)
        self.ctx.control.update_run(
            t.target_table, self.layer_name, run_date, rows, "success",
            {"transform_id": t.transform_id},
        )
        self.ctx.dictionary.register(t.target_table, result.df)
        return rows


class GoldLayer(_LayerBase):
    """Config-driven analytics models with full/incremental refresh (M7)."""

    layer_name = "gold"

    def run(self, run_date: str) -> list[UnitResult]:
        return self._run_units(
            self.config.models, lambda m: self._model(m, run_date)
        )

    def _event_frame(self, m: GoldModel) -> DataFrame:
        """``model_type: event`` — call the declared analysis's operator
        (its ``config.model.EVENT_OPERATORS`` row), the SAME function the
        API exposes, so a YAML event model and a direct composition are
        one computation (e2e parity in test_pipeline_e2e.py). The name is
        looked up at call time, so a wrapped module attribute is the one
        called."""
        from metadata_driven_etl_spark.operators import (
            temporal as temporal_ops,
        )

        e = m.event
        module, name, params = e.operator
        kwargs = {p: getattr(e, p) for p in params}
        events = self.ctx.spark.table(e.source_table)
        if e.scope == "session":
            # funnel only: re-key to (user, session) composites; the
            # session gap bounds the chain instead of the step clock (an
            # interval >> any session span: order alone gates)
            events = temporal_ops.session_scoped(
                events,
                user_col=e.user_col,
                ts_col=e.ts_col,
                order_col=e.order_col,
                gap_seconds=e.gap_seconds,
            )
            kwargs.update(user_col="_sk", window="3650 days")
        ops = importlib.import_module(
            f"metadata_driven_etl_spark.operators.{module}"
        )
        return getattr(ops, name)(events, **kwargs)

    def _model(self, m: GoldModel, run_date: str) -> int:
        if m.refresh_type == "delta":
            return self._delta_model(m, run_date)
        if m.refresh_type == "scd2":
            return self._scd2_model(m, run_date)
        df = (
            self._event_frame(m)
            if m.model_type == "event"
            else self._sql(m.sql_query, run_date)
        ).withColumn("gold_insert_timestamp", F.current_timestamp())
        fmt, spark = self.ctx.table_format, self.ctx.spark
        if m.refresh_type == "incremental" and fmt.table_exists(
            spark, m.target_table
        ):
            # the merge persists its source, so the model runs once
            rows = fmt.merge(spark, m.target_table, df, list(m.primary_keys))
        else:
            rows = _counted_write(
                df,
                lambda d: fmt.overwrite(
                    d, m.target_table, list(m.partition_by) or None
                ),
            )
        self.ctx.control.update_run(
            m.target_table, self.layer_name, run_date, rows, "success",
            {"model_id": m.model_id, "refresh_type": m.refresh_type},
        )
        self.ctx.dictionary.register(m.target_table, df)
        return rows

    def _scd2_model(self, m: GoldModel, run_date: str) -> int:
        """``refresh_type: scd2`` — declarable Type-2 slowly-changing
        dimension (the warehouse pattern the reference's gold layer
        cannot express: its MERGE overwrites attrs in place, losing
        history — gold_layer.py:184-213 is SCD1 only). ``sql_query``
        yields the per-run source snapshot (business key + tracked
        attrs); first run initializes every row live
        (valid_from = run_date, valid_to NULL); later runs route the
        snapshot through operators.merge.scd2_apply — changed attrs
        close the live row at run_date and open a new version, new keys
        insert, closed history passes through untouched.

        Scale: the updates snapshot (small: one row per CURRENT entity)
        broadcasts into the live half of the dimension; history rows
        union through without a shuffle. The single non-atomic overwrite
        needs no commit-marker pair protocol (unlike _delta_model's two
        writes): a crashed run leaves the old target intact or fully
        replaced, and re-running the same run_date is idempotent —
        scd2_apply finds no attr changes the second time (same-snapshot
        re-close is impossible because comparison is against the NEW
        attrs)."""
        fmt, spark = self.ctx.table_format, self.ctx.spark
        key = m.primary_keys[0]
        attrs = list(m.scd2_attrs)
        updates = self._sql(m.sql_query, run_date).select(key, *attrs)
        if fmt.table_exists(spark, m.target_table):
            current = spark.table(m.target_table)
            df = merge_ops.scd2_apply(
                current, updates, key=key, attrs=attrs,
                effective_date=run_date,
            )
            mode = "scd2_maintain"
        else:
            df = updates.select(
                key, *attrs,
                F.lit(run_date).cast("date").alias("valid_from"),
                F.lit(None).cast("date").alias("valid_to"),
            )
            mode = "scd2_first_full"
        # the maintained path reads the target it overwrites
        rows = fmt.rewrite(df, m.target_table, list(m.partition_by) or None)
        self.ctx.control.update_run(
            m.target_table, self.layer_name, run_date, rows, "success",
            {
                "model_id": m.model_id, "refresh_type": m.refresh_type,
                "mode": mode,
            },
        )
        self.ctx.dictionary.register(m.target_table, df)
        return rows

    def _delta_model(self, m: GoldModel, run_date: str) -> int:
        """``refresh_type: delta`` — incremental view maintenance (M7 at
        100 TB). The target is the grouped COUNT/SUM aggregate of
        ``snapshot_table`` declared by group_keys/sum_cols. After the
        first (full) build the engine keeps the last maintained snapshot
        in ``<target>__maintained_snapshot``; each later run diffs the
        current snapshot against it and applies the ±1-weighted delta to
        the existing aggregate (operators.merge.incremental_agg_update)
        — cost scales with the CHANGE RATE, not the corpus size, and the
        result is provably identical to a full re-aggregation (the
        ``incremental_agg_orders`` driver row hash-checks exactly that
        equivalence; e2e YAML parity in test_pipeline_e2e.py).

        Steady-state plan: one full-outer join of two snapshots on
        ``snapshot_keys`` (each side shuffles once — zero Exchange when
        both snapshots are written bucketed on the key), then a tiny
        delta aggregate joined to the already-small target. The corpus
        is never re-aggregated after the first run.

        ``snapshot_buckets: N`` (N > 0) writes the maintained snapshot
        bucketed on ``snapshot_keys`` (TableFormat.overwrite_bucketed),
        so the diff's maintained side is pre-hash-partitioned on disk
        and joins with NO Exchange (plan-pinned in test_pipeline_e2e) —
        at 100 TB the snapshot pair is the only corpus-sized frame this
        path ever touches, and bucketing removes half that shuffle every
        cadence (all of it when the upstream ``snapshot_table`` is
        bucketed on the same keys by its own writer)."""
        fmt, spark = self.ctx.table_format, self.ctx.spark
        # ONE consistent snapshot image for BOTH the diff and the
        # maintained-snapshot write: a lazy re-read of snapshot_table at
        # the copy write would persist whatever an upstream writer landed
        # in between — a snapshot that does NOT match the applied delta,
        # silently skipping those rows' changes on every later run.
        new = checkpoint(spark.table(m.snapshot_table), eager=True)
        snap_copy = snapshot_copy(m.target_table)
        gks = list(m.group_keys)
        sum_cols = dict(m.sum_cols)
        # Crash-safety without a transactional store: the target write
        # and the snapshot advance are two non-atomic writes, and EITHER
        # stale half silently corrupts all later deltas (stale snapshot →
        # changes re-applied; advanced snapshot + stale target → changes
        # lost). The control row is the commit marker: mark the pair
        # in-flight, and a later run that finds anything but "success"
        # rebuilds from the full snapshot — always correct, and it
        # rewrites both tables, re-converging the pair.
        state = self.ctx.control.get_state(m.target_table, self.layer_name)
        prev_committed = state is not None and state["status"] == "success"
        maintainable = fmt.table_exists(spark, m.target_table) and (
            fmt.table_exists(spark, snap_copy)
        )
        self.ctx.control.update_run(
            m.target_table, self.layer_name, run_date, 0, "delta_inflight",
            {"model_id": m.model_id, "snapshot_table": m.snapshot_table},
        )
        if maintainable and prev_committed:
            refresh_mode = "delta_maintain"
            old = spark.table(snap_copy)
            base = spark.table(m.target_table).select(
                *gks, m.count_col, *sum_cols
            )
            df = merge_ops.incremental_agg_update(
                base, old, new,
                keys=list(m.snapshot_keys), group_keys=gks,
                sum_cols=sum_cols, count_col=m.count_col,
            )
        else:
            refresh_mode = (
                "delta_first_full" if not maintainable
                else "delta_full_recover"
            )
            df = new.groupBy(*gks).agg(
                F.count(F.lit(1)).alias(m.count_col),
                *[
                    F.sum(src).alias(alias)
                    for alias, src in sum_cols.items()
                ],
            )
        # Stamp the lineage column BEFORE the write so the dictionary
        # registers the frame that is actually written (the full-refresh
        # path registers WITH the timestamp; registering the pre-stamp
        # frame here would drop a real column from the schema record).
        # The maintained path reads the target it overwrites.
        df = df.withColumn("gold_insert_timestamp", F.current_timestamp())
        rows = fmt.rewrite(df, m.target_table, list(m.partition_by) or None)
        # Remember this snapshot for the next run's diff AFTER the target
        # write succeeded (a failed target write must not advance the
        # maintained-snapshot state, or the next diff would skip changes).
        if m.snapshot_buckets > 0:
            fmt.overwrite_bucketed(
                new, snap_copy, list(m.snapshot_keys), m.snapshot_buckets
            )
        else:
            fmt.overwrite(new, snap_copy, None)
        self.ctx.control.update_run(
            m.target_table, self.layer_name, run_date, rows, "success",
            {
                "model_id": m.model_id, "refresh_type": m.refresh_type,
                "mode": refresh_mode, "snapshot_table": m.snapshot_table,
            },
        )
        self.ctx.dictionary.register(m.target_table, df)
        return rows
