"""Temporal joins Spark has no native operator for: as-of and range joins.

The reference has neither (SURVEY.md §2.4: equi-joins only); these are the
standard time-series correlation primitives (kdb asof, DuckDB ASOF JOIN,
Flink temporal join) re-expressed as compositions of existing DataFrame
ops — per the engine's custom-operator policy (composition first, Pandas
UDF only when composition can't express the semantics).

Scale design:
- ``asof_join`` is the union trick: tag both sides, one hash shuffle on the
  key, one sort per partition, ``last(ignorenulls)`` window carries the
  most recent right-side values forward. O((|L|+|R|) log) per key group —
  never builds the |L|x|R| pair space a naive ``left.ts >= right.ts`` theta
  join would.
- ``range_join_binned`` buckets both sides into fixed time bins; candidate
  pairs only materialize within (key, bin) — the classic bin-bucketing
  rewrite for bounded-interval joins (what Databricks' range-join hint
  does). Bin width should be on the order of the window span: each left
  row probes ceil(span/bin)+1 bins.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from metadata_driven_etl_spark.io.writer import checkpoint


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str | Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] = (),
    prefix: str = "asof_",
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of join with pandas-``merge_asof`` semantics (LEFT: unmatched
    left rows keep NULLs).

    - ``direction="backward"`` (default): the LATEST right row with
      right.ts <= left.ts and matching key.
    - ``direction="forward"``: the EARLIEST right row with
      right.ts >= left.ts (the "next event after" query shape).
    - ``direction="nearest"``: whichever of those two is closer in
      time, ties to the backward match (pandas ``merge_asof``
      direction='nearest') — both carries run over the SAME union
      frame (two window passes, no alignment join), and the pick is a
      map-side exact comparison.
    - ``tolerance_seconds``: if set, a match farther than this from
      left.ts reads as NO match (all prefixed columns NULL) — the
      staleness bound every feature-store as-of lookup needs. Units are
      seconds for timestamp columns, native units for numeric ts
      columns. With ``nearest`` the bound applies per side BEFORE the
      pick (a too-stale backward match loses to an in-range forward
      one).

    Right timestamps should be unique per key (the standard as-of
    contract; with duplicates the latest-in-sort-order row wins,
    deterministically).

    The matched right row is carried ATOMICALLY as one struct through
    ``last(ignorenulls)`` — a right row whose VALUE column is NULL
    still matches as a row (its NULL is the answer), rather than
    letting an older row's non-NULL value bleed forward under a newer
    match timestamp (the per-column-carry defect a first draft had:
    values and tolerance distances could come from different rows).

    Plan shape is unchanged by the knobs: union + ONE key-partitioned
    window carrying the right-row struct across the time-sorted stream
    (TWO for ``nearest`` — one per sort direction) — never the |L|x|R|
    theta-join pair space; tolerance is a map-side CASE on the carried
    match timestamp afterward.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"asof_join: direction must be 'backward', 'forward' or "
            f"'nearest', got {direction!r}"
        )
    keys = [key] if isinstance(key, str) else list(key)
    reserved = {"_asof_is_left", "_asof_ts", "_asof_src", "_asof_m",
                "_asof_mb", "_asof_mf"}
    clashes = reserved & set(left.columns)
    if clashes:
        raise ValueError(
            f"asof_join: left columns {sorted(clashes)} collide with "
            "reserved helper names"
        )
    if "_mts" in right_cols:
        raise ValueError(
            "asof_join: right_cols may not contain the reserved struct "
            "field '_mts'"
        )
    u, marker, ts, src = _asof_union(
        left, right, keys, left_ts, right_ts, right_cols
    )

    def carry(order_desc: bool) -> Column:
        # right rows (marker 0) sort BEFORE left rows at equal ts → the
        # match is inclusive in both directions; last(ignorenulls) of
        # the ROW STRUCT carries the whole matched row along the
        # (a/de)scending time stream
        order = F.col(ts).desc() if order_desc else F.col(ts)
        w = (
            Window.partitionBy(*keys)
            .orderBy(order, F.col(marker))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return F.last(src, ignorenulls=True).over(w)

    tol = _asof_tolerance(right, right_ts, tolerance_seconds)

    def gap(m: Column, forward: bool) -> Column:
        a = _asof_num(right, right_ts, m["_mts"])
        b = _asof_num(right, right_ts, F.col(ts))
        return a - b if forward else b - a

    # a NULL left timestamp can match nothing (no inequality against
    # NULL is true) — without this gate the DESCENDING carry would sort
    # NULL ts last and hand those rows the earliest right row's match
    has_ts = F.col(ts).isNotNull()
    if direction in ("backward", "forward"):
        m = "_asof_m"
        u = u.withColumn(m, carry(order_desc=direction == "forward"))
        ok = has_ts & F.col(m).isNotNull()
        if tol is not None:
            ok = ok & (
                gap(F.col(m), forward=direction == "forward")
                <= F.lit(tol)
            )
        for c in right_cols:
            u = u.withColumn(f"{prefix}{c}", F.when(ok, F.col(m)[c]))
        return u.filter(F.col(marker) == 1).drop(marker, ts, src, m)

    # nearest: both carries over the SAME union frame, map-side pick
    mb, mf = "_asof_mb", "_asof_mf"
    u = u.withColumn(mb, carry(order_desc=False)).withColumn(
        mf, carry(order_desc=True)
    )
    bdt = gap(F.col(mb), forward=False)
    fdt = gap(F.col(mf), forward=True)
    b_ok = has_ts & F.col(mb).isNotNull()
    f_ok = has_ts & F.col(mf).isNotNull()
    if tol is not None:
        b_ok = b_ok & (bdt <= F.lit(tol))
        f_ok = f_ok & (fdt <= F.lit(tol))
    pick_b = b_ok & (~f_ok | (bdt <= fdt))
    for c in right_cols:
        u = u.withColumn(
            f"{prefix}{c}",
            F.when(pick_b, F.col(mb)[c]).when(f_ok, F.col(mf)[c]),
        )
    return u.filter(F.col(marker) == 1).drop(marker, ts, src, mb, mf)


def _asof_union(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
):
    """Shared union-frame builder for every as-of direction: left rows
    marked 1, right rows marked 0 carrying their (match-ts, values)
    struct in ONE column — the payload is shuffled once regardless of
    how many directional carries read it."""
    from pyspark.sql.types import StructField, StructType

    marker, ts, src = "_asof_is_left", "_asof_ts", "_asof_src"
    src_type = StructType(
        [StructField("_mts", right.schema[right_ts].dataType)]
        + [StructField(c, right.schema[c].dataType) for c in right_cols]
    )
    lt = (
        left.withColumn(marker, F.lit(1))
        .withColumn(ts, F.col(left_ts))
        .withColumn(src, F.lit(None).cast(src_type))
    )
    rt = right.select(
        *keys,
        F.lit(0).alias(marker),
        F.col(right_ts).alias(ts),
        F.struct(
            F.col(right_ts).alias("_mts"),
            *[F.col(c) for c in right_cols],
        ).alias(src),
    )
    for c in left.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    return lt.unionByName(rt.select(*lt.columns)), marker, ts, src


def _asof_num(right: DataFrame, right_ts: str, col: Column) -> Column:
    from pyspark.sql.types import TimestampType

    if isinstance(right.schema[right_ts].dataType, TimestampType):
        return F.unix_micros(col)
    return col


def _asof_tolerance(
    right: DataFrame, right_ts: str, tolerance_seconds: float | None
):
    if tolerance_seconds is None:
        return None
    from pyspark.sql.types import TimestampType

    if isinstance(right.schema[right_ts].dataType, TimestampType):
        return tolerance_seconds * 1_000_000
    return tolerance_seconds


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    key: str | Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower_seconds: int = 3600,
    upper_seconds: int = 0,
    bin_seconds: int = 3600,
) -> DataFrame:
    """Pairs (left, right) with matching key and
    right.ts in [left.ts - lower_seconds, left.ts + upper_seconds].

    Left rows explode to the bins their window covers; the join is an
    equi-join on (key, bin) with the exact interval re-checked — bounded
    candidate space instead of a theta join.
    """
    keys = [key] if isinstance(key, str) else list(key)
    l_us = F.unix_micros(F.col(left_ts))
    r_us = F.unix_micros(F.col(right_ts))
    bin_us = bin_seconds * 1_000_000

    lt = left.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor((l_us - lower_seconds * 1_000_000) / bin_us),
                F.floor((l_us + upper_seconds * 1_000_000) / bin_us),
            )
        ),
    )
    rt = right.withColumn("_bin", F.floor(r_us / bin_us))
    cond = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys] + [
        F.col("l._bin") == F.col("r._bin"),
        F.unix_micros(F.col(f"r.{right_ts}"))
        >= F.unix_micros(F.col(f"l.{left_ts}")) - lower_seconds * 1_000_000,
        F.unix_micros(F.col(f"r.{right_ts}"))
        <= F.unix_micros(F.col(f"l.{left_ts}")) + upper_seconds * 1_000_000,
    ]
    # a pair meets in exactly one bin (the right row's), so no pair dedup
    # is needed
    return lt.alias("l").join(rt.alias("r"), cond).drop("_bin")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str] = (),
    start_col: str = "start",
    end_col: str = "end",
    bin_width: int = 86400,
) -> DataFrame:
    """Interval-overlap join: pairs where the CLOSED intervals
    [l.start, l.end] and [r.start, r.end] intersect (and optional equi
    ``keys`` match). Both sides carry numeric interval bounds in
    ``start_col``/``end_col`` (epoch seconds, day numbers, any unit
    consistent with ``bin_width``).

    Spark has no native interval join; the naive encoding is a theta join
    (``l.start <= r.end AND r.start <= l.end``) that Catalyst can only run
    as BroadcastNestedLoop/Cartesian — |L|x|R| comparisons. Rewrite: each
    interval explodes to the fixed-width bins it covers, the join becomes
    an equi-join on (keys..., bin) that hash-shuffles both sides once, and
    the exact overlap predicate re-checks candidates within a bin.

    Pair dedup is FREE: an overlapping pair shares every bin the overlap
    spans, so the join additionally requires the candidate bin to be the
    one containing ``greatest(l.start, r.start)`` — the overlap's first
    instant, which lies in both intervals by definition. Each true pair
    survives in exactly one bin; no dropDuplicates shuffle.

    At 100 TB: cost is candidates-per-bin, so pick ``bin_width`` on the
    order of the typical interval span (each row explodes to
    ~span/bin_width + 1 rows); hot bins (rush-hour pileups) are an AQE
    skew-join case, or pre-salt the bin id. Same rewrite family as
    ``range_join_binned`` (the Databricks range-join hint); distinct in
    that BOTH sides are intervals, not point-vs-window.

    Output: the joined row with both sides' columns (access via ``l.``/
    ``r.`` aliases), ``_bin`` dropped.

    ``left`` and ``right`` MUST have distinct lineage (e.g. two separate
    scans of the same table, as ``interval_overlap_orders`` does — a
    self-overlap caller should load the table twice). The join resolves
    columns via the ``l.``/``r.`` alias-string refs above; passing one
    frame (or two frames derived from the same scan) hits Spark's
    ambiguous-self-join handling, which can error or mis-resolve those
    refs — and a true self-join would get no ReusedExchange anyway
    (ADVICE r5; see the shared-lineage join discipline in
    merge.apply_signed_delta).
    """
    lo = F.col(f"l.{start_col}")
    ro = F.col(f"r.{start_col}")
    lt = left.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / bin_width),
                F.floor(F.col(end_col) / bin_width),
            )
        ),
    )
    rt = right.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / bin_width),
                F.floor(F.col(end_col) / bin_width),
            )
        ),
    )
    cond = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys] + [
        F.col("l._bin") == F.col("r._bin"),
        lo <= F.col(f"r.{end_col}"),
        ro <= F.col(f"l.{end_col}"),
        # pin each pair to the single bin holding the overlap's start
        F.col("l._bin") == F.floor(F.greatest(lo, ro) / bin_width),
    ]
    return lt.alias("l").join(rt.alias("r"), cond).drop("_bin")


def resample_gap_fill(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    step: str = "1 hour",
    aggs: Mapping[str, Column] | None = None,
    fills: Mapping[str, Column] | None = None,
) -> DataFrame:
    """Resample events onto a dense per-key time grid, filling gaps.

    The hypertable-rollup shape: per key, truncate ``ts_col`` to the step,
    aggregate, then LEFT-join onto a generated ``sequence(min_bucket,
    max_bucket, step)`` so empty buckets appear with fill values. The grid
    side is rows-per-key × buckets — tiny next to the event data — and the
    join key (key, bucket) is uniform, so the extra join is cheap at any
    scale; the event table is still touched exactly twice (bounds + aggs),
    both simple scans with map-side partial aggregation.
    """
    unit = step.split()[-1].rstrip("s")  # "1 hour" -> hour
    bucket = F.date_trunc(unit, F.col(ts_col))
    aggs = dict(aggs or {"n_events": F.count(F.lit(1))})
    fills = dict(fills or {})

    bounds = df.groupBy(*keys).agg(
        F.date_trunc(unit, F.min(ts_col)).alias("_b0"),
        F.date_trunc(unit, F.max(ts_col)).alias("_b1"),
    )
    grid = bounds.select(
        *keys,
        F.explode(
            F.sequence("_b0", "_b1", F.expr(f"interval {step}"))
        ).alias("bucket"),
    )
    per_bucket = df.groupBy(*keys, bucket.alias("bucket")).agg(
        *[c.alias(n) for n, c in aggs.items()]
    )
    out = grid.join(per_bucket, [*keys, "bucket"], "left")
    for name in aggs:
        fill = fills.get(name, F.lit(0))
        out = out.withColumn(name, F.coalesce(F.col(name), fill))
    return out


def funnel_steps(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
    window: str = "30 minutes",
    mode: str = "per_step",
) -> DataFrame:
    """Ordered-funnel depth per user, in either window semantics:

    - ``mode="per_step"`` (default): each step must fall within
      ``window`` of the LATEST qualifying occurrence of the previous
      step — the window re-arms at every step, so slow multi-step users
      still complete.
    - ``mode="from_first"``: the WHOLE chain must fall within ``window``
      of the chain's FIRST event — ClickHouse ``windowFunnel``'s rule. A
      user porting ClickHouse funnels wants this mode; per_step reports
      deeper funnels for slow multi-step users.

    ``funnel_step`` = the deepest k such that events of type
    ``steps[0] .. steps[k-1]`` occurred in order under the chosen window
    rule. Both modes share the same plan: from_first threads the chain's
    ANCHOR timestamp (the greedy max chain-start — optimal, since the
    window constraint ``anchor > ts - window`` always prefers a later
    anchor) through the stacked windows instead of the previous step's
    own timestamp. "In order" means strictly earlier in ``(ts, order_col)`` order —
    a total, deterministic order both engines share, so ties on ``ts``
    resolve identically everywhere.

    Scale shape: ONE hash shuffle on ``user_col``; each funnel level is a
    window ``max`` over the same (partition, ordering), so Catalyst plans
    len(steps)-1 WindowExecs over a single Exchange+Sort; the final
    per-user aggregate reuses the same partitioning (no second shuffle
    under AQE). Never materializes event pairs — O(|events|) state, vs the
    |events|² a self-join-per-level formulation would cost at 100 TB.
    """
    if mode not in ("per_step", "from_first"):
        raise ValueError(
            f"funnel_steps mode must be 'per_step' or 'from_first', "
            f"got {mode!r}"
        )
    w_prev = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # F.when(...).otherwise(0), not bool.cast("int"): a NULL event_type
    # makes the equality NULL, and NULL must count as "not this step"
    # (0) — a bare cast would propagate NULL through max() and leave the
    # user's funnel_step NULL instead of 0 (SQL-oracle CASE ... ELSE 0
    # semantics).
    # _a{k} carries the timestamp each level anchors its window on:
    # per_step anchors on the qualifying event's OWN ts (the window
    # re-arms); from_first threads the chain-start ts unchanged.
    df = events.select(user_col, type_col, ts_col, order_col).withColumn(
        "_q1", F.when(F.col(type_col) == steps[0], 1).otherwise(0)
    ).withColumn("_a1", F.when(F.col(type_col) == steps[0], F.col(ts_col)))
    for k, step in enumerate(steps[1:], start=2):
        prev_anchor = F.max(F.col(f"_a{k - 1}")).over(w_prev)
        qualifies = (
            (F.col(type_col) == step)
            & prev_anchor.isNotNull()
            & (prev_anchor > F.col(ts_col) - F.expr(f"INTERVAL {window}"))
        )
        df = df.withColumn(
            f"_q{k}", F.when(qualifies, 1).otherwise(0)
        ).withColumn(
            f"_a{k}",
            F.when(
                qualifies,
                F.col(ts_col) if mode == "per_step" else prev_anchor,
            ),
        )
    reached = [
        F.max(f"_q{k}").alias(f"_s{k}") for k in range(1, len(steps) + 1)
    ]
    out = df.groupBy(user_col).agg(*reached)
    depth = None
    for k in range(1, len(steps) + 1):
        term = F.col(f"_s{k}")
        depth = term if depth is None else depth + term
    return out.select(
        F.col(user_col), depth.cast("int").alias("funnel_step")
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: (cohort_week, week_index, active_users).

    One window shuffle on the user assigns cohorts (min active week per
    user), then one count-distinct aggregate on (cohort, week_index) —
    planned as Spark's two-phase expand with map-side partials. Pure
    date/integer arithmetic (ISO-Monday week truncation, DATE-cast for
    engine parity). Shared by the workload and the scaling probe.
    """
    wk = events.select(
        user_col, F.to_date(F.date_trunc("week", F.col(ts_col))).alias("wk")
    )
    coh = wk.withColumn(
        "cohort_week", F.min("wk").over(Window.partitionBy(user_col))
    )
    return coh.groupBy(
        "cohort_week",
        F.floor(F.datediff("wk", "cohort_week") / 7)
        .cast("int")
        .alias("week_index"),
    ).agg(F.countDistinct(user_col).alias("active_users"))


def activity_islands(
    df: DataFrame,
    key_col: str,
    date_col: Column | str,
) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per key.
    Output one row per island: (key, start_day, end_day, n_days). The
    streak/tenure primitive (login streaks, continuous-coverage spans,
    sensor-uptime islands).

    The classic rewrite: distinct active days -> per-key row_number ->
    ``day - row_number`` is constant within a consecutive run (each step
    advances both by one), so the island is a plain group key — no
    self-join, no recursive CTE. ONE window shuffle on ``key_col``; the
    distinct collapses (key, day) first (activity is many events per
    day, so this shuffle carries days, not events), and the final island
    aggregate reuses the key-clustered distribution (group keys are a
    superset of the window partition key — no further Exchange).
    """
    day = F.col(date_col) if isinstance(date_col, str) else date_col
    days = df.select(
        F.col(key_col), day.cast("date").alias("_day")
    ).distinct()
    w = Window.partitionBy(key_col).orderBy("_day")
    runs = days.withColumn(
        "_grp", F.date_sub(F.col("_day"), F.row_number().over(w))
    )
    return (
        runs.groupBy(key_col, "_grp")
        .agg(
            F.min("_day").alias("start_day"),
            F.max("_day").alias("end_day"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .drop("_grp")
    )


def ewma_fixed(
    df: DataFrame,
    value_col: str,
    order_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
    half_life_rows: int = 1,
    window_rows: int = 7,
    out_col: str = "ewma",
) -> DataFrame:
    """Truncated exponentially-weighted moving average with EXACTLY
    representable weights: w_k = 2^(-k/half_life_rows) truncated at
    ``window_rows`` lags. With half_life_rows=1 the weights are
    1, 1/2, 1/4, ... — powers of two, so the weighted sum is exact
    INTEGER arithmetic after scaling: num = Σ x_{t-k}·2^(W-k),
    den = Σ 2^(W-k) over the lags that EXIST (sequence starts use fewer),
    and the emitted average is one IEEE double division num/den —
    bit-deterministic on every engine (the chisq/linreg discipline; an
    untruncated float EWMA is a recursive order-sensitive fold that no
    hash oracle can check). ``value_col`` must be integer-typed — scale
    decimals to their minor unit first (money → cents).

    The smoothing-for-monitoring primitive (per-entity spend/volume
    trend lines, denoised anomaly baselines) next to window_moving_avg's
    flat window.

    Scale: ONE window shuffle on ``partition_cols`` — the ``window_rows``
    lag() calls share a single WindowExec frame sort, cost O(W) per row
    map-side. Overflow: |x|·2^W·W must stay < 2^63 (and < 2^53 for the
    double emit) — at W=7 that allows 13-digit minor-unit values.
    """
    if half_life_rows != 1:
        raise ValueError(
            "ewma_fixed: only half_life_rows=1 keeps the weights exactly "
            "representable (powers of two); rescale the cadence instead"
        )
    w = Window.partitionBy(
        *[F.col(c) for c in partition_cols]
    ).orderBy(*[F.col(c) for c in order_cols])
    num = None
    den = None
    for k in range(window_rows + 1):
        weight = 1 << (window_rows - k)
        xk = F.lag(F.col(value_col).cast("long"), k).over(w)
        term = F.coalesce(xk * F.lit(weight), F.lit(0).cast("long"))
        dterm = F.when(xk.isNotNull(), F.lit(weight).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        num = term if num is None else num + term
        den = dterm if den is None else den + dterm
    return df.withColumn(
        out_col, num.cast("double") / den.cast("double")
    )


def ohlc_bars(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Open/High/Low/Close bars per key — the canonical timeseries
    rollup (candlesticks, per-sensor daily summaries, per-SKU price
    bars). ``key_cols`` should include the bar bucket (e.g. a derived
    day column); ``value_col`` must be integer-typed (money → cents
    first: the min/max/first/last of exact integers are exact).

    Open/close are argmin/argmax by (ts, *tiebreak) — expressed as
    ``min_by``/``max_by`` over a struct ordering key, NOT a window over
    the fact table: the whole bar is ONE map-side-combinable
    aggregation (partial min/max/min_by/max_by states merge
    associatively), so the fact shuffles once into |bars| rows and no
    per-row rank/sort ever materializes. ``tiebreak_cols`` must make
    the ordering key unique (same-instant ticks otherwise make
    open/close nondeterministic).

    Reference has no timeseries rollup (SURVEY.md §2.5 is plain
    group-aggregates); this is the composition-first custom operator.
    """
    okey = F.struct(
        F.col(ts_col), *[F.col(c) for c in tiebreak_cols]
    )
    v = F.col(value_col)
    return df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.min_by(v, okey).alias("open"),
        F.max(v).alias("high"),
        F.min(v).alias("low"),
        F.max_by(v, okey).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


def twap(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    tiebreak_cols: Sequence[str] = (),
    num_col: str = "twap_num",
    den_col: str = "twap_den",
    out_col: str = "twap",
) -> DataFrame:
    """Time-weighted average value per key (TWAP): each observation is
    weighted by how long it REMAINED the current value — the duration
    until the key's next observation. The last observation of a key has
    no successor and drops (its holding period is unbounded); keys with
    a single observation yield no bar.

    Exactness contract: ``value_col`` must be integer (cents) and the
    weight is the integer microsecond gap, so num = Σ v·Δus and
    den = Σ Δus accumulate in DECIMAL(38,0) (a day is ~8.6e10 us; one
    int64 product v·Δus already reaches 1e15+ at 5-digit cents, and the
    SUM wraps int64 at corpus scale). The emitted average is ONE IEEE
    double division — bit-deterministic (the ewma_fixed/gini emit
    discipline); exact below 2^53 per moment, identically rounded from
    the exact decimal beyond.

    Scale: ONE window shuffle on ``key_cols`` (the lead() successor
    lookup), then the aggregation reuses the window's hash distribution
    (group keys ⊇ window partition keys → no second Exchange).
    """
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(
        F.col(ts_col), *[F.col(c) for c in tiebreak_cols]
    )
    d38 = "decimal(38,0)"
    gap_us = (
        F.unix_micros(F.lead(F.col(ts_col)).over(w))
        - F.unix_micros(F.col(ts_col))
    )
    weighted = df.select(
        *[F.col(c) for c in key_cols],
        F.col(value_col).cast("long").alias("_v"),
        gap_us.alias("_dus"),
    ).filter(F.col("_dus").isNotNull())
    agg = weighted.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum((F.col("_v") * F.col("_dus")).cast(d38))
        .cast(d38)
        .alias(num_col),
        F.sum(F.col("_dus").cast(d38)).cast(d38).alias(den_col),
    )
    return agg.withColumn(
        out_col, F.col(num_col).cast("double") / F.col(den_col).cast("double")
    )


def attribute_last_touch(
    events: DataFrame,
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    lookback_seconds: int = 7 * 86400,
    direct_label: str = "direct",
) -> DataFrame:
    """Last-touch marketing attribution: each conversion is credited to
    the user's most recent preceding non-conversion event type within
    ``lookback_seconds``, else ``direct_label`` — the channel-performance
    primitive every growth warehouse runs daily.  Emits
    ``(channel, n_conversions)``.

    The two ``last(… ignore nulls)`` carries (touch timestamp, touch
    channel) null out on the SAME condition — which therefore must
    include ``ts IS NOT NULL``: a NULL-timestamp touch would otherwise
    null only the timestamp carry and mispair a fresh channel with an
    older touch's staleness clock.  With the shared condition both
    carries always come from the same row — no struct carry needed; the
    lookback test is an exact integer-microsecond comparison map-side.
    (NULL-timestamp events are unattributable and never become the
    credited touch.)

    Scale: ONE user-keyed window shuffle (both carries share one
    WindowExec frame sort) + one |channels|-row partial-aggregated
    count.  Never the per-conversion self-join (conversions × touches
    pair space) a correlated-subquery formulation plans to.
    """
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nonconv = (
        (F.col(type_col) != conversion_type) & F.col(ts_col).isNotNull()
    )
    t = events.select(
        type_col,
        ts_col,
        F.last(F.when(nonconv, F.col(ts_col)), ignorenulls=True)
        .over(w)
        .alias("_t_ts"),
        F.last(F.when(nonconv, F.col(type_col)), ignorenulls=True)
        .over(w)
        .alias("_t_ch"),
    )
    stale = (
        F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col("_t_ts"))
        > lookback_seconds * 1_000_000
    )
    channel = F.when(
        F.col("_t_ts").isNull() | stale, F.lit(direct_label)
    ).otherwise(F.col("_t_ch"))
    return (
        t.filter(F.col(type_col) == conversion_type)
        .groupBy(channel.alias("channel"))
        .agg(F.count(F.lit(1)).alias("n_conversions"))
    )


def attribute_time_decay(
    events: DataFrame,
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    lookback_days: int = 7,
) -> DataFrame:
    """Time-decay multi-touch attribution: EVERY touch in the
    ``lookback_days`` before a conversion gets credit 2^(lookback−age) —
    dyadic weights make every credit an exact power-of-two integer (the
    ewma_fixed discipline: an exponential-decay float sum is
    order-sensitive and un-hashable; dyadic decay sums are exact
    bigints).  Emits ``(channel, weight_sum, share)``.

    Built by COMPOSITION: (conversion, touch) pairs generate through
    :func:`range_join_binned` (day-binned equi-join on (user, bin) with
    the exact interval recheck — each conversion probes lookback+1 bins,
    never the per-user touches×conversions theta space); weights are
    map-side shifts; one partial-aggregated channel sum; the 1-row total
    broadcasts back for the share division.

    Overflow: Σ 2^lookback·touches < 2⁶³ to ~7e16 pair-credits at the
    default 7-day lookback — documented.
    """
    conversions = events.filter(
        F.col(type_col) == conversion_type
    ).select(user_col, F.col(ts_col).alias("_pts"))
    touches = events.filter(F.col(type_col) != conversion_type).select(
        user_col, ts_col, F.col(type_col).alias("channel")
    )
    pairs = range_join_binned(
        conversions,
        touches,
        key=user_col,
        left_ts="_pts",
        right_ts=ts_col,
        lower_seconds=lookback_days * 86400,
        upper_seconds=0,
        bin_seconds=86400,
    )
    age_days = F.floor(
        (
            F.unix_micros(F.col("l._pts"))
            - F.unix_micros(F.col(f"r.{ts_col}"))
        )
        / F.lit(86_400_000_000)
    ).cast("int")
    agg = checkpoint(
        pairs.select(
            F.col("r.channel").alias("channel"),
            age_days.alias("_age_days"),
        )
        .select(
            "channel",
            F.expr(f"shiftleft(1L, {lookback_days} - _age_days)").alias(
                "_wt"
            ),
        )
        .groupBy("channel")
        .agg(F.sum("_wt").alias("weight_sum"))
    )
    tot = agg.agg(F.sum("weight_sum").alias("_w"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "channel",
        "weight_sum",
        (
            F.col("weight_sum").cast("double") / F.col("_w").cast("double")
        ).alias("share"),
    )


def session_kpis_daily(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Daily session KPIs over gap sessionization: session count, bounce
    count/rate (single-event sessions), total and mean duration — the
    web-analytics rollup every product dashboard pairs with WAU.  A
    session is attributed to its START day.  Emits ``(day, n_sessions,
    n_bounces, bounce_rate, total_dur_us, avg_dur_us)``.

    Hash-exact: session ids come from the lag+cumsum machinery
    (:func:`~.windows.sessionize`'s exact expression); durations are
    integer microseconds; bounce rate and mean duration are ONE division
    each over exact integer sums.

    Scale: one user-keyed window shuffle (the sessionizer), a per-
    (user, session) map-side-combinable aggregation reusing the window's
    user distribution prefix, and a |days|-row rollup.
    """
    from metadata_driven_etl_spark.operators.windows import sessionize

    s = sessionize(
        events,
        user_col,
        ts_col,
        gap_seconds=gap_seconds,
        tiebreak=[order_col],
    )
    per_session = s.groupBy(user_col, "session_id").agg(
        F.min(F.to_date(ts_col)).alias("day"),
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_micros(F.max(ts_col)) - F.unix_micros(F.min(ts_col))
        ).alias("dur_us"),
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return per_session.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        bounce.alias("n_bounces"),
        (bounce.cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "bounce_rate"
        ),
        F.sum("dur_us").alias("total_dur_us"),
        (
            F.sum("dur_us").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_dur_us"),
    )


def funnel_rates(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
    window: str = "30 minutes",
    mode: str = "per_step",
) -> DataFrame:
    """The funnel CHART readout on top of :func:`funnel_steps`: per step,
    users reached, step-to-step conversion (reached_k / reached_{k-1}),
    and cumulative rate vs all users — where the drop-off is, not just
    how deep people go. Declarable as gold ``analysis: funnel_rates``
    (VERDICT r8 item 3); the ``funnel_step_rates`` workload is this
    operator applied to the events table.

    Emits ``(step int, step_name, n_reached long, step_rate double,
    cum_rate double)`` — one row per declared step. Rates are single
    IEEE divisions of exact counts (engine-exact).

    Scale: the funnel's one user shuffle dominates; the per-user depth
    frame collapses into ONE scalar aggregate, materialized once
    (multi-consumer discipline — each union branch would otherwise
    replay the whole funnel), then unpivoted into len(steps) literal
    rows.
    """
    d = funnel_steps(
        events,
        list(steps),
        user_col=user_col,
        type_col=type_col,
        ts_col=ts_col,
        order_col=order_col,
        window=window,
        mode=mode,
    )
    aggs = [
        F.sum((F.col("funnel_step") >= k).cast("long")).alias(f"r{k}")
        for k in range(1, len(steps) + 1)
    ] + [F.count(F.lit(1)).alias("n_users")]
    c = checkpoint(d.agg(*aggs))
    dbl = lambda name: F.col(name).cast("double")  # noqa: E731
    out = None
    for k, name in enumerate(steps, start=1):
        prev = "n_users" if k == 1 else f"r{k - 1}"
        # guards (r12 degenerate sweep): an unreached previous step (or
        # an empty corpus) has no conversion rate — NULL, not an ANSI
        # divide-by-zero job failure
        part = c.select(
            F.lit(k).cast("int").alias("step"),
            F.lit(name).alias("step_name"),
            F.col(f"r{k}").alias("n_reached"),
            F.when(F.col(prev) > 0, dbl(f"r{k}") / dbl(prev)).alias(
                "step_rate"
            ),
            F.when(
                F.col("n_users") > 0, dbl(f"r{k}") / dbl("n_users")
            ).alias("cum_rate"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def funnel_rates_multi(
    events: DataFrame,
    steps: Sequence[str],
    windows: Sequence[tuple[str, str]],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
    mode: str = "per_step",
) -> DataFrame:
    """:func:`funnel_rates` at SEVERAL step windows in ONE event pass —
    the window-sensitivity readout. ``windows`` is (label, interval)
    pairs, e.g. ``[("30m", "30 minutes"), ("2h", "2 hours")]``; output
    is the labeled union of the per-window funnel tables, row-identical
    to running :func:`funnel_rates` once per window (pinned by
    tests/test_operators_props.py::test_funnel_rates_multi_equals_per_window).

    Why not just loop funnel_rates: each call re-shuffles and re-sorts
    the whole event table on ``user_col`` to change ONE comparison
    constant. Every per-window qualifying flag here is a window function
    over the SAME (partition, ordering) spec, so Catalyst stacks all of
    them over a single Exchange+Sort (guide §2.4: operations keyed the
    same way share one exchange) — |windows|× fewer corpus shuffles,
    which at 100 TB is the entire cost of the sweep. Step-1 flags and
    anchors are window-independent and computed once.
    """
    c = checkpoint(funnel_rates_multi_scalar(
        events, steps, windows, user_col=user_col, type_col=type_col,
        ts_col=ts_col, order_col=order_col, mode=mode,
    ))
    dbl = lambda name: F.col(name).cast("double")  # noqa: E731
    out = None
    for i, (label, _) in enumerate(windows):
        for k, name in enumerate(steps, start=1):
            rk = "_r1" if k == 1 else f"_r{k}_{i}"
            prev = (
                "n_users"
                if k == 1
                else ("_r1" if k == 2 else f"_r{k - 1}_{i}")
            )
            part = c.select(
                F.lit(label).alias("win"),
                F.lit(k).cast("int").alias("step"),
                F.lit(name).alias("step_name"),
                F.col(rk).alias("n_reached"),
                F.when(F.col(prev) > 0, dbl(rk) / dbl(prev)).alias(
                    "step_rate"
                ),
                F.when(
                    F.col("n_users") > 0, dbl(rk) / dbl("n_users")
                ).alias("cum_rate"),
            )
            out = part if out is None else out.unionByName(part)
    return out


def funnel_rates_multi_scalar(
    events: DataFrame,
    steps: Sequence[str],
    windows: Sequence[tuple[str, str]],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
    mode: str = "per_step",
) -> DataFrame:
    """The ONE-ROW scalar aggregate behind :func:`funnel_rates_multi`
    (n_users plus every window's per-level reached-counts), BEFORE the
    lineage-truncating localCheckpoint. Split out (ADVICE r12) so the
    single-Exchange plan claim is assertable: explaining the checkpointed
    frame shows only ``Scan ExistingRDD``, which made the one-shuffle
    test pin vacuous — tests explain THIS frame instead."""
    if mode not in ("per_step", "from_first"):
        raise ValueError(
            f"funnel_rates_multi mode must be 'per_step' or "
            f"'from_first', got {mode!r}"
        )
    w_prev = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    df = events.select(user_col, type_col, ts_col, order_col).withColumn(
        "_q1", F.when(F.col(type_col) == steps[0], 1).otherwise(0)
    ).withColumn("_a1", F.when(F.col(type_col) == steps[0], F.col(ts_col)))
    for i, (_, interval) in enumerate(windows):
        for k, step in enumerate(steps[1:], start=2):
            prev_col = "_a1" if k == 2 else f"_a{k - 1}_{i}"
            prev_anchor = F.max(F.col(prev_col)).over(w_prev)
            qualifies = (
                (F.col(type_col) == step)
                & prev_anchor.isNotNull()
                & (
                    prev_anchor
                    > F.col(ts_col) - F.expr(f"INTERVAL {interval}")
                )
            )
            df = df.withColumn(
                f"_q{k}_{i}", F.when(qualifies, 1).otherwise(0)
            ).withColumn(
                f"_a{k}_{i}",
                F.when(
                    qualifies,
                    F.col(ts_col) if mode == "per_step" else prev_anchor,
                ),
            )
    reached = [F.max("_q1").alias("_s1")] + [
        F.max(f"_q{k}_{i}").alias(f"_s{k}_{i}")
        for i in range(len(windows))
        for k in range(2, len(steps) + 1)
    ]
    per_user = df.groupBy(user_col).agg(*reached)
    aggs = [F.count(F.lit(1)).alias("n_users"), F.sum("_s1").alias("_r1")]
    for i in range(len(windows)):
        # depth_i >= k  ⇔  every step flag 1..k is set for window i
        # (flags are monotone by construction: _q{k} requires a
        # qualifying _a{k-1}); reached-count per level is the sum of the
        # per-user products, identical to funnel_rates' depth >= k.
        prod = F.col("_s1")
        for k in range(2, len(steps) + 1):
            prod = prod * F.col(f"_s{k}_{i}")
            aggs.append(F.sum(prod).alias(f"_r{k}_{i}"))
    return per_user.agg(*aggs)


def stickiness_daily(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 30,
) -> DataFrame:
    """DAU/MAU stickiness per day — the engagement-depth ratio every
    product review tracks (what share of the trailing-``window_days``
    audience shows up on a given day). Declarable as gold
    ``analysis: stickiness``; the ``dau_mau_stickiness`` workload is
    this operator on the events table.

    MAU is the trailing distinct-actives via the coverage identity:
    dedup user-days FIRST, explode each to the ``window_days`` days it
    covers, count distinct per day — linear with a ``window_days``×
    map-side expansion of user-DAYS, never an O(days × users) window.
    DAU is the plain per-day distinct count off the SAME deduped frame
    (materialized once). Days beyond the corpus max are trimmed
    (partial future windows). Counts exact; stickiness one IEEE
    division. NULL users/timestamps are excluded EXPLICITLY — a NULL
    user would count once in DAU (row count of the deduped frame) but
    never in MAU (countDistinct drops NULLs), skewing the ratio (the
    new_vs_returning NULL discipline). Emits ``(day, dau long,
    mau long, stickiness double)``.
    """
    ud = checkpoint(
        events.filter(
            F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .select(user_col, F.to_date(ts_col).alias("day"))
        .distinct()
    )
    bounds = ud.agg(F.max("day").alias("d1"))
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    cover = ud.select(
        user_col,
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), window_days - 1)
            )
        ).alias("win_day"),
    )
    mau = (
        cover.crossJoin(F.broadcast(bounds))
        .filter(F.col("win_day") <= F.col("d1"))
        .groupBy(F.col("win_day").alias("day"))
        .agg(F.countDistinct(user_col).alias("mau"))
    )
    return mau.join(dau, "day", "left").select(
        "day",
        F.coalesce(F.col("dau"), F.lit(0)).alias("dau"),
        "mau",
        (
            F.coalesce(F.col("dau"), F.lit(0)).cast("double")
            / F.col("mau").cast("double")
        ).alias("stickiness"),
    )


def new_vs_returning(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """New vs returning active users per day — the acquisition/retention
    split on every growth dashboard. A user is "new" on their first
    active day, "returning" on every later active day. Declarable as
    gold ``analysis: new_vs_returning``; the ``new_vs_returning_daily``
    workload is this operator on the events table.

    Scale: dedup to distinct (user, day) first (the WAU discipline),
    ONE user-keyed window carries each user's first day onto their rows
    (no join back), then one map-side-combinable day rollup. All counts
    exact. NULL users/timestamps are excluded EXPLICITLY — a NULL user
    would survive the window's NULL partition but never an oracle's
    equi-join. Emits ``(day, new_users long, returning_users long)``.
    """
    ud = (
        events.filter(
            F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .select(user_col, F.to_date(ts_col).alias("day"))
        .distinct()
    )
    first = F.min("day").over(Window.partitionBy(user_col))
    return (
        ud.withColumn("first_day", first)
        .groupBy("day")
        .agg(
            F.sum(
                F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
            ).alias("new_users"),
            F.sum(
                F.when(F.col("day") > F.col("first_day"), 1).otherwise(0)
            ).alias("returning_users"),
        )
    )


def session_scoped(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    gap_seconds: int = 1800,
    key_col: str = "_sk",
) -> DataFrame:
    """Re-key an event frame to (user, session) composites so funnel
    analyses run session-scoped ("did the user convert within one
    visit") instead of across the whole history. The shared sessionizer
    assigns session ids; the composite key concatenates user and
    session. Used by both the ``session_funnel_depth`` workload and the
    event model's ``scope: session`` knob — one computation, two entry
    points.

    Scale: one user shuffle (the sessionizer's lag+cumsum window); the
    downstream funnel keys on the composite, whose prefix is the user —
    same key family, no new skew.
    """
    from metadata_driven_etl_spark.operators.windows import sessionize

    s = sessionize(
        events,
        user_col,
        ts_col,
        gap_seconds=gap_seconds,
        tiebreak=[order_col],
    )
    return s.withColumn(
        key_col,
        F.concat_ws("#", F.col(user_col), F.col("session_id")),
    )


def concurrent_session_peaks(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Peak concurrent sessions per day — the +1/−1 endpoint sweep over
    gap-sessionized intervals (capacity planning: how many sessions
    overlap at the busiest instant). Convention: at equal timestamps
    starts sort BEFORE ends (touching sessions count as concurrent) and
    a session is attributed to its start day; the sweep order
    (ts, delta DESC, user, session) is a total order, so the running
    sum is engine-deterministic. Backs the
    ``sessions_concurrent_peak_daily`` workload AND its scaling probe —
    one implementation, so the measured curve always describes the
    shipped operator.

    Scale: the sessionizer's user window + one (user, session)
    aggregation, then a per-DAY partitioned sweep window (2 endpoint
    rows per session; day partitions grow with time, never with
    corpus-per-day beyond session count). Emits
    ``(day, peak_concurrent long)``.
    """
    from metadata_driven_etl_spark.operators.windows import sessionize

    s = sessionize(
        events, user_col, ts_col, gap_seconds=gap_seconds,
        tiebreak=[order_col],
    )
    per = s.groupBy(user_col, "session_id").agg(
        F.min(ts_col).alias("start_ts"), F.max(ts_col).alias("end_ts")
    )
    starts = per.select(
        F.to_date("start_ts").alias("day"),
        F.col("start_ts").alias("ts"),
        F.lit(1).alias("delta"),
        user_col,
        "session_id",
    )
    ends = per.select(
        F.to_date("start_ts").alias("day"),
        F.col("end_ts").alias("ts"),
        F.lit(-1).alias("delta"),
        user_col,
        "session_id",
    )
    w = (
        Window.partitionBy("day")
        .orderBy("ts", F.desc("delta"), user_col, "session_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = starts.unionByName(ends).select(
        "day", F.sum("delta").over(w).alias("conc")
    )
    return run.groupBy("day").agg(
        F.max("conc").alias("peak_concurrent")
    )


def hourly_load_profile(
    events: DataFrame,
    ts_col: str = "ts",
) -> DataFrame:
    """Weekday × hour traffic heatmap: event counts and load share per
    (ISO weekday, hour-of-day) cell — the capacity-planning staple
    (autoscaling schedules, maintenance windows, on-call load).
    Declarable as gold ``analysis: hourly_load``; the
    ``hourly_load_profile`` workload is this operator on the events
    table.

    ISO weekday via the (dayofweek+5)%7+1 identity (Mon=1..Sun=7);
    each share is ONE division against the broadcast 1-row total.

    Scale: one map-side (dow, hour) extraction, one 168-cell-bounded
    aggregation, 1-row total broadcast back. Emits ``(dow int,
    hour int, n_events long, load_share double)``.
    """
    e = events.select(
        ((F.dayofweek(F.to_date(ts_col)) + 5) % 7 + 1)
        .cast("int")
        .alias("dow"),
        F.hour(ts_col).cast("int").alias("hour"),
    )
    c = e.groupBy("dow", "hour").agg(F.count(F.lit(1)).alias("n_events"))
    g = c.agg(F.sum("n_events").alias("total"))
    return c.crossJoin(F.broadcast(g)).select(
        "dow", "hour", "n_events",
        (
            F.col("n_events").cast("double") / F.col("total").cast("double")
        ).alias("load_share"),
    )


def out_of_order_stats(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Out-of-order arrival profile per event type, treating
    ``order_col`` as ingestion order: events whose timestamp precedes
    the strictly-earlier running ingestion maximum are late, and their
    lateness distribution is exactly what sizes a Structured Streaming
    watermark (max_late_us is the smallest no-data-loss bound).
    Declarable as gold ``analysis: arrival_disorder``; the
    ``out_of_order_arrival_stats`` workload is this operator on the
    events table, and ``streaming.stateful.lateness_monitor_stateful``
    is its bit-identical streaming twin (arrival-order fold).

    Lateness is exact integer microseconds against the running max
    over ``ROWS ... AND 1 PRECEDING`` (an event is never late against
    itself).

    Scale: ONE type-keyed window shuffle, then a |types|-row rollup.
    Emits ``(type_col, n_events long, n_late long, max_late_us long,
    total_late_us long)``."""
    w = (
        Window.partitionBy(type_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    x = events.select(
        type_col,
        # cast tolerates DATE-typed event times (midnight micros) —
        # a no-op for TIMESTAMP inputs, so the events-table workload
        # and streaming twin are byte-identical either way
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_tus"),
        F.col(order_col),
    ).select(type_col, "_tus", F.max("_tus").over(w).alias("_mx"))
    late = F.when(
        F.col("_mx").isNotNull() & (F.col("_mx") > F.col("_tus")),
        F.col("_mx") - F.col("_tus"),
    ).otherwise(F.lit(0).cast("long"))
    is_late = F.when(
        F.col("_mx").isNotNull() & (F.col("_mx") > F.col("_tus")), 1
    ).otherwise(0)
    return x.groupBy(type_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(is_late).cast("long").alias("n_late"),
        F.max(late).cast("long").alias("max_late_us"),
        F.sum(late).cast("long").alias("total_late_us"),
    )


def dwell_time_by_type(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Average dwell time after each event type: the gap to the user's
    next event (any type) — the engagement readout behind "which pages
    hold attention". Declarable as gold ``analysis: dwell_time``; the
    ``dwell_time_by_type`` workload is this operator on the events
    table. Last events per user have no successor and carry no dwell;
    null-user rows are excluded (no per-user order exists for them).

    Gaps are exact integer microseconds under the (ts, order) total
    order; the average is ONE division of exact sums.

    Scale: ONE user-keyed window shuffle (the sessionizer/funnel
    family's shuffle), then a |types|-row partial-aggregated rollup.
    Emits ``(type_col, n_dwells long, total_dwell_us long,
    avg_dwell_sec double)``.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    d = (
        events.where(F.col(user_col).isNotNull())
        .select(
            type_col, ts_col,
            F.lead(ts_col).over(w).alias("_nxt"),
        )
        .where(F.col("_nxt").isNotNull())
        .select(
            type_col,
            (
                F.unix_micros(F.col("_nxt")) - F.unix_micros(F.col(ts_col))
            ).alias("_gap_us"),
        )
    )
    return d.groupBy(type_col).agg(
        F.count(F.lit(1)).alias("n_dwells"),
        F.sum("_gap_us").alias("total_dwell_us"),
        (
            F.sum("_gap_us").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1_000_000.0)
        ).alias("avg_dwell_sec"),
    )


def abandonment_daily(
    events: DataFrame,
    intent_type: str = "click",
    convert_type: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Abandonment rate per day: share of sessions showing intent
    (``intent_type``) but never converting (``convert_type``), bucketed
    by the session's start day — the conversion-leak KPI. Declarable as
    gold ``analysis: abandonment``; the ``cart_abandonment_daily``
    workload is this operator with the click/purchase defaults. Days
    with zero intent sessions are excluded (the rate is 0/0 there).

    Scale: one user-keyed sessionizer window + one (user, session)
    aggregation (same key family, no new skew), then a |days| rollup;
    the rate is one division of exact counts. Emits ``(day,
    n_intent_sessions long, n_abandoned long, abandonment_rate
    double)``.
    """
    from metadata_driven_etl_spark.operators.windows import sessionize

    s = sessionize(
        events, user_col, ts_col, gap_seconds=gap_seconds,
        tiebreak=[order_col],
    )
    per = s.groupBy(user_col, "session_id").agg(
        F.to_date(F.min(ts_col)).alias("day"),
        F.max(
            F.when(F.col(type_col) == intent_type, 1).otherwise(0)
        ).alias("has_intent"),
        F.max(
            F.when(F.col(type_col) == convert_type, 1).otherwise(0)
        ).alias("has_convert"),
    )
    aband = F.when(
        (F.col("has_intent") == 1) & (F.col("has_convert") == 0), 1
    ).otherwise(0)
    return (
        per.groupBy("day")
        .agg(
            F.sum("has_intent").alias("n_intent_sessions"),
            F.sum(aband).alias("n_abandoned"),
            (
                F.sum(aband).cast("double")
                / F.sum("has_intent").cast("double")
            ).alias("abandonment_rate"),
        )
        .filter(F.col("n_intent_sessions") > 0)
    )


def session_entry_exit(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Session entry/exit matrix: first and last event type of every
    session, cross-tabulated — landing-to-leaving flow. Declarable as
    gold ``analysis: entry_exit``; the ``session_entry_exit_matrix``
    workload is this operator on the events table.

    Entry/exit are min_by/max_by over the (ts, order) composite — the
    OHLC open/close idiom (associative extremum state, ONE map-side-
    combinable aggregation after the sessionizer, no per-session sort).
    Emits ``(entry_type, exit_type, n_sessions long)`` — |types|²-
    bounded.
    """
    from metadata_driven_etl_spark.operators.windows import sessionize

    s = sessionize(
        events, user_col, ts_col, gap_seconds=gap_seconds,
        tiebreak=[order_col],
    )
    key = F.struct(F.col(ts_col), F.col(order_col))
    per = s.groupBy(user_col, "session_id").agg(
        F.min_by(type_col, key).alias("entry_type"),
        F.max_by(type_col, key).alias("exit_type"),
    )
    return per.groupBy("entry_type", "exit_type").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )


def resample_linear_interp(
    obs: DataFrame,
    keys: Sequence[str],
    day_col: str,
    value_col: str,
) -> DataFrame:
    """Dense per-key DAILY grid with LINEAR interpolation across gaps —
    the numeric sibling of :func:`resample_gap_fill` (which fills with
    constants) and of the as-of carry (which steps): missing days get
    the straight line between the surrounding observed values, the
    standard treatment for downstream models that can't see calendar
    holes. ``obs`` must hold ONE row per (keys, day) with an exact
    integer ``value_col`` (the cents discipline); the grid spans each
    key's own [min day, max day], so endpoints are observed and every
    gap is two-sided.

    Interpolation is exact-rational: the numerator
    v0·(d1−d) + v1·(d−d0) stays in decimal and ONE double division by
    (d1−d0) produces the value — engine-identical, no float
    accumulation. Emits ``(keys..., day, value_filled double,
    is_observed int)``.

    Scale: bounds + grid explode are |keys|-sized metadata; the carry
    runs as TWO window passes (previous/next observed) over the
    grid-joined frame, partitioned by the keys — one shuffle on the
    key, the sessionizer family's shape. ``obs`` has two consumers
    (the bounds and the grid join) and is materialized ONCE (the
    repo-wide materialize-once discipline — the un-checkpointed form
    recomputed the upstream aggregation twice and benched 2× slower).
    """
    key_cols = [F.col(k) for k in keys]
    obs = checkpoint(obs)
    bounds = obs.groupBy(*keys).agg(
        F.min(day_col).alias("_d0"), F.max(day_col).alias("_d1")
    )
    grid = bounds.select(
        *keys,
        F.explode(
            F.sequence("_d0", "_d1", F.expr("interval 1 day"))
        ).alias(day_col),
    )
    g = grid.join(obs, [*keys, day_col], "left")
    w_prev = (
        Window.partitionBy(*key_cols)
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy(*key_cols)
        .orderBy(day_col)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    v = F.col(value_col)
    c = g.select(
        *keys,
        day_col,
        v,
        F.last(v, ignorenulls=True).over(w_prev).alias("_v0"),
        F.last(
            F.when(v.isNotNull(), F.col(day_col)), ignorenulls=True
        ).over(w_prev).alias("_p0"),
        F.first(v, ignorenulls=True).over(w_next).alias("_v1"),
        F.first(
            F.when(v.isNotNull(), F.col(day_col)), ignorenulls=True
        ).over(w_next).alias("_p1"),
    )
    d38 = "decimal(38,0)"
    span = F.datediff(F.col("_p1"), F.col("_p0"))
    num = (
        F.col("_v0").cast(d38) * F.datediff(F.col("_p1"), F.col(day_col))
        + F.col("_v1").cast(d38) * F.datediff(F.col(day_col), F.col("_p0"))
    ).cast(d38)
    interp = num.cast("double") / span.cast("double")
    return c.select(
        *keys,
        day_col,
        F.when(v.isNotNull(), v.cast("double"))
        .otherwise(interp)
        .alias("value_filled"),
        v.isNotNull().cast("int").alias("is_observed"),
    )


def growth_accounting(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    epoch_year: int = 1995,
) -> DataFrame:
    """Monthly growth accounting over active users: new (first active
    month), retained (also active the previous month), resurrected
    (active before, skipped last month), and churned (active last
    month, not this) — the canonical growth decomposition whose flows
    satisfy new + resurrected − churned = Δactive. Declarable as gold
    ``analysis: growth_accounting``; the ``growth_accounting_monthly``
    workload is this operator over ordering customers. Churn lands on
    the FIRST inactive month and only on months present in the
    activity domain. ``epoch_year`` anchors the integer month index.

    Gap-month caveat (ADVICE r10): output rows exist only for ACTIVE
    months — an interior month with zero total activity emits no row,
    so churn attributed to it is silently absent from the output and
    the n_new + n_resurrected − n_churned = Δactive identity holds
    only across CONTIGUOUS active months. For monthly business data
    this is the natural domain (a fully-dark month is itself the
    alert); a consumer that needs the dense identity should densify
    the month domain (min..max mi) before differencing rather than
    assume it here — densifying unconditionally would emit unbounded
    all-zero rows for sparse entity-level inputs.

    Scale: one distinct on (user, month-index), then self-equi-joins
    on (u, mi±1) — the same key family, co-partitioned after the first
    shuffle; rollups are |months|-row. Emits ``(month_index, n_new,
    n_retained, n_resurrected, n_churned)``.
    """
    a = checkpoint(
        events.where(F.col(user_col).isNotNull())
        .select(
            F.col(user_col).alias("u"),
            (
                (F.year(F.to_date(ts_col)) - epoch_year) * 12
                + F.month(F.to_date(ts_col))
                - 1
            ).alias("mi"),
        )
        .distinct()
    )
    fm = a.groupBy("u").agg(F.min("mi").alias("first_mi"))
    p = a.select(F.col("u").alias("pu"), (F.col("mi") + 1).alias("pmi"))
    cls = (
        a.join(fm, "u")
        .join(
            p,
            (F.col("u") == F.col("pu")) & (F.col("mi") == F.col("pmi")),
            "left",
        )
        .select(
            "mi",
            F.when(F.col("mi") == F.col("first_mi"), "new")
            .when(F.col("pu").isNotNull(), "retained")
            .otherwise("resurrected")
            .alias("kind"),
        )
    )
    act = cls.groupBy("mi").agg(
        F.sum((F.col("kind") == "new").cast("long")).alias("n_new"),
        F.sum((F.col("kind") == "retained").cast("long")).alias(
            "n_retained"
        ),
        F.sum((F.col("kind") == "resurrected").cast("long")).alias(
            "n_resurrected"
        ),
    )
    cur = a.select(F.col("u").alias("cu"), F.col("mi").alias("cmi"))
    ch = (
        a.join(
            cur,
            (F.col("u") == F.col("cu"))
            & (F.col("cmi") == F.col("mi") + 1),
            "left_anti",
        )
        .groupBy((F.col("mi") + 1).alias("chmi"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    return act.join(ch, act.mi == ch.chmi, "left").select(
        F.col("mi").alias("month_index"),
        "n_new", "n_retained", "n_resurrected",
        F.coalesce(F.col("n_churned"), F.lit(0)).alias("n_churned"),
    )
