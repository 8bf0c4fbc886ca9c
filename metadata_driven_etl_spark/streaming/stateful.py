"""Custom stateful streaming operators (``applyInPandasWithState``).

The built-in ``F.session_window`` (streaming/windows.py) covers gap sessions
declaratively; this module is the *custom* stateful path the engine offers
when per-key state goes beyond what the built-ins express (per-session
aggregates, custom close conditions, emit-on-close, order-sensitive folds)
— the pattern a user would extend for arbitrary per-key state machines at
100 TB stream scale. State is a scalar-typed tuple per key (epoch micros as
longs, lists as JSON strings), so it round-trips through Arrow losslessly.

The operators differ in how the order of arrival may move the answer —
three ordering contracts:

- **Event time.** Disorder is repaired by the event-time watermark, which
  also bounds state: a key's state is evicted or flushed by an event-time
  timeout, never kept unbounded. Rows later than the watermark are dropped
  (Structured Streaming's late-data contract).
  - ``cusum_stateful``, ``rolling_zscore_stateful``, ``drawdown_stateful``
    and ``gap_record_stateful`` are EXACT: their folds are order-sensitive,
    so rows wait in a per-key pending buffer until the watermark passes
    them and fold in (ts, event_id) order. One factory,
    :func:`_event_time_fold`, holds that machinery; each twin supplies its
    registers and per-row step.
  - ``sessionize_stateful`` is tolerant: per user, an event extends the
    open session while it lands within ``gap_seconds`` of it (interval
    merge, so in-reach disorder is absorbed on arrival); a larger gap
    closes the session (emitted immediately) and opens a new one; the
    watermark passing end + gap closes and emits the open one.
- **Arrival order** (``lateness_monitor_stateful``): the disorder IS the
  statistic, so rows fold in micro-batch order with no pending buffer.
- **Order-free** (``active_days_monitor_stateful``): a set union, which no
  ordering can change.

Scale notes: per-key state is O(1) registers plus, for the event-time
operators, a buffer bounded by the watermark horizon. Shuffle is one hash
partitioning on the key. The sessionizer's batch backfill is
operators.windows.sessionize (property-tested equivalent); every twin's
batch ≡ stream parity is pinned in tests/test_streaming.py.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout


SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, total_value double"
)
# state carries epoch-micros (long) — pandas/arrow state round-trips longs
# losslessly, unlike tz-aware timestamps
SESSION_STATE_SCHEMA = (
    "session_start long, session_end long, n_events long, total_value double"
)


def sessionize_stateful(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """events (streaming DF) → closed sessions, via per-user custom state."""

    gap_us = gap_seconds * 1_000_000

    # Self-contained closure (no module-level references): cloudpickle ships
    # it by value so executors don't need this package importable.
    def track(key, pdfs, state):
        import datetime as _dt

        import pandas as pd

        def emit(start_us, end_us, n, total):
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [
                        _dt.datetime.fromtimestamp(start_us / 1e6, _dt.timezone.utc).replace(tzinfo=None)
                    ],
                    "session_end": [
                        _dt.datetime.fromtimestamp(end_us / 1e6, _dt.timezone.utc).replace(tzinfo=None)
                    ],
                    "n_events": [n],
                    "total_value": [total],
                }
            )

        if state.hasTimedOut:
            (start_us, end_us, n, total) = state.get
            state.remove()
            yield emit(start_us, end_us, n, total)
            return

        cur = state.get if state.exists else None
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            ts_us = (pdf["ts"].astype("int64")).tolist()  # ns → handled below
            # pandas datetime64[ns/us] → micros
            unit_div = 1000 if pdf["ts"].dtype.str.endswith("[ns]") else 1
            vals = pdf["value"].fillna(0.0).tolist()
            for t_raw, v in zip(ts_us, vals):
                t = t_raw // unit_div
                if cur is None:
                    cur = (t, t, 1, float(v))
                elif cur[0] - gap_us <= t <= cur[1] + gap_us:
                    # interval merge: in-order extension AND out-of-order
                    # events that land inside/adjacent to the open session
                    cur = (
                        min(cur[0], t),
                        max(cur[1], t),
                        cur[2] + 1,
                        cur[3] + float(v),
                    )
                elif t > cur[1] + gap_us:
                    out.append(cur)
                    cur = (t, t, 1, float(v))
                else:
                    # stray event far BEFORE the open session (out-of-order
                    # beyond merge reach): emit as its own fragment — an
                    # already-emitted earlier session can't be reopened
                    out.append((t, t, 1, float(v)))
        if cur is not None:
            close_at_ms = (cur[1] + gap_us) // 1000
            wm_ms = state.getCurrentWatermarkMs()
            if close_at_ms <= wm_ms:
                # watermark already passed end + gap: the session is final
                # (no on-time event can extend it) — emit now, keep no state
                if state.exists:
                    state.remove()
                out.append(cur)
            else:
                state.update(cur)
                # evict when the watermark passes session end + gap
                state.setTimeoutTimestamp(close_at_ms)
        for s in out:
            yield emit(*s)

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            track,
            SESSION_OUTPUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def _event_time_fold(registers, step, value_col, alert_col):
    """The per-key ``track`` function of an exact event-time fold.

    State is the registers, in state-schema order, then ``pending``: the
    rows newer than the watermark, as a JSON list of ``[ts_us, event_id]``
    plus the ``value_col`` value when one is given. ``registers`` holds the
    initial values; a list register rides in state as a JSON string.

    Each call drops the rows whose event time is at or before the
    watermark, adds the rest to ``pending``, and folds the pending rows the
    watermark has passed in (ts, event_id) order: ``step(regs, row)``
    updates the mutable register list and returns an alert value or None.
    An event-time timeout at the newest pending row folds the rest once the
    watermark passes it, so a key whose batches stop is still flushed.
    Every alert is one output row ``(key, event_id, alert_col)``.

    ``track`` and every ``step`` are closures that import what they need
    inside themselves and reference no module-level name: cloudpickle then
    ships them by value, so executors need not import this package. A
    module-level helper called from either would be pickled by reference
    (tests/test_stateful_fold.py checks this)."""
    is_json = [isinstance(r, list) for r in registers]
    initial = [json.dumps(r) if j else r for r, j in zip(registers, is_json)]
    initial.append("[]")

    def track(key, pdfs, state):
        import json

        import pandas as pd

        *saved, pend_json = state.get if state.exists else initial
        regs = [json.loads(v) if j else int(v) for v, j in zip(saved, is_json)]
        pending = json.loads(pend_json)

        if state.hasTimedOut:
            # the watermark passed every pending row: fold them all
            ready, pending = pending, []
        else:
            wm_ms = state.getCurrentWatermarkMs()
            for pdf in pdfs:
                unit_div = 1000 if pdf["ts"].dtype.str.endswith("[ns]") else 1
                cols = [
                    pdf["ts"].astype("int64").tolist(),
                    pdf["event_id"].tolist(),
                ]
                if value_col:
                    cols.append(pdf[value_col].tolist())
                for t_raw, *rest in zip(*cols):
                    t_us = int(t_raw) // unit_div
                    # a row at or before the watermark is late: dropped
                    if t_us // 1000 > wm_ms:
                        pending.append([t_us, *map(int, rest)])
            ready = [r for r in pending if r[0] // 1000 <= wm_ms]
            pending = [r for r in pending if r[0] // 1000 > wm_ms]

        alerts = []
        for row in sorted(ready):
            alert = step(regs, row)
            if alert is not None:
                alerts.append((row[1], alert))
        state.update(
            tuple(json.dumps(v) if j else v for v, j in zip(regs, is_json))
            + (json.dumps(pending),)
        )
        if pending:
            # flush via timeout once the watermark passes the newest row
            state.setTimeoutTimestamp(max(r[0] for r in pending) // 1000 + 1)
        if alerts:
            yield pd.DataFrame(
                {
                    "event_type": [key[0]] * len(alerts),
                    "event_id": [a[0] for a in alerts],
                    alert_col: [a[1] for a in alerts],
                }
            )

    return track


CUSUM_OUTPUT_SCHEMA = "event_type string, event_id long, cusum_cents long"
# the clamp-identity registers (exact bigints), then the pending buffer
# (_event_time_fold)
CUSUM_STATE_SCHEMA = "psum long, minp long, pending string"


def cusum_stateful(
    events: DataFrame,
    k_cents: int = 6_000,
    h_cents: int = 50_000,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Streaming one-sided CUSUM change alerts per event type — the
    stateful twin of the batch ``cusum_alerts_by_type`` workload, with
    EXACT event-time semantics: S_t = max(0, S_{t-1} + (x_t − K)) folded
    strictly in (event time, id) order, alerts where S_t > H.

    The fold runs through the clamp-identity registers (psum,
    min-prefix), both exact bigints: S = psum − min-prefix. Ordering,
    late data and the pending buffer follow :func:`_event_time_fold`.
    State per key: two longs + the watermark-bounded pending buffer.
    """
    pre = events.select(
        F.col(type_col).alias("event_type"),
        F.col(ts_col).alias("ts"),
        F.col(order_col).alias("event_id"),
        (
            F.floor(F.col(value_col) * 100 + 0.5).cast("long")
            - F.lit(k_cents).cast("long")
        ).alias("delta"),
    )
    h = int(h_cents)

    def step(regs, row):
        regs[0] += row[2]
        regs[1] = min(regs[1], regs[0])
        s = regs[0] - regs[1]
        return s if s > h else None

    return (
        pre.withWatermark("ts", watermark)
        .groupBy("event_type")
        .applyInPandasWithState(
            _event_time_fold((0, 0), step, "delta", "cusum_cents"),
            CUSUM_OUTPUT_SCHEMA,
            CUSUM_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


ZSCORE_OUTPUT_SCHEMA = "event_type string, event_id long, zscore double"
# exact integer moment registers for the trailing window and the window
# contents, then the pending buffer (_event_time_fold)
ZSCORE_STATE_SCHEMA = "s long, s2 long, win string, pending string"


def rolling_zscore_stateful(
    events: DataFrame,
    win_rows: int = 100,
    z_thresh: int = 3,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Streaming trailing-window z-score anomaly alerts per event type —
    the stateful twin of the batch ``window_rolling_zscore`` workload,
    with EXACT event-time semantics: for each row, z is computed over
    the trailing ``win_rows`` rows (inclusive) in strict (event time,
    id) order via the identity z = (n·x − S) / √(n·S2 − S²) with the
    moments held as exact int64 registers (the batch probe's 6× lesson:
    int64 beats decimal for sliding-frame state), alerting |z| > thresh
    where the variance numerator is positive.

    Parity: Python ints convert to float correctly-rounded (same as the
    JVM's long→double), and /, √ are correctly rounded in both — so the
    emitted double is bit-identical to the batch window form
    (stream ≡ batch pinned in tests/test_streaming.py).

    Ordering, late data and the pending buffer follow
    :func:`_event_time_fold`. State per key: two int64 moments +
    ≤win_rows window values + the watermark-bounded pending buffer.
    """
    pre = events.select(
        F.col(type_col).alias("event_type"),
        F.col(ts_col).alias("ts"),
        F.col(order_col).alias("event_id"),
        F.floor(F.col(value_col) * 100 + 0.5).cast("long").alias("x"),
    )
    w, thresh = int(win_rows), int(z_thresh)

    def step(regs, row):
        import math

        s, s2, win = regs
        x = row[2]
        win.append(x)
        s += x
        s2 += x * x
        if len(win) > w:
            old = win.pop(0)
            s -= old
            s2 -= old * old
        regs[0], regs[1] = s, s2
        n = len(win)
        var_num = n * s2 - s * s
        if var_num > 0:
            z = float(n * x - s) / math.sqrt(float(var_num))
            if z > thresh or z < -thresh:
                return z
        return None

    return (
        pre.withWatermark("ts", watermark)
        .groupBy("event_type")
        .applyInPandasWithState(
            _event_time_fold((0, 0, []), step, "x", "zscore"),
            ZSCORE_OUTPUT_SCHEMA,
            ZSCORE_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


DRAWDOWN_OUTPUT_SCHEMA = (
    "event_type string, event_id long, drawdown_cents long"
)
# three exact integer registers (cumulative cents, running peak, max
# drawdown so far), then the pending buffer (_event_time_fold)
DRAWDOWN_STATE_SCHEMA = "cum long, peak long, maxdd long, pending string"


def drawdown_stateful(
    events: DataFrame,
    drift_cents: int = 0,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Streaming high-water-mark drawdown alerts per event type — the
    stateful twin of the batch max_drawdown shape, with EXACT
    event-time semantics: fold rows strictly in (event time, id)
    order, cum += cents, peak = max(peak, cum) (peak starts at 0), and
    emit a row whenever drawdown = peak − cum sets a NEW maximum — the
    "we are deeper under water than ever before" alert the batch
    argmax readout can only see after the fact. ``drift_cents`` is
    subtracted from every value before folding (drawdown of the
    cumulative NET of the expected run rate — an always-positive value
    stream never draws down raw, exactly as an always-up equity curve
    never does; the CUSUM K-drift discipline).

    Ordering, late data and the pending buffer follow
    :func:`_event_time_fold`. State per key: three longs + the
    watermark-bounded pending buffer.
    """
    pre = events.select(
        F.col(type_col).alias("event_type"),
        F.col(ts_col).alias("ts"),
        F.col(order_col).alias("event_id"),
        (
            F.floor(F.col(value_col) * 100 + 0.5).cast("long")
            - F.lit(int(drift_cents)).cast("long")
        ).alias("cents"),
    )

    def step(regs, row):
        regs[0] += row[2]
        regs[1] = max(regs[1], regs[0])
        dd = regs[1] - regs[0]
        if dd > regs[2]:
            regs[2] = dd
            return dd
        return None

    return (
        pre.withWatermark("ts", watermark)
        .groupBy("event_type")
        .applyInPandasWithState(
            _event_time_fold((0, 0, 0), step, "cents", "drawdown_cents"),
            DRAWDOWN_OUTPUT_SCHEMA,
            DRAWDOWN_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


GAP_RECORD_OUTPUT_SCHEMA = "event_type string, event_id long, gap_us long"
GAP_RECORD_STATE_SCHEMA = "last_us long, max_gap long, pending string"


def gap_record_stateful(
    events: DataFrame,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    user_col: str = "user_id",
) -> DataFrame:
    """Streaming record-silence alerts per event type — the stateful
    twin of the batch ``silence_record_alerts`` workload: fold events
    strictly in (event time, id) order, track the last event time and
    the maximum interarrival gap seen, and emit a row whenever a gap
    sets a NEW per-type record (the first gap always alerts, matching
    the batch form's NULL prev-max) — the zero-configuration outage
    detector ("we have never been this quiet") a fixed staleness
    threshold approximates badly.

    Ordering, late data and the pending buffer follow
    :func:`_event_time_fold`. State per key: two longs, the last event
    time and the record gap (-2 before the first event, -1 before the
    first gap, so an event time of any sign counts) + the
    watermark-bounded pending buffer.
    """
    pre = events.where(F.col(user_col).isNotNull()).select(
        F.col(type_col).alias("event_type"),
        F.col(ts_col).alias("ts"),
        F.col(order_col).alias("event_id"),
    )

    def step(regs, row):
        last_us, max_gap = regs
        regs[0] = row[0]
        if max_gap == -2:
            regs[1] = -1
        elif row[0] - last_us > max_gap:
            regs[1] = row[0] - last_us
            return regs[1]
        return None

    return (
        pre.withWatermark("ts", watermark)
        .groupBy("event_type")
        .applyInPandasWithState(
            _event_time_fold((-1, -2), step, None, "gap_us"),
            GAP_RECORD_OUTPUT_SCHEMA,
            GAP_RECORD_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


LATENESS_OUTPUT_SCHEMA = (
    "event_type string, n_events long, n_late long, "
    "max_late_us long, total_late_us long"
)
LATENESS_STATE_SCHEMA = (
    "max_us long, n long, n_late long, max_late long, total_late long"
)


def lateness_monitor_stateful(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Streaming out-of-order-arrival monitor per event type — the
    stateful twin of the batch ``out_of_order_arrival_stats`` workload:
    each arriving event is compared against the maximum EVENT TIME seen
    so far for its type; an earlier timestamp is a late arrival and its
    lateness (µs) accumulates into exact-bigint counters. Emits one
    cumulative snapshot row per key per micro-batch; the latest row IS
    the live watermark-sizing readout (max_late_us is the smallest
    no-data-loss watermark).

    Ordering contract — deliberately DIFFERENT from the CUSUM/z-score/
    drawdown/gap twins: those repair disorder (pending buffer + event-
    time watermark, folding in (ts, id) order) because their statistic
    is defined over event time. Here the disorder IS the statistic, so
    rows fold in ARRIVAL order (micro-batch order, ``order_col``-sorted
    within each batch — the per-batch ingestion tiebreak). Replaying a
    stream in ingestion order reproduces the batch workload's event_id
    fold bit-for-bit (tests/test_streaming.py); no pending buffer, no
    timeout — state per key is five longs, strictly bounded.

    Scale: one hash shuffle on the type key; per-key state O(1); the
    emitted stream is |keys| rows per micro-batch."""
    pre = events.select(
        F.col(type_col).alias("event_type"),
        F.col(ts_col).alias("ts"),
        F.col(order_col).alias("event_id"),
    )

    def track(key, pdfs, state):
        import pandas as pd

        if state.exists:
            max_us, n, n_late, max_late, total_late = (
                int(x) for x in state.get
            )
        else:
            max_us, n, n_late, max_late, total_late = -1, 0, 0, 0, 0

        rows = []
        for pdf in pdfs:
            ts_raw = pdf["ts"].astype("int64")
            unit_div = 1000 if pdf["ts"].dtype.str.endswith("[ns]") else 1
            rows.extend(
                (int(eid), int(t) // unit_div)
                for eid, t in zip(pdf["event_id"].tolist(), ts_raw.tolist())
            )
        rows.sort()  # per-batch ingestion tiebreak: event_id order
        for _eid, t_us in rows:
            # "no max yet" is n == 0, NOT a timestamp sentinel: a -1
            # sentinel would silently swallow pre-epoch (negative
            # unix-micro) timestamps and break stream≡batch bit-parity
            # with out_of_order_arrival_stats, whose window MAX starts
            # NULL (ADVICE r11). Once any event has folded, compare
            # unconditionally.
            if n > 0 and max_us > t_us:
                late = max_us - t_us
                n_late += 1
                total_late += late
                if late > max_late:
                    max_late = late
            n += 1
            if n == 1 or t_us > max_us:
                max_us = t_us
        state.update((max_us, n, n_late, max_late, total_late))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_events": [n],
                "n_late": [n_late],
                "max_late_us": [max_late],
                "total_late_us": [total_late],
            }
        )

    return pre.groupBy("event_type").applyInPandasWithState(
        track,
        LATENESS_OUTPUT_SCHEMA,
        LATENESS_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


ACTIVE_DAYS_OUTPUT_SCHEMA = "user_id long, n_active_days long"
# the distinct-day set rides as a JSON int list: calendar-bounded
# (|days| ≤ a few thousand for any realistic observation window), and
# scalar-typed for the Arrow round-trip like every other twin's state
ACTIVE_DAYS_STATE_SCHEMA = "days string, n long"


def active_days_monitor_stateful(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming distinct-active-days counter per user — the stateful
    twin of the batch ``active_days_histogram``'s per-user core, and a
    NEW point in the twin taxonomy: the statistic is a SET UNION, so it
    is COMMUTATIVE in arrival order.  The CUSUM/z-score/drawdown/gap
    twins must repair disorder (pending buffer + watermark) because
    their folds are order-sensitive; the lateness monitor deliberately
    folds in arrival order because disorder IS its statistic; here
    neither machinery exists because no ordering can change the
    answer — replaying the stream in ANY batch partition of the events
    reproduces the batch count bit-for-bit (tests prove an adversarial
    interleaving).

    State per user is the distinct-day set (days since epoch, exact
    integer floor division — pre-epoch timestamps land on negative
    indexes, no sentinel involved) as a JSON int list plus its size:
    bounded by the CALENDAR, not the event volume, the same
    value-domain bound the batch histogram rides.  Emits one cumulative
    (user, n_active_days) snapshot per key per micro-batch; the latest
    row per key is the live engagement-depth readout.

    Scale: one hash shuffle on the user key; per-key state O(|days|);
    emitted rows per batch = keys present in that batch only."""
    import json

    pre = events.select(
        F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("tus"),
    )

    def track(key, pdfs, state):
        import pandas as pd

        if state.exists:
            days_json, n = state.get
            days = set(json.loads(days_json))
        else:
            days = set()
        for pdf in pdfs:
            for t_us in pdf["tus"].astype("int64").tolist():
                days.add(int(t_us) // 86_400_000_000)
        n = len(days)
        state.update((json.dumps(sorted(days)), n))
        yield pd.DataFrame({"user_id": [key[0]], "n_active_days": [n]})

    return pre.groupBy("user_id").applyInPandasWithState(
        track,
        ACTIVE_DAYS_OUTPUT_SCHEMA,
        ACTIVE_DAYS_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
