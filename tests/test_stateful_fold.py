"""Fast guards for the exact event-time fold (``_event_time_fold`` in
streaming/stateful.py) behind ``cusum_stateful``,
``rolling_zscore_stateful``, ``drawdown_stateful`` and
``gap_record_stateful``.

The batch ≡ stream parity tests in tests/test_streaming.py run these
operators through Spark and are slow-tier. Here each twin's per-key
``track`` function is captured from its ``applyInPandasWithState`` call and
driven with a fake ``GroupState``; it is also pickled the way PySpark ships
it and loaded in a process that cannot import this package."""

from __future__ import annotations

import json
import subprocess
import sys
import textwrap

import pandas as pd
import pytest
from pyspark.sql.group import GroupedData
from pyspark.sql.streaming.state import GroupStateTimeout

from metadata_driven_etl_spark.streaming import stateful

T0 = 1_700_000_000  # epoch seconds; every row time below is T0 + offset
LATE, B, A, C = 50, 150, 200, 1_000  # event-time offsets in seconds

# name -> (twin with its thresholds, its state schema, row values of
# LATE/B/A/C, alerts of the second call, alerts of the timeout flush, final
# registers). Values are the projected column (cents). Folding the LATE row
# would change the answer, and so would folding B and A out of (ts, id)
# order.
TWINS = {
    "cusum": (
        lambda ev: stateful.cusum_stateful(ev, k_cents=0, h_cents=0),
        stateful.CUSUM_STATE_SCHEMA,
        (5_000, 100, 200, 300),
        [(2, 100), (3, 300)],
        [(4, 600)],
        [600, 0],
    ),
    "zscore": (
        lambda ev: stateful.rolling_zscore_stateful(ev, win_rows=2, z_thresh=0),
        stateful.ZSCORE_STATE_SCHEMA,
        (99_999, 100, 300, 500),
        [(3, 1.0)],
        [(4, 1.0)],
        [800, 340_000, [300, 500]],
    ),
    "drawdown": (
        stateful.drawdown_stateful,
        stateful.DRAWDOWN_STATE_SCHEMA,
        (100_000, -100, 50, -300),
        [(2, 100)],
        [(4, 350)],
        [-350, 0, 350],
    ),
    "gap_record": (
        stateful.gap_record_stateful,
        stateful.GAP_RECORD_STATE_SCHEMA,
        (None,) * 4,
        [(3, 50_000_000)],
        [(4, 800_000_000)],
        [(T0 + C) * 1_000_000, 800_000_000],
    ),
}


class FakeState:
    """The part of pyspark's ``GroupState`` that ``track`` uses."""

    def __init__(self):
        self.value = None
        self.hasTimedOut = False
        self.watermark_ms = None
        self.timeout_ms = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value

    def remove(self):
        self.value = None

    def getCurrentWatermarkMs(self):
        return self.watermark_ms

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


@pytest.fixture()
def capture(spark, monkeypatch):
    """``capture(twin)`` builds the twin over an empty batch frame and
    returns what it passed to ``applyInPandasWithState``."""
    seen = {}

    def record(self, func, outputStructType, stateStructType, outputMode, timeoutConf):
        seen.update(
            track=func, columns=self._df.columns, output=outputStructType,
            state=stateStructType, timeout=timeoutConf,
        )

    monkeypatch.setattr(GroupedData, "applyInPandasWithState", record)
    events = spark.createDataFrame(
        [], "ts timestamp, event_type string, event_id long, value double, user_id long"
    )

    def run(twin):
        seen.clear()
        twin(events)
        value_cols = seen["columns"][3:]
        seen["value_col"] = value_cols[0] if value_cols else None
        return seen

    return run


def _frame(value_col, rows, unit, t0=T0):
    """Projected rows ``(offset_s, event_id, value)`` with ``ts`` (``t0``
    plus the offset) in datetime64[``unit``]."""
    pdf = pd.DataFrame(
        {
            "event_type": ["t"] * len(rows),
            "ts": pd.to_datetime([t0 + r[0] for r in rows], unit="s").astype(
                f"datetime64[{unit}]"
            ),
            "event_id": [r[1] for r in rows],
        }
    )
    if value_col:
        pdf[value_col] = [r[2] for r in rows]
    return pdf


def _names(schema):
    return [f.split()[0] for f in schema.split(",")]


def _call(got, state, frames=()):
    """One ``track`` call on key ``t``: its alerts as (event_id, value)."""
    alerts = []
    for pdf in got["track"](("t",), iter(frames), state):
        assert list(pdf.columns) == _names(got["output"])
        alerts += [(r[1], r[2]) for r in pdf.itertuples(index=False)]
    return alerts


@pytest.mark.parametrize("name", sorted(TWINS))
def test_track_drops_late_rows_buffers_and_flushes_in_event_time_order(
    capture, name
):
    twin, schema, values, alerts_2, alerts_3, registers = TWINS[name]
    got = capture(twin)
    assert got["state"] is schema
    assert got["timeout"] == GroupStateTimeout.EventTimeTimeout
    col = got["value_col"]
    assert (col is None) == (values[0] is None)
    late, b, a, c = zip((LATE, B, A, C), (1, 2, 3, 4), values)
    state = FakeState()

    # 1: the watermark is past the LATE row only; B, A and C wait
    state.watermark_ms = (T0 + 100) * 1000
    frames = [_frame(col, [a, late], "ns"), _frame(col, [c, b], "us")]
    assert _call(got, state, frames) == []
    fields = [f.split() for f in schema.split(",")]
    assert len(state.value) == len(fields) and fields[-1] == ["pending", "string"]
    for (_, typ), v in zip(fields, state.value):
        if typ == "string":
            assert isinstance(json.loads(v), list)
        else:
            assert typ == "long" and type(v) is int
    pending = json.loads(state.value[-1])
    assert sorted(r[:2] for r in pending) == [
        [(T0 + off) * 1_000_000, eid] for off, eid, _ in (b, a, c)
    ]
    assert state.timeout_ms == (T0 + C) * 1000 + 1

    # 2: the watermark passes B and A (folded B first); C is carried over
    state.watermark_ms = (T0 + 300) * 1000
    assert _call(got, state) == alerts_2
    assert [r[1] for r in json.loads(state.value[-1])] == [4]

    # 3: the event-time timeout flushes C
    state.hasTimedOut = True
    assert _call(got, state) == alerts_3
    *regs, pend = state.value
    assert json.loads(pend) == []
    assert [json.loads(v) if isinstance(v, str) else v for v in regs] == registers


def test_gap_record_first_gap_alerts_before_1970(capture):
    """The first gap always alerts, also for a type whose events all fall
    before 1970 (negative event times)."""
    got = capture(stateful.gap_record_stateful)
    t0 = -1_700_000_000
    state = FakeState()
    state.watermark_ms = (t0 - 1) * 1000
    frames = [_frame(None, [(0, 1), (100, 2), (400, 3)], "us", t0)]
    assert _call(got, state, frames) == []
    state.hasTimedOut = True
    assert _call(got, state) == [(2, 100_000_000), (3, 300_000_000)]


LOAD_WITHOUT_PACKAGE = textwrap.dedent(
    """
    import pickle
    import sys

    import pandas as pd

    sys.modules["metadata_driven_etl_spark"] = None  # importing it now fails
    track = pickle.loads(open(sys.argv[1], "rb").read())
    value_col = sys.argv[2] or None


    class State:
        exists = property(lambda self: self.value is not None)
        get = property(lambda self: self.value)
        value, hasTimedOut = None, False

        def update(self, value):
            self.value = value

        def getCurrentWatermarkMs(self):
            return 0

        def setTimeoutTimestamp(self, ms):
            pass


    pdf = pd.DataFrame(
        {"ts": pd.to_datetime([1_700_000_000], unit="s"), "event_id": [1]}
    )
    if value_col:
        pdf[value_col] = [1]
    state = State()
    list(track(("t",), iter([pdf]), state))
    state.hasTimedOut = True
    list(track(("t",), iter([]), state))
    print(state.value[-1])
    """
)


@pytest.mark.parametrize("name", sorted(TWINS))
def test_track_pickles_by_value(capture, name, tmp_path):
    """PySpark ships ``track`` with cloudpickle, which pickles a nested
    function by value but a module-level one by reference; a reference to
    this package would need it importable on every executor."""
    from pyspark import cloudpickle

    got = capture(TWINS[name][0])
    payload = tmp_path / "track.pkl"
    payload.write_bytes(cloudpickle.dumps(got["track"]))
    proc = subprocess.run(
        [sys.executable, "-c", LOAD_WITHOUT_PACKAGE, str(payload),
         got["value_col"] or ""],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "[]"  # the row was buffered, then flushed
