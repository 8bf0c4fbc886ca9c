"""The driver-side upsert (``operators.merge.upsert_arrow`` and
``validate_unique_keys_arrow``) against Spark's ``upsert`` and
``validate_unique_keys``: the same rows for random targets and sources
with null keys, and the same duplicate-key error."""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from metadata_driven_etl_spark.operators.merge import (
    DuplicateSourceKeysError,
    upsert,
    upsert_arrow,
    validate_unique_keys,
    validate_unique_keys_arrow,
)

SCHEMA = "k1 long, k2 string, v long"
ARROW_SCHEMA = pa.schema([("k1", pa.int64()), ("k2", pa.string()), ("v", pa.int64())])
KEYS = ["k1", "k2"]
ROWS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 3)),
        st.sampled_from(["a", "b", None]),
        st.integers(-5, 5),
    ),
    max_size=12,
)


def _checked(check, frame):
    try:
        return ("rows", check(frame, KEYS))
    except DuplicateSourceKeysError as e:
        return ("raised", str(e))


@given(target=ROWS, source=ROWS)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_arrow_upsert_equals_spark_upsert(spark, target, source):
    tgt = spark.createDataFrame(target, SCHEMA)
    src = spark.createDataFrame(source, SCHEMA)
    a_tgt = pa.Table.from_pylist(
        [dict(zip(ARROW_SCHEMA.names, r)) for r in target], schema=ARROW_SCHEMA
    )
    a_src = pa.Table.from_pylist(
        [dict(zip(ARROW_SCHEMA.names, r)) for r in source], schema=ARROW_SCHEMA
    )

    spark_check = _checked(validate_unique_keys, src)
    arrow_check = _checked(validate_unique_keys_arrow, a_src)
    counts = Counter(r[:2] for r in source)
    worst = max(counts.values(), default=0)
    if sum(n == worst for n in counts.values()) == 1:
        assert arrow_check == spark_check
    else:  # a tie: either side may name any of the worst keys
        assert arrow_check[0] == spark_check[0]
        if spark_check[0] == "raised":
            prefix = f"merge source has {worst} rows for key "
            assert spark_check[1].startswith(prefix)
            assert arrow_check[1].startswith(prefix)
    if spark_check[0] == "raised":
        return

    want = Counter(map(tuple, upsert(tgt, src, KEYS).collect()))
    merged = upsert_arrow(a_tgt, a_src, KEYS)
    got = Counter(tuple(r.values()) for r in merged.to_pylist())
    assert got == want
    assert upsert_arrow(None, a_src, KEYS).equals(a_src)


def test_duplicate_timestamp_key_message_matches_spark(spark):
    """A timestamp key is reported as a Spark ``Row`` holds it (naive
    local time), so both paths raise the same message."""
    rows = [("2024-03-10 01:02:03", "a"), ("2024-03-10 01:02:03", "a")]
    src = spark.createDataFrame(rows, "ts string, g string").selectExpr(
        "CAST(ts AS TIMESTAMP) AS ts", "g"
    )
    with pytest.raises(DuplicateSourceKeysError) as spark_err:
        validate_unique_keys(src, ["ts", "g"])
    with pytest.raises(DuplicateSourceKeysError) as arrow_err:
        validate_unique_keys_arrow(src.toArrow(), ["ts", "g"])
    assert str(arrow_err.value) == str(spark_err.value)
