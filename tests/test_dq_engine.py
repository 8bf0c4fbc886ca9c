"""DQ engine unit tests: NULL semantics, partition invariants, actions.

These encode the invariants the reference violates (SURVEY.md §2.14 #2/#10):
valid + invalid = total for every rule (even with NULLs), tag never changes
row count, filter output ⊆ input, reject raises.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metadata_driven_etl_spark.config.model import DQRuleConfig
from metadata_driven_etl_spark.dq.engine import DataQualityEngine, DQRejectError


@pytest.fixture()
def dq(spark):
    return DataQualityEngine(spark)


@pytest.fixture()
def df(spark):
    rows = [
        (1, "a@x.com", 10.0),
        (2, None, -5.0),
        (3, "bad-email", None),
        (4, "b@y.org", 20.0),
        (4, "c@z.io", 30.0),  # duplicate id
    ]
    return spark.createDataFrame(rows, "id int, email string, amount double")


def _rule(**kw):
    return DQRuleConfig.from_dict(kw)


def test_not_null_counts(dq, df):
    res = dq.apply(df, [_rule(rule_name="r", rule_type="not_null",
                              column="email", action_on_failure="tag")])
    m = res.metrics[0]
    assert (m.valid_count, m.invalid_count, m.total_count) == (4, 1, 5)
    assert res.df.count() == 5  # tag never drops rows


def test_regex_null_is_invalid(dq, df):
    """NULL email is INVALID, not uncounted (reference bug §2.14#10)."""
    res = dq.apply(df, [_rule(rule_name="r", rule_type="regex", column="email",
                              pattern="^[^@]+@[^@]+\\.[a-z]+$",
                              action_on_failure="tag")])
    m = res.metrics[0]
    assert m.valid_count + m.invalid_count == m.total_count
    assert m.invalid_count == 2  # NULL + 'bad-email'
    flags = {r.id: r["dq_r_flag"] for r in res.df.collect()}
    assert flags[2] == "INVALID"


def test_expression_null_is_invalid(dq, df):
    res = dq.apply(df, [_rule(rule_name="r", rule_type="expression",
                              expression="amount > 0",
                              action_on_failure="filter")])
    m = res.metrics[0]
    assert m.invalid_count == 2  # -5.0 and NULL
    out = res.df.collect()
    assert len(out) == 3 and all(r.amount > 0 for r in out)


def test_uniqueness_window(dq, df):
    res = dq.apply(df, [_rule(rule_name="u", rule_type="uniqueness",
                              columns=["id"], action_on_failure="tag")])
    m = res.metrics[0]
    assert m.invalid_count == 2  # both rows of the duplicated id
    flags = [(r.id, r["dq_u_flag"]) for r in res.df.collect()]
    assert sum(1 for _, f in flags if f == "INVALID") == 2


def test_referential_integrity(spark, dq, df):
    spark.createDataFrame([(1,), (2,), (3,)], "ref_id int").createOrReplaceTempView(
        "dq_ref_ids"
    )
    # temp view is visible via spark.table
    res = dq.apply(df, [_rule(rule_name="ri", rule_type="referential_integrity",
                              column="id", ref_table="dq_ref_ids",
                              ref_column="ref_id", action_on_failure="filter")])
    m = res.metrics[0]
    assert m.invalid_count == 2  # the two id=4 rows
    assert sorted(r.id for r in res.df.collect()) == [1, 2, 3]
    assert res.df.columns == df.columns  # helper columns dropped


def test_reject_raises(dq, df):
    with pytest.raises(DQRejectError):
        dq.apply(df, [_rule(rule_name="r", rule_type="not_null", column="email",
                            action_on_failure="reject")])


def test_reject_passes_when_clean(dq, df):
    res = dq.apply(df, [_rule(rule_name="r", rule_type="not_null", column="id",
                              action_on_failure="reject")])
    assert res.metrics[0].invalid_count == 0
    assert res.df.count() == 5


def test_multiple_rules_single_pass(dq, df):
    """All rule metrics come from one aggregation over one lineage."""
    rules = [
        _rule(rule_name="a", rule_type="not_null", column="email",
              action_on_failure="tag"),
        _rule(rule_name="b", rule_type="expression", expression="amount > 0",
              action_on_failure="filter"),
        _rule(rule_name="c", rule_type="uniqueness", columns=["id"],
              action_on_failure="tag"),
    ]
    res = dq.apply(df, rules)
    assert [m.rule_name for m in res.metrics] == ["a", "b", "c"]
    for m in res.metrics:
        assert m.valid_count + m.invalid_count == m.total_count == 5
    out = res.df
    assert set(out.columns) == set(df.columns) | {"dq_a_flag", "dq_c_flag"}
    assert out.count() == 3  # filter rule applied


def test_zscore_outlier_rule(spark, dq):
    """zscore_outlier: far-out value and NULL are INVALID, bulk is VALID;
    partition invariant holds; filter drops exactly the outlier+null."""
    rows = [(i, 10.0 + (i % 3)) for i in range(40)] + [(98, 1000.0), (99, None)]
    df = spark.createDataFrame(rows, "id int, v double")
    rule = _rule(rule_name="v_z", rule_type="zscore_outlier", column="v",
                 threshold=3.0, action_on_failure="tag")
    res = dq.apply(df, [rule])
    m = res.metrics[0]
    assert m.total_count == 42
    assert m.invalid_count == 2  # the 1000.0 outlier and the NULL
    assert m.valid_count + m.invalid_count == m.total_count
    tagged = {r.id: r.dq_v_z_flag for r in res.df.collect()}
    assert tagged[98] == "INVALID" and tagged[99] == "INVALID"
    assert tagged[0] == "VALID"
    # filter action keeps only inliers
    rule_f = _rule(rule_name="v_z", rule_type="zscore_outlier", column="v",
                   threshold=3.0, action_on_failure="filter")
    res_f = dq.apply(df, [rule_f])
    assert res_f.df.count() == 40


def test_zscore_constant_column_all_valid(spark, dq):
    df = spark.createDataFrame([(i, 7.0) for i in range(10)], "id int, v double")
    rule = _rule(rule_name="c_z", rule_type="zscore_outlier", column="v",
                 action_on_failure="tag")
    res = dq.apply(df, [rule])
    assert res.metrics[0].invalid_count == 0


def test_profile_suggested_rules_pass_on_profiled_data(spark, sf_dir):
    """The metadata loop: rules derived from a table's profile must all
    PASS when evaluated on that same table (they describe it), and the
    expected families are suggested for known columns."""
    from metadata_driven_etl_spark.catalog import load_table
    from metadata_driven_etl_spark.dq.engine import DataQualityEngine
    from metadata_driven_etl_spark.operators.profiling import (
        profile_table,
        suggest_rules,
    )

    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    rules = suggest_rules(profile_table(orders, cols), dtypes=dict(orders.dtypes))
    names = {r.rule_name for r in rules}
    assert "o_orderkey_not_null" in names
    assert "o_orderkey_unique" in names  # primary key ⇒ candidate key
    assert "o_totalprice_in_range" in names
    assert "o_orderstatus_unique" not in names  # low-cardinality column

    metrics = DataQualityEngine(spark).metrics_df(orders, rules).collect()
    assert metrics and all(m.invalid_count == 0 for m in metrics)
    assert {m.rule_name for m in metrics} == {r.rule_name for r in rules}


def test_suggest_rules_no_numeric_range_on_digit_like_strings(spark):
    """ADVICE r3: a STRING column of zero-padded codes ('01'..'10') must
    not get a numeric range rule — the implicit string→double cast would
    change comparison semantics vs native string ordering."""
    from pyspark.sql import functions as F

    from metadata_driven_etl_spark.operators.profiling import (
        profile_table,
        suggest_rules,
    )

    codes = spark.range(1, 11).select(
        F.lpad(F.col("id").cast("string"), 2, "0").alias("code"),
        F.col("id").alias("qty"),
    )
    rules = suggest_rules(profile_table(codes), dtypes=dict(codes.dtypes))
    names = {r.rule_name for r in rules}
    assert "qty_in_range" in names  # true numeric column still gets one
    assert "code_in_range" not in names  # string column: gated out


def test_profile_drift_flags(spark, sf_dir):
    from metadata_driven_etl_spark.catalog import load_table
    from metadata_driven_etl_spark.operators.profiling import (
        profile_drift,
        profile_table,
    )

    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus"]
    baseline = profile_table(orders, cols)

    # no drift against itself
    same = {r.column_name: r for r in profile_drift(baseline, baseline).collect()}
    assert all(
        not (
            r.null_rate_drift
            or r.cardinality_collapse
            or r.range_changed
            or r.range_expanded
        )
        for r in same.values()
    )

    # corrupt today's load: null out most keys, collapse status values
    from pyspark.sql import functions as F

    corrupted = orders.withColumn(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 == 0, F.col("o_orderkey")),
    ).withColumn("o_orderstatus", F.lit("X"))
    drift = {
        r.column_name: r
        for r in profile_drift(profile_table(corrupted, cols), baseline).collect()
    }
    assert drift["o_orderkey"].null_rate_drift
    assert drift["o_orderkey"].cardinality_collapse
    # 'X' > max('F','O','P'): the envelope moved OUT — both signals fire
    assert drift["o_orderstatus"].range_changed
    assert drift["o_orderstatus"].range_expanded

    # range CONTRACTION (constant 'O' within the old envelope): changed
    # fires, expanded must NOT — the alertable signal stays quiet
    contracted = orders.withColumn("o_orderstatus", F.lit("O"))
    drift2 = {
        r.column_name: r
        for r in profile_drift(profile_table(contracted, cols), baseline).collect()
    }
    assert drift2["o_orderstatus"].range_changed
    assert not drift2["o_orderstatus"].range_expanded

    # NUMERIC expansion where lexicographic string order DISAGREES with
    # numeric order: shift every key up by 1_000_000 — the new max (e.g.
    # '1149999') sorts BELOW the old max ('149999') as a string but is
    # numerically larger, so only the numeric path fires the signal; and
    # a numeric contraction (keys % 100, new max '99' ABOVE the old max
    # string-wise) must NOT fire.
    kcols = ["o_orderkey"]
    kbase = profile_table(orders, kcols)
    grown = profile_table(
        orders.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(1_000_000)
        ),
        kcols,
    )
    g = profile_drift(grown, kbase).collect()[0]
    assert g.range_expanded, "numeric max growth must register as expansion"
    shrunk = profile_table(
        orders.withColumn("o_orderkey", F.col("o_orderkey") % 100), kcols
    )
    s = profile_drift(shrunk, kbase).collect()[0]
    assert s.range_changed and not s.range_expanded, (
        "numeric contraction must not fire the alertable signal"
    )

    # bigint beyond 2^53: adjacent ids must keep exact order (a double
    # roundtrip would collapse them to equal and silence the signal)
    big = 1_500_000_000_000_000_001
    b0 = profile_table(
        orders.withColumn("o_orderkey", F.lit(big) + F.col("o_orderkey") * 0),
        kcols,
    )
    b1 = profile_table(
        orders.withColumn(
            "o_orderkey", F.lit(big + 1) + F.col("o_orderkey") * 0
        ),
        kcols,
    )
    bg = profile_drift(b1, b0).collect()[0]
    assert bg.range_expanded, "adjacent >2^53 ids must register as expansion"


def test_benford_digit_rule(spark, dq):
    """benford_digit is a BATCH gate: a Benford-distributed column passes
    (every row valid); a fabricated uniform-first-digit column fails
    (every row invalid). Zero/NULL rows carry no digit and stay valid in
    a passing batch."""
    import math
    import random

    rng = random.Random(7)
    # Benford-ish sample: magnitudes uniform in log-space
    good = [(i, float(10 ** (rng.uniform(0, 4)))) for i in range(2000)]
    df_good = spark.createDataFrame(good + [(9998, 0.0), (9999, None)],
                                    "id int, v double")
    rule = _rule(rule_name="b", rule_type="benford_digit", column="v",
                 threshold=26.12, action_on_failure="tag")
    res = dq.apply(df_good, [rule])
    assert res.metrics[0].invalid_count == 0

    # fabricated: every value starts with digit 9
    bad = [(i, 9000.0 + i % 100) for i in range(2000)]
    df_bad = spark.createDataFrame(bad, "id int, v double")
    res_bad = dq.apply(df_bad, [rule])
    m = res_bad.metrics[0]
    assert m.invalid_count == m.total_count == 2000

    # sanity on the statistic scale: chi2(8) p=0.001 threshold separates
    assert math.log10(2) > 0.3  # guard the embedded constant family


def test_benford_digit_requires_explicit_threshold():
    import pytest as _pytest

    from metadata_driven_etl_spark.config.model import ConfigError

    with _pytest.raises(ConfigError, match="benford_digit"):
        _rule(rule_name="b", rule_type="benford_digit", column="v")


def test_benford_digit_counts_absent_digits(spark, dq):
    """A batch that omits digits entirely must pay the n*p_d expected
    term for each missing digit — the reviewer-found understatement:
    15 values all starting with '1' compute chi2 ~24.3 without the
    absent-digit terms (passes 26.12) but ~34.8 with them (fails)."""
    df = spark.createDataFrame(
        [(i, 100.0 + i) for i in range(15)], "id int, v double"
    )
    rule = _rule(rule_name="b1", rule_type="benford_digit", column="v",
                 threshold=26.12, action_on_failure="tag")
    res = dq.apply(df, [rule])
    m = res.metrics[0]
    assert m.invalid_count == m.total_count == 15


def test_sequence_allowed_rule(spark):
    """sequence_allowed: first event per key is valid; transitions in the
    declared set are valid; anything else (incl. NULL types) is invalid;
    filter action drops the violating rows."""
    import datetime as dt

    from metadata_driven_etl_spark.config.model import ConfigError, DQRuleConfig
    from metadata_driven_etl_spark.dq.engine import DataQualityEngine

    t0 = dt.datetime(2024, 1, 1, 9, 0)
    rows = [
        (1, 1, t0, "view"),
        (1, 2, t0 + dt.timedelta(minutes=1), "click"),      # view->click OK
        (1, 3, t0 + dt.timedelta(minutes=2), "purchase"),   # click->purchase OK
        (2, 4, t0, "purchase"),                             # first event OK
        (2, 5, t0 + dt.timedelta(minutes=1), "purchase"),   # purchase->purchase BAD
        (3, 6, t0, "view"),
        (3, 7, t0 + dt.timedelta(minutes=1), None),         # view->NULL BAD
        # NULL must not launder its successor as "first of key": the
        # click after user 3's NULL row has a NULL predecessor -> BAD
        (3, 8, t0 + dt.timedelta(minutes=2), "click"),
        # and a NULL-typed FIRST event is itself invalid
        (4, 9, t0, None),
    ]
    df = spark.createDataFrame(
        rows, "user_id: long, event_id: long, ts: timestamp, event_type: string"
    )
    rule = DQRuleConfig.from_dict(
        {
            "rule_name": "flow_contract",
            "rule_type": "sequence_allowed",
            "column": "event_type",
            "key_column": "user_id",
            "order_columns": ["ts", "event_id"],
            "allowed": [["view", "click"], ["click", "purchase"]],
            "action_on_failure": "filter",
        }
    )
    eng = DataQualityEngine(spark)
    m = {r.rule_name: r for r in eng.metrics_df(df, [rule]).collect()}
    assert m["flow_contract"].total_count == 9
    assert m["flow_contract"].valid_count == 5
    assert m["flow_contract"].invalid_count == 4

    res = eng.apply(df, [rule])
    kept = {r.event_id for r in res.df.collect()}
    assert kept == {1, 2, 3, 4, 6}

    # config validation: every structural knob is required
    base = {
        "rule_name": "r", "rule_type": "sequence_allowed",
        "column": "t", "key_column": "u", "order_columns": ["ts"],
        "allowed": [["a", "b"]],
    }
    import pytest as _pytest

    for missing in ("column", "key_column", "order_columns", "allowed"):
        bad = {k: v for k, v in base.items() if k != missing}
        with _pytest.raises(ConfigError):
            DQRuleConfig.from_dict(bad)


def test_k_anonymity_rule(dq, spark):
    """k_anonymity (VERDICT r8 item 4): a row is valid iff its
    quasi-identifier group has >= k members and (when l is declared)
    >= l distinct sensitive values. action=filter IS suppression."""
    rows = [
        # group (10, "A"): 3 members, 2 distinct sensitive -> k=3,l=2 OK
        (1, 10, "A", "flu"), (2, 10, "A", "cold"), (3, 10, "A", "flu"),
        # group (10, "B"): 2 members -> k violation
        (4, 10, "B", "flu"), (5, 10, "B", "cold"),
        # group (20, "A"): 3 members but 1 distinct sensitive -> l violation
        (6, 20, "A", "flu"), (7, 20, "A", "flu"), (8, 20, "A", "flu"),
        # group (20, "B"): 3 members, sensitive all NULL -> l=0, invalid
        (9, 20, "B", None), (10, 20, "B", None), (11, 20, "B", None),
    ]
    df = spark.createDataFrame(
        rows, "id int, zip int, seg string, diagnosis string"
    )
    rule = _rule(
        rule_name="priv", rule_type="k_anonymity",
        quasi_identifiers=["zip", "seg"], k=3, l=2,
        sensitive_column="diagnosis", action_on_failure="tag",
    )
    res = dq.apply(df, [rule])
    m = res.metrics[0]
    assert m.valid_count + m.invalid_count == m.total_count == 11
    assert m.valid_count == 3
    flags = {r.id: r["dq_priv_flag"] for r in res.df.collect()}
    assert all(flags[i] == "VALID" for i in (1, 2, 3))
    assert all(flags[i] == "INVALID" for i in (4, 5, 6, 7, 8, 9, 10, 11))

    # filter action = k-anonymization by suppression
    res_f = dq.apply(df, [_rule(
        rule_name="priv", rule_type="k_anonymity",
        quasi_identifiers=["zip", "seg"], k=3, l=2,
        sensitive_column="diagnosis", action_on_failure="filter",
    )])
    assert {r.id for r in res_f.df.collect()} == {1, 2, 3}

    # k-only form (no l): group size is the only gate
    res_k = dq.apply(df, [_rule(
        rule_name="priv", rule_type="k_anonymity",
        quasi_identifiers=["zip", "seg"], k=3, action_on_failure="tag",
    )])
    flags_k = {r.id: r["dq_priv_flag"] for r in res_k.df.collect()}
    assert all(flags_k[i] == "VALID" for i in (1, 2, 3, 6, 7, 8, 9, 10, 11))
    assert all(flags_k[i] == "INVALID" for i in (4, 5))


def test_k_anonymity_single_pass_metrics(dq, spark):
    """metrics_df carries k_anonymity next to the other rules in the same
    one-aggregation pass."""
    df = spark.createDataFrame(
        [(1, 10, "x"), (2, 10, "y"), (3, 20, "x")],
        "id int, zip int, s string",
    )
    rules = [
        _rule(rule_name="nn", rule_type="not_null", column="s"),
        _rule(rule_name="priv", rule_type="k_anonymity",
              quasi_identifiers=["zip"], k=2),
    ]
    tall = {r.rule_name: r for r in dq.metrics_df(df, rules).collect()}
    assert tall["priv"].valid_count == 2
    assert tall["priv"].invalid_count == 1
    assert tall["nn"].valid_count == 3


def test_k_anonymity_config_validation():
    from metadata_driven_etl_spark.config.model import ConfigError

    base = {
        "rule_name": "r", "rule_type": "k_anonymity",
        "quasi_identifiers": ["zip"], "k": 3,
    }
    # missing quasi_identifiers
    with pytest.raises(ConfigError, match="quasi_identifiers"):
        _rule(**{k: v for k, v in base.items() if k != "quasi_identifiers"})
    # k < 2 gates nothing
    with pytest.raises(ConfigError, match="k >= 2"):
        _rule(**{**base, "k": 1})
    # l declared without sensitive_column
    with pytest.raises(ConfigError, match="sensitive_column"):
        _rule(**{**base, "l": 2})
    # sensitive_column without l is a silent no-op -> rejected
    with pytest.raises(ConfigError, match="set\\s+l"):
        _rule(**{**base, "sensitive_column": "s"})
    # l < 2 gates nothing
    with pytest.raises(ConfigError, match="l >= 2"):
        _rule(**{**base, "l": 1, "sensitive_column": "s"})
    # string quasi_identifiers coerces to a 1-tuple
    r = _rule(**{**base, "quasi_identifiers": "zip"})
    assert r.quasi_identifiers == ("zip",)


def test_k_anonymity_rejudged_after_other_filters(dq, spark):
    """Composition defect (r9 review): another filter rule shrinking a
    quasi-identifier group below k must not leak the group — the
    suppression is re-judged on the RELEASED population."""
    rows = [
        # group (10,) of exactly 3: one row fails not_null -> released
        # group would be 2 < k without the re-judge
        (1, 10, "flu"), (2, 10, "cold"), (3, 10, None),
        # group (20,) of 4 all-valid: survives both
        (4, 20, "flu"), (5, 20, "cold"), (6, 20, "flu"), (7, 20, "flu"),
    ]
    df = spark.createDataFrame(rows, "id int, zip int, diagnosis string")
    rules = [
        _rule(rule_name="nn", rule_type="not_null", column="diagnosis",
              action_on_failure="filter"),
        _rule(rule_name="priv", rule_type="k_anonymity",
              quasi_identifiers=["zip"], k=3, action_on_failure="filter"),
    ]
    res = dq.apply(df, rules)
    kept = {r.id for r in res.df.collect()}
    assert kept == {4, 5, 6, 7}, kept
    # metrics still report on the INPUT (valid+invalid=total contract):
    # pre-filter, group (10,) has size 3 so priv sees all 7 rows valid
    m = {x.rule_name: x for x in res.metrics}
    assert m["priv"].total_count == 7 and m["priv"].valid_count == 7
    assert m["nn"].invalid_count == 1

    # two k_anonymity filter rules: the second re-judges after the
    # first's suppression (disjoint quasi-ids shrink each other's
    # groups)
    rows2 = [
        (1, 10, "a", "x"), (2, 10, "a", "y"),          # zip 10: size 2
        (3, 20, "a", "x"), (4, 20, "b", "y"),          # zip 20: size 3
        (5, 20, "b", "z"),
    ]
    df2 = spark.createDataFrame(rows2, "id int, zip int, seg string, s string")
    rules2 = [
        _rule(rule_name="kz", rule_type="k_anonymity",
              quasi_identifiers=["zip"], k=3, action_on_failure="filter"),
        _rule(rule_name="ks", rule_type="k_anonymity",
              quasi_identifiers=["seg"], k=2, action_on_failure="filter"),
    ]
    res2 = dq.apply(df2, rules2)
    kept2 = {r.id for r in res2.df.collect()}
    # kz drops zip 10 (ids 1,2). Pre-filter seg groups: a={1,2,3} b={4,5};
    # post-kz seg a={3} -> ks must re-judge and drop id 3 too.
    assert kept2 == {4, 5}, kept2


def test_freshness_rule(dq, spark):
    """freshness: the batch is valid iff max(ts) is within max_lag_hours
    of the DECLARED as_of (a bound parameter, never wall-clock). Batch-
    level like benford: all rows valid or all flagged."""
    import datetime as dt

    fresh_rows = [
        (1, dt.datetime(2024, 1, 15, 8, 0, 0)),
        (2, dt.datetime(2024, 1, 14, 23, 0, 0)),
    ]
    df = spark.createDataFrame(fresh_rows, "id int, ts timestamp")
    rule = _rule(
        rule_name="arrival", rule_type="freshness", column="ts",
        as_of="2024-01-15 12:00:00", max_lag_hours=6,
        action_on_failure="tag",
    )
    res = dq.apply(df, [rule])
    m = res.metrics[0]
    assert m.valid_count == 2 and m.invalid_count == 0
    flags = {r.id: r["dq_arrival_flag"] for r in res.df.collect()}
    assert set(flags.values()) == {"VALID"}

    # stale feed: newest row is 13h old against a 6h budget -> whole
    # batch flags
    stale = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 14, 23, 0, 0))], "id int, ts timestamp"
    )
    res_s = dq.apply(stale, [rule])
    assert res_s.metrics[0].invalid_count == 1
    assert res_s.metrics[0].valid_count == 0

    # boundary is inclusive: exactly max_lag_hours old passes
    edge = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 15, 6, 0, 0))], "id int, ts timestamp"
    )
    assert dq.apply(edge, [rule]).metrics[0].invalid_count == 0

    # all-NULL timestamps have no max -> INVALID (silence is staleness)
    nulls = spark.createDataFrame(
        [(1, None), (2, None)], "id int, ts timestamp"
    )
    res_n = dq.apply(nulls, [rule])
    assert res_n.metrics[0].invalid_count == 2

    # reject action raises on a stale feed
    rej = _rule(
        rule_name="arrival", rule_type="freshness", column="ts",
        as_of="2024-01-15 12:00:00", max_lag_hours=6,
        action_on_failure="reject",
    )
    with pytest.raises(DQRejectError):
        dq.apply(stale, [rej])


def test_freshness_single_pass_metrics(dq, spark):
    """metrics_df carries freshness next to the other rules in the same
    one-aggregation pass."""
    import datetime as dt

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 15, 8, 0), "a"),
         (2, dt.datetime(2024, 1, 15, 9, 0), None)],
        "id int, ts timestamp, s string",
    )
    rules = [
        _rule(rule_name="nn", rule_type="not_null", column="s"),
        _rule(rule_name="arrival", rule_type="freshness", column="ts",
              as_of="2024-01-15 12:00:00", max_lag_hours=6),
    ]
    tall = {r.rule_name: r for r in dq.metrics_df(df, rules).collect()}
    assert tall["arrival"].valid_count == 2
    assert tall["nn"].invalid_count == 1


def test_freshness_config_validation():
    from metadata_driven_etl_spark.config.model import ConfigError

    base = {
        "rule_name": "r", "rule_type": "freshness", "column": "ts",
        "as_of": "2024-01-15 12:00:00", "max_lag_hours": 6,
    }
    with pytest.raises(ConfigError, match="needs column"):
        _rule(**{k: v for k, v in base.items() if k != "column"})
    # as_of is mandatory: wall-clock 'now' would be nondeterministic
    with pytest.raises(ConfigError, match="as_of"):
        _rule(**{k: v for k, v in base.items() if k != "as_of"})
    with pytest.raises(ConfigError, match="max_lag_hours"):
        _rule(**{**base, "max_lag_hours": 0})


def test_freshness_empty_batch_rejects(dq, spark):
    """A 0-row batch has no rows to flag, but silence IS staleness: a
    reject-action freshness gate must fail on an empty feed rather than
    pass on the invalid_count == 0 technicality."""
    empty = spark.createDataFrame([], "id int, ts timestamp")
    rej = _rule(
        rule_name="arrival", rule_type="freshness", column="ts",
        as_of="2024-01-15 12:00:00", max_lag_hours=6,
        action_on_failure="reject",
    )
    with pytest.raises(DQRejectError):
        dq.apply(empty, [rej])
    # tag action on an empty batch is vacuous (no rows, no raise)
    tag = _rule(
        rule_name="arrival", rule_type="freshness", column="ts",
        as_of="2024-01-15 12:00:00", max_lag_hours=6,
        action_on_failure="tag",
    )
    assert dq.apply(empty, [tag]).metrics[0].total_count == 0


def test_freshness_as_of_must_parse():
    """An unparseable as_of fails at config load (parse-time contract),
    not as a silent every-batch-stale gate at run time."""
    from metadata_driven_etl_spark.config.model import ConfigError

    with pytest.raises(ConfigError, match="ISO timestamp"):
        _rule(
            rule_name="r", rule_type="freshness", column="ts",
            as_of="2024-13-99", max_lag_hours=6,
        )
