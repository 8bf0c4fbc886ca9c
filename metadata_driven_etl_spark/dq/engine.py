"""Single-pass data-quality rule engine.

Re-derivation of the reference's DQ engine (reference src/modules/
dq_engine.py, 272 LoC + silver_layer.py:169-256) with its defects designed
out (SURVEY.md §2.14 #1/#2/#8/#10):

- **One plan, one pass.** The reference runs 2 counts + 3 derived
  DataFrames + a collect PER RULE over the uncached input — O(rules × full
  scans), and counts can drift between actions on nondeterministic input.
  Here every rule becomes one boolean validity column on a single
  DataFrame; ``apply`` observes ALL rules' counts (``df.observe``) on the
  one job that checkpoints its output — zero extra passes.
- **Explicit NULL semantics.** ``rlike`` on NULL is NULL → the reference's
  valid+invalid counts don't add up for null-bearing columns. Every
  condition here is null-coalesced: NULL input is INVALID for not_null /
  regex / expression; referential integrity treats NULL keys as invalid
  (no match possible); uniqueness counts NULL keys as a group.
- **One flag-name contract**: ``dq_<rule_name>_flag`` ∈ {VALID, INVALID}
  for every rule type (the reference's tag action breaks for 2 of its 4
  rule types due to name mismatches).
- **uniqueness implemented and reachable** (dead+broken ``F.Window`` in the
  reference) — via a window count, one shuffle, no self-join.

Rule types: not_null, regex, expression, referential_integrity, uniqueness,
plus the batch-analytics gates zscore_outlier, benford_digit,
sequence_allowed, k_anonymity, and freshness.
Actions: filter (keep valid rows), tag (add flag column), reject (raise if
any invalid).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from metadata_driven_etl_spark.config.model import DQRuleConfig
from metadata_driven_etl_spark.io.writer import checkpoint


@dataclass
class DQRuleMetrics:
    rule_name: str
    rule_type: str
    action: str
    total_count: int
    valid_count: int
    invalid_count: int

    @property
    def is_valid(self) -> bool:
        return self.invalid_count == 0


@dataclass
class DQResult:
    df: DataFrame  # rows after actions (filtered and/or tagged)
    metrics: list[DQRuleMetrics] = field(default_factory=list)


class DQRejectError(RuntimeError):
    """Raised when a rule with action_on_failure=reject has invalid rows."""


class DataQualityEngine:
    def __init__(self, spark):
        self.spark = spark

    # -- condition builders (row is VALID iff condition is True) -----------

    def _condition(self, df: DataFrame, rule: DQRuleConfig) -> tuple[DataFrame, Column]:
        """Return (possibly augmented df, boolean validity Column).

        referential_integrity and uniqueness need helper columns (a join /
        a window) — they augment the plan; the other rules are pure
        expressions. Everything stays in ONE DataFrame lineage.
        """
        if rule.rule_type == "not_null":
            return df, F.col(rule.column).isNotNull()
        if rule.rule_type == "regex":
            # NULL → INVALID, explicitly (reference counts NULLs as neither)
            return df, F.coalesce(F.col(rule.column).rlike(rule.pattern), F.lit(False))
        if rule.rule_type == "expression":
            return df, F.coalesce(F.expr(rule.expression), F.lit(False))
        if rule.rule_type == "referential_integrity":
            helper = f"__dq_ref_{rule.rule_name}"
            ref = (
                self.spark.table(rule.ref_table)
                .select(F.col(rule.ref_column).alias(rule.column))
                .distinct()
                .withColumn(helper, F.lit(True))
            )
            # broadcast: reference keys are dimension-sized; a shuffle join
            # of the full fact table for a DQ check would dominate the run
            out = df.join(F.broadcast(ref), on=[rule.column], how="left")
            return out, F.coalesce(F.col(helper), F.lit(False))
        if rule.rule_type == "uniqueness":
            helper = f"__dq_uniq_{rule.rule_name}"
            w = Window.partitionBy(*rule.columns)
            out = df.withColumn(helper, F.count(F.lit(1)).over(w))
            return out, F.col(helper) == 1
        if rule.rule_type == "zscore_outlier":
            # Statistical anomaly rule (beyond the reference's 4+1 types):
            # valid iff |x − mean| ≤ k·stddev over the batch. One scalar
            # aggregate broadcast back over the scan; stddev NULL (n<2) or
            # a constant column (stddev 0) degrades to all-valid / exact-
            # equality respectively. NULL values are INVALID explicitly.
            m = f"__dq_zmean_{rule.rule_name}"
            s = f"__dq_zstd_{rule.rule_name}"
            stats = df.agg(
                F.avg(rule.column).alias(m), F.stddev_samp(rule.column).alias(s)
            )
            out = df.crossJoin(F.broadcast(stats))
            within = (
                F.abs(F.col(rule.column) - F.col(m))
                <= F.lit(rule.threshold) * F.col(s)
            )
            return out, F.coalesce(within | F.col(s).isNull(), F.lit(False))
        if rule.rule_type == "benford_digit":
            # Batch-shape rule (beyond the reference's types): the column's
            # first-significant-digit distribution must sit within chi²
            # `threshold` of Benford's law — the fraud/fabrication screen as
            # a declared gate. Validity is BATCH-level by design: either the
            # batch's distribution passes and every row is valid, or the
            # whole batch is flagged (a single row has no Benford-ness).
            # Zero/NULL values carry no first digit: they're excluded from
            # the fit and valid (the rule tests shape, not presence —
            # combine with not_null for that). Cost: one 9-group map-side-
            # combinable aggregation + a 1-row broadcast (zscore precedent).
            import math

            chi2col = f"__dq_benford_{rule.rule_name}"
            digit = F.regexp_extract(
                F.abs(F.col(rule.column)).cast("string"), "[1-9]", 0
            )
            observed = (
                df.select(digit.alias("__d"))
                .filter(F.col("__d") != "")
                .groupBy("__d")
                .agg(F.count(F.lit(1)).alias("__obs"))
            )
            # The chi² MUST include a (0 − n·p_d)²/(n·p_d) = n·p_d term
            # for every digit ABSENT from the batch — fabricated data
            # that omits digits entirely (the shape this screen targets)
            # would otherwise score closer to Benford than it is. Join
            # the full 1-9 domain so zero-count cells contribute.
            domain = self.spark.createDataFrame(
                [(str(dd),) for dd in range(1, 10)], "__d string"
            )
            cells = domain.join(observed, "__d", "left").select(
                "__d", F.coalesce(F.col("__obs"), F.lit(0)).alias("__obs")
            )
            p = F.lit(None).cast("double")
            for dd in range(1, 10):
                p = F.when(
                    F.col("__d") == str(dd),
                    F.lit(math.log10(1.0 + 1.0 / dd)),
                ).otherwise(p)
            tot = cells.agg(F.sum("__obs").alias("__n"))
            exp = F.col("__n").cast("double") * p
            diff = F.col("__obs").cast("double") - exp
            chi2 = (
                cells.crossJoin(F.broadcast(tot))
                .filter(F.col("__n") > 0)
                .select((diff * diff / exp).alias("__term"))
                .agg(F.sum("__term").alias(chi2col))
            )
            out = df.crossJoin(F.broadcast(chi2))
            # NULL chi² (empty batch / no digits) → nothing to judge → valid
            return out, F.coalesce(
                F.col(chi2col) <= F.lit(rule.threshold), F.lit(True)
            )
        if rule.rule_type == "sequence_allowed":
            # Event-order contract (beyond the reference's types): a row
            # is VALID iff its type is non-NULL AND (it is the first
            # event of its key OR the (previous type, this type)
            # transition is in the declared allowed set) — the
            # instrumentation-QA gate (purchases with no preceding
            # click, SDK double-fires) as a declarative rule. One lag
            # window on the key (the transition-matrix shuffle); the
            # allowed-set test is a map-side literal struct IN.
            # First-of-key is detected by a lag over a CONSTANT marker,
            # NOT by lag(type) IS NULL — a NULL-typed predecessor would
            # otherwise launder its successor as "first". Rows whose own
            # type or predecessor type is NULL are INVALID
            # (explicit-NULL discipline; the NULL-typed row itself and
            # the row after it both flag).
            helper = f"__dq_seq_{rule.rule_name}"
            first = f"__dq_seqfirst_{rule.rule_name}"
            w = Window.partitionBy(rule.key_column).orderBy(
                *rule.order_columns
            )
            out = df.withColumn(
                helper, F.lag(F.col(rule.column)).over(w)
            ).withColumn(first, F.lag(F.lit(1)).over(w))
            pair_ok = F.struct(
                F.col(helper).alias("a"), F.col(rule.column).alias("b")
            ).isin(
                [
                    F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
                    for a, b in rule.allowed
                ]
            )
            return out, F.col(rule.column).isNotNull() & (
                F.col(first).isNull()
                | F.coalesce(pair_ok, F.lit(False))
            )
        if rule.rule_type == "k_anonymity":
            # Privacy gate (beyond the reference's types; VERDICT r8 item
            # 4 — the k_anonymity_audit workload promoted to a declarable
            # rule next to benford_digit/sequence_allowed): a row is
            # VALID iff its quasi-identifier group has ≥ k members
            # (re-identification risk below 1/k) AND, when l-diversity is
            # declared, the group carries ≥ l distinct sensitive values
            # (attribute-disclosure screen). With action=filter this IS
            # k-anonymization by suppression: every surviving row's group
            # satisfies both gates — apply() guarantees it by running
            # k_anonymity filters AFTER all other filter rules and
            # re-judging group sizes on the released population (a
            # pre-filter size would launder <k groups shrunk by another
            # filter rule).
            # Cost: one shuffle on the quasi-identifiers; both helper
            # stats ride ONE WindowExec pass (shared spec). l-diversity
            # uses size(collect_set) — a distinct count over a window,
            # which Spark's count(DISTINCT) can't express; state is
            # O(|sensitive domain|) per group, fine for the low-
            # cardinality attributes l-diversity is defined over.
            # NULL semantics: NULL quasi-identifier values form their own
            # group (standard grouping semantics, matching uniqueness);
            # NULL sensitive values add NO diversity (collect_set drops
            # them — an all-NULL group has l=0 and is INVALID when l is
            # declared).
            size_h = f"__dq_kanon_n_{rule.rule_name}"
            w = Window.partitionBy(*rule.quasi_identifiers)
            out = df.withColumn(size_h, F.count(F.lit(1)).over(w))
            cond = F.col(size_h) >= rule.k
            if rule.l is not None:
                div_h = f"__dq_kanon_l_{rule.rule_name}"
                out = out.withColumn(
                    div_h,
                    F.size(
                        F.collect_set(F.col(rule.sensitive_column)).over(w)
                    ),
                )
                cond = cond & (F.col(div_h) >= rule.l)
            return out, cond
        if rule.rule_type == "freshness":
            # Batch-level arrival gate (beyond the reference's types):
            # the batch is VALID iff max(column) is within max_lag_hours
            # of the DECLARED as_of timestamp (a bound parameter, like
            # the incremental watermark — never wall-clock now(), which
            # would make reruns non-reproducible). Like benford_digit,
            # validity is batch-level by design: either data arrived
            # recently and every row is valid, or the feed is stale and
            # the whole batch flags (a single row has no freshness).
            # An all-NULL timestamp column has no max → every row
            # INVALID; a 0-row batch has no rows to flag, so apply()
            # special-cases reject-action freshness on empty input
            # (silence is staleness either way). One scalar aggregate
            # broadcast back over the scan; the lag math runs on epoch
            # seconds (exact integer comparison domain).
            mx = f"__dq_fresh_{rule.rule_name}"
            stats = df.agg(F.max(F.col(rule.column)).alias(mx))
            out = df.crossJoin(F.broadcast(stats))
            cutoff = F.unix_timestamp(
                F.to_timestamp(F.lit(rule.as_of))
            ) - F.lit(int(rule.max_lag_hours * 3600))
            fresh = F.unix_timestamp(F.col(mx)) >= cutoff
            return out, F.coalesce(fresh, F.lit(False))
        raise ValueError(f"unknown rule_type {rule.rule_type!r}")

    def _rule_counts(
        self, df: DataFrame, rules: list[DQRuleConfig]
    ) -> tuple[DataFrame, dict[str, str], list[Column]]:
        """``df`` with one boolean validity column per rule (plus the
        rules' helper columns), the rule-name → validity-column map, and
        the aggregate expressions of every rule's counts: ``__total``
        rows and ``__v_<i>`` valid rows for ``rules[i]``."""
        valid_cols = {r.rule_name: f"__dq_valid_{r.rule_name}" for r in rules}
        work, validity = df, {}
        for r in rules:
            work, validity[valid_cols[r.rule_name]] = self._condition(work, r)
        work = work.withColumns(validity)
        counts = [
            F.count(F.lit(1)).alias("__total"),
            *[
                F.sum(F.when(F.col(valid_cols[r.rule_name]), 1).otherwise(0))
                .alias(f"__v_{i}")
                for i, r in enumerate(rules)
            ],
        ]
        return work, valid_cols, counts

    # -- main entry ---------------------------------------------------------

    def metrics_df(self, df: DataFrame, rules: list[DQRuleConfig]) -> DataFrame:
        """Lazy per-rule metrics as a tall DataFrame — one aggregation pass
        for ALL rules, zero collect (the driver/caller decides when to run).

        Schema: rule_name string, total_count long, valid_count long,
        invalid_count long.
        """
        work, _, counts = self._rule_counts(df, rules)
        one_row = work.agg(*counts)
        stack_args = ", ".join(
            f"'{r.rule_name}', __v_{i}" for i, r in enumerate(rules)
        )
        tall = one_row.select(
            F.col("__total"),
            F.expr(
                f"stack({len(rules)}, {stack_args}) AS (rule_name, valid_count)"
            ),
        )
        return tall.select(
            "rule_name",
            F.col("__total").cast("long").alias("total_count"),
            F.col("valid_count").cast("long").alias("valid_count"),
            (F.col("__total") - F.col("valid_count"))
            .cast("long")
            .alias("invalid_count"),
        )

    def apply(self, df: DataFrame, rules: list[DQRuleConfig]) -> DQResult:
        """Evaluate all rules in one pass and apply their actions.

        Plan shape: augment df with helper cols → one validity column per
        rule → observe every rule's counts → filter to the conjunction of
        filter-rule validity → drop helpers, tag flags. One eager
        :func:`io.writer.checkpoint` job computes the output and the
        counts; no separate aggregation pass runs. A failing ``reject``
        rule then raises. Otherwise ``df`` is that checkpoint, owned by
        the caller's ``io.writer.owned()`` block (a silver unit's), so it
        must not be read after the block (without rules: ``df`` as given).
        """
        if not rules:
            return DQResult(df=df)

        # validity as columns, so metrics and actions share them; the
        # counts ride the output's own job
        work, valid_cols, counts = self._rule_counts(df, rules)
        obs = Observation()
        work = work.observe(obs, *counts)

        # actions: filter = conjunction of filter-rule validity.
        # k_anonymity filters are deferred below every other filter:
        # the suppression guarantee is about the RELEASED population,
        # and another filter rule shrinking a quasi-identifier group
        # after the size was measured would release a <k group. The
        # observed counts still report on the INPUT (the engine's
        # valid+invalid=total contract); only the ACTION re-judges.
        out = work
        for r in rules:
            if (
                r.action_on_failure == "filter"
                and r.rule_type != "k_anonymity"
            ):
                out = out.filter(F.col(valid_cols[r.rule_name]))
        kanon_filters = [
            r
            for r in rules
            if r.action_on_failure == "filter"
            and r.rule_type == "k_anonymity"
        ]
        other_filters = any(
            r.action_on_failure == "filter"
            and r.rule_type != "k_anonymity"
            for r in rules
        )
        for i, r in enumerate(kanon_filters):
            if other_filters or i > 0:
                # group sizes recompute on the already-filtered frame
                # (earlier k_anonymity suppressions count too: a prior
                # rule on different quasi-identifiers shrinks groups).
                # _condition's helper names are deterministic per rule,
                # so re-deriving replaces the stale helpers.
                out, cond = self._condition(out, r)
                out = out.filter(cond)
            else:
                out = out.filter(F.col(valid_cols[r.rule_name]))
        # tag flags (consistent contract), then drop helpers
        for r in rules:
            if r.action_on_failure == "tag":
                out = out.withColumn(
                    r.flag_column,
                    F.when(F.col(valid_cols[r.rule_name]), F.lit("VALID")).otherwise(
                        F.lit("INVALID")
                    ),
                )
        keep = df.columns + [r.flag_column for r in rules if r.action_on_failure == "tag"]
        out = checkpoint(out.select(*keep), eager=True)
        row = obs.get
        total = row["__total"]

        metrics, rejected = [], []
        for i, r in enumerate(rules):
            valid = int(row[f"__v_{i}"] or 0)
            m = DQRuleMetrics(
                rule_name=r.rule_name,
                rule_type=r.rule_type,
                action=r.action_on_failure,
                total_count=total,
                valid_count=valid,
                invalid_count=total - valid,
            )
            metrics.append(m)
            if r.action_on_failure == "reject" and m.invalid_count > 0:
                rejected.append(r.rule_name)
            # freshness is a batch-ARRIVAL gate: a 0-row batch has no
            # rows to flag, but silence is exactly the staleness the
            # rule exists to catch — an empty feed must not sail
            # through a reject gate on the technicality that
            # invalid_count == 0. (filter/tag on an empty batch are
            # vacuous either way.)
            if (
                r.rule_type == "freshness"
                and r.action_on_failure == "reject"
                and total == 0
            ):
                rejected.append(r.rule_name)

        if rejected:
            raise DQRejectError(
                f"DQ reject: rule(s) {rejected} have invalid rows "
                f"({ {m.rule_name: m.invalid_count for m in metrics} })"
            )
        return DQResult(df=out, metrics=metrics)
