"""Validated config model — the engine's user-facing "query language".

Schema-compatible with the reference's YAML vocabulary (reference
src/config/bronze_config.yaml / silver_config.yaml / gold_config.yaml):
``sources[]`` with source_type/file_format/options/extract_strategy,
``transformations[]`` with sql_query/partition_by/data_quality[],
``models[]`` with refresh_type/primary_keys, and a ``default:`` block with
``spark_conf``. The reference consumes raw dicts with scattered ``.get``
defaults (bronze_layer.py:96-154 etc.); here every unit is validated into a
dataclass at load time so a bad config fails fast with a named error, not
mid-pipeline.

Parameter substitution (``${PROCESSING_DATE}``, ``${EXTRACT_DATE}``, env
vars) is declared here but BOUND later as typed literals/Spark SQL
parameters — never string-spliced into SQL (fixes SURVEY.md §2.14#4).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from typing import Any

VALID_SOURCE_TYPES = {"file", "jdbc", "api", "table"}
VALID_FILE_FORMATS = {"parquet", "csv", "json", "orc"}
VALID_EXTRACT_STRATEGIES = {"full", "incremental"}
VALID_RULE_TYPES = {
    "not_null",
    "regex",
    "expression",
    "referential_integrity",
    "uniqueness",
    "zscore_outlier",
    "benford_digit",
    "sequence_allowed",
    "k_anonymity",
    "freshness",
}
VALID_ACTIONS = {"filter", "tag", "reject"}
VALID_REFRESH_TYPES = {"full", "incremental", "delta", "scd2"}


class ConfigError(ValueError):
    pass


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise ConfigError(msg)


_UNIT_ID_FIELDS = ("source_id", "transform_id", "model_id", "pipeline_id")


def unit_id(unit) -> str:
    """The id of a source, transform, gold model or corpus pipeline."""
    return next(getattr(unit, f) for f in _UNIT_ID_FIELDS if hasattr(unit, f))


def _unique_ids(units) -> tuple:
    """``units`` as a tuple, unless two share an id: audit rows, control
    state and a full source's ``source_id`` partition are keyed by it, so
    the second unit would silently overwrite the first one's rows."""
    units = tuple(units)
    ids = [unit_id(u) for u in units]
    dup = next((i for n, i in enumerate(ids) if i in ids[:n]), None)
    _require(dup is None, f"duplicate unit id {dup!r}")
    return units


@dataclass(frozen=True)
class SourceConfig:
    """One bronze ingestion unit (reference bronze_config.yaml:4-40)."""

    source_id: str
    source_type: str
    target_table: str
    description: str = ""
    source_path: str | None = None
    file_format: str | None = None
    options: dict[str, str] = field(default_factory=dict)
    extract_strategy: str = "full"
    incremental_column: str | None = None
    # jdbc
    jdbc_url: str | None = None
    query: str | None = None
    fetchsize: int = 10000
    # api
    api_url: str | None = None
    auth_token_env: str | None = None
    enabled: bool = True

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "SourceConfig":
        _require("source_id" in d, "source missing source_id")
        sid = d["source_id"]
        st = d.get("source_type", "file")
        _require(
            st in VALID_SOURCE_TYPES,
            f"source {sid}: invalid source_type {st!r} (valid: {sorted(VALID_SOURCE_TYPES)})",
        )
        _require("target_table" in d, f"source {sid}: missing target_table")
        if st == "file":
            _require(d.get("source_path"), f"source {sid}: file source needs source_path")
            ff = d.get("file_format", "parquet")
            _require(
                ff in VALID_FILE_FORMATS,
                f"source {sid}: invalid file_format {ff!r}",
            )
        es = d.get("extract_strategy", "full")
        _require(
            es in VALID_EXTRACT_STRATEGIES,
            f"source {sid}: invalid extract_strategy {es!r}",
        )
        return SourceConfig(
            source_id=sid,
            source_type=st,
            target_table=d["target_table"],
            description=d.get("description", ""),
            source_path=d.get("source_path"),
            file_format=d.get("file_format", "parquet" if st == "file" else None),
            options={str(k): str(v) for k, v in (d.get("options") or {}).items()},
            extract_strategy=es,
            incremental_column=d.get("incremental_column"),
            jdbc_url=d.get("jdbc_url"),
            query=d.get("query"),
            fetchsize=int(d.get("fetchsize", 10000)),
            api_url=d.get("api_url"),
            auth_token_env=d.get("auth_token_env"),
            enabled=bool(d.get("enabled", True)),
        )


@dataclass(frozen=True)
class DQRuleConfig:
    """One data-quality rule (reference silver_config.yaml data_quality[])."""

    rule_name: str
    rule_type: str
    action_on_failure: str = "tag"
    column: str | None = None
    pattern: str | None = None
    expression: str | None = None
    ref_table: str | None = None
    ref_column: str | None = None
    columns: tuple[str, ...] = ()  # uniqueness
    threshold: float = 3.0  # zscore_outlier
    # sequence_allowed: per-key event-order contract
    key_column: str | None = None
    order_columns: tuple[str, ...] = ()
    allowed: tuple[tuple[str, str], ...] = ()
    # k_anonymity: privacy gate (quasi-identifier group size / diversity)
    quasi_identifiers: tuple[str, ...] = ()
    k: int = 5
    l: int | None = None
    sensitive_column: str | None = None
    # freshness: batch-level data-arrival gate (max(ts) within
    # max_lag_hours of the declared as_of — a bound parameter like
    # incremental watermarks, NEVER wall-clock current_timestamp())
    as_of: str | None = None
    max_lag_hours: float = 24.0

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "DQRuleConfig":
        _require("rule_name" in d, "dq rule missing rule_name")
        name = d["rule_name"]
        rt = d.get("rule_type")
        _require(
            rt in VALID_RULE_TYPES,
            f"rule {name}: invalid rule_type {rt!r} (valid: {sorted(VALID_RULE_TYPES)})",
        )
        action = d.get("action_on_failure", "tag")
        _require(
            action in VALID_ACTIONS,
            f"rule {name}: invalid action_on_failure {action!r}",
        )
        if rt in ("not_null", "regex"):
            _require(d.get("column"), f"rule {name}: {rt} needs column")
        if rt == "regex":
            _require(d.get("pattern"), f"rule {name}: regex needs pattern")
        if rt == "expression":
            _require(d.get("expression"), f"rule {name}: expression rule needs expression")
        if rt == "referential_integrity":
            _require(
                d.get("column") and d.get("ref_table") and d.get("ref_column"),
                f"rule {name}: referential_integrity needs column/ref_table/ref_column",
            )
        if rt == "uniqueness":
            _require(
                d.get("columns") or d.get("column"),
                f"rule {name}: uniqueness needs columns",
            )
        if rt == "zscore_outlier":
            _require(d.get("column"), f"rule {name}: zscore_outlier needs column")
            _require(
                float(d.get("threshold", 3.0)) > 0,
                f"rule {name}: zscore_outlier threshold must be > 0",
            )
        if rt == "benford_digit":
            _require(d.get("column"), f"rule {name}: benford_digit needs column")
            _require(
                d.get("threshold") is not None
                and float(d["threshold"]) > 0,
                f"rule {name}: benford_digit needs an explicit chi² "
                "threshold > 0 (e.g. 26.12 ≈ χ²(8 dof) at p=0.001 — the "
                "zscore default of 3 is the wrong scale for a chi² gate)",
            )
        oc = d.get("order_columns") or ()
        if isinstance(oc, str):
            oc = (oc,)
        allowed: tuple[tuple[str, str], ...] = ()
        if rt == "sequence_allowed":
            _require(
                d.get("column"),
                f"rule {name}: sequence_allowed needs column (the event "
                "type)",
            )
            _require(
                d.get("key_column"),
                f"rule {name}: sequence_allowed needs key_column (the "
                "sequence partition, e.g. the user)",
            )
            _require(
                bool(oc),
                f"rule {name}: sequence_allowed needs order_columns "
                "(a deterministic per-key order, e.g. [ts, event_id])",
            )
            raw_allowed = d.get("allowed") or ()
            _require(
                bool(raw_allowed),
                f"rule {name}: sequence_allowed needs allowed (the list "
                "of permitted [from, to] transitions)",
            )
            for pair in raw_allowed:
                _require(
                    isinstance(pair, (list, tuple)) and len(pair) == 2,
                    f"rule {name}: each allowed entry must be a "
                    f"[from, to] pair, got {pair!r}",
                )
            allowed = tuple((str(a), str(b)) for a, b in raw_allowed)
        qi = d.get("quasi_identifiers") or ()
        if isinstance(qi, str):
            qi = (qi,)
        l_val = d.get("l")
        if rt == "k_anonymity":
            _require(
                bool(qi),
                f"rule {name}: k_anonymity needs quasi_identifiers (the "
                "re-identification key columns, e.g. [zip, birth_year])",
            )
            _require(
                int(d.get("k", 5)) >= 2,
                f"rule {name}: k_anonymity needs k >= 2 (k=1 gates nothing)",
            )
            if l_val is not None:
                _require(
                    d.get("sensitive_column"),
                    f"rule {name}: k_anonymity with l-diversity needs "
                    "sensitive_column",
                )
                _require(
                    int(l_val) >= 2,
                    f"rule {name}: l-diversity needs l >= 2",
                )
            else:
                _require(
                    not d.get("sensitive_column"),
                    f"rule {name}: sensitive_column given without l — set "
                    "l (the minimum distinct sensitive values per group)",
                )
        if rt == "freshness":
            _require(
                d.get("column"),
                f"rule {name}: freshness needs column (the event/load "
                "timestamp the arrival gate reads)",
            )
            _require(
                d.get("as_of"),
                f"rule {name}: freshness needs as_of (a bound timestamp "
                "parameter, e.g. the run's logical date — wall-clock "
                "'now' would make the gate nondeterministic)",
            )
            # parse-time validation: an unparseable as_of would reach
            # Spark's to_timestamp as NULL and silently mark every
            # batch stale — fail at config load like the other rules
            if d.get("as_of"):
                import datetime as _dt

                try:
                    _dt.datetime.fromisoformat(str(d["as_of"]))
                except ValueError:
                    _require(
                        False,
                        f"rule {name}: freshness as_of "
                        f"{d['as_of']!r} is not an ISO timestamp "
                        "(expected e.g. '2024-01-15 12:00:00')",
                    )
            _require(
                float(d.get("max_lag_hours", 24.0)) > 0,
                f"rule {name}: freshness max_lag_hours must be > 0",
            )
        return DQRuleConfig(
            rule_name=name,
            rule_type=rt,
            action_on_failure=action,
            column=d.get("column"),
            pattern=d.get("pattern"),
            expression=d.get("expression"),
            ref_table=d.get("ref_table"),
            ref_column=d.get("ref_column"),
            columns=tuple(d.get("columns") or ([d["column"]] if d.get("column") else [])),
            threshold=float(d.get("threshold", 3.0)),
            key_column=d.get("key_column"),
            order_columns=tuple(oc),
            allowed=allowed,
            quasi_identifiers=tuple(qi),
            k=int(d.get("k", 5)),
            l=int(l_val) if l_val is not None else None,
            sensitive_column=d.get("sensitive_column"),
            as_of=d.get("as_of"),
            max_lag_hours=float(d.get("max_lag_hours", 24.0)),
        )

    @property
    def flag_column(self) -> str:
        """Single consistent flag-name contract: ``dq_<rule_name>_flag``.

        The reference has per-rule-type mismatched names that break its own
        tag action for 2 of 4 rule types (SURVEY.md §2.14#2).
        """
        return f"dq_{self.rule_name}_flag"


VALID_ENRICHMENT_TYPES = {"asof"}
VALID_ASOF_DIRECTIONS = {"backward", "forward", "nearest"}


@dataclass(frozen=True)
class EnrichmentConfig:
    """One declarative enrichment applied to a silver transform's output
    AFTER its SQL and BEFORE its DQ rules (so quality rules can see the
    enriched columns).

    ``type: asof`` is the feature-store staleness-bounded lookup: for
    each output row, the latest (direction=backward), next
    (direction=forward), or closest-either-way (direction=nearest, ties
    backward) row of ``right_table`` with a matching key and a
    timestamp within ``tolerance_seconds``, as ``<prefix><col>`` columns
    — the shape inline SQL cannot express without hand-writing the
    union+window trick (operators/temporal.py:asof_join, which this
    routes through)."""

    type: str
    right_table: str
    keys: tuple[str, ...]
    right_cols: tuple[str, ...]
    left_ts: str = "ts"
    right_ts: str = "ts"
    prefix: str = "asof_"
    direction: str = "backward"
    tolerance_seconds: float | None = None

    @staticmethod
    def from_dict(d: dict[str, Any], transform_id: str) -> "EnrichmentConfig":
        et = d.get("type")
        _require(
            et in VALID_ENRICHMENT_TYPES,
            f"transform {transform_id}: invalid enrichment type {et!r} "
            f"(valid: {sorted(VALID_ENRICHMENT_TYPES)})",
        )
        _require(
            bool(d.get("right_table")),
            f"transform {transform_id}: asof enrichment needs right_table",
        )
        keys = d.get("keys") or ()
        if isinstance(keys, str):
            keys = (keys,)
        _require(
            bool(keys),
            f"transform {transform_id}: asof enrichment needs keys",
        )
        rc = d.get("right_cols") or ()
        if isinstance(rc, str):
            rc = (rc,)
        _require(
            bool(rc),
            f"transform {transform_id}: asof enrichment needs right_cols "
            "(the columns to carry onto matching rows)",
        )
        direction = d.get("direction", "backward")
        _require(
            direction in VALID_ASOF_DIRECTIONS,
            f"transform {transform_id}: asof direction must be one of "
            f"{sorted(VALID_ASOF_DIRECTIONS)}, got {direction!r}",
        )
        tol = d.get("tolerance_seconds")
        if tol is not None:
            _require(
                float(tol) > 0,
                f"transform {transform_id}: tolerance_seconds must be "
                f"> 0, got {tol!r}",
            )
        return EnrichmentConfig(
            type=et,
            right_table=d["right_table"],
            keys=tuple(keys),
            right_cols=tuple(rc),
            left_ts=d.get("left_ts", "ts"),
            right_ts=d.get("right_ts", "ts"),
            prefix=d.get("prefix", "asof_"),
            direction=direction,
            tolerance_seconds=float(tol) if tol is not None else None,
        )


@dataclass(frozen=True)
class SilverTransform:
    """One silver transformation unit (reference silver_config.yaml)."""

    transform_id: str
    target_table: str
    sql_query: str
    source_table: str | None = None
    transformation_type: str = "sql"
    partition_by: tuple[str, ...] = ()
    data_quality: tuple[DQRuleConfig, ...] = ()
    transaction_date_column: str | None = None
    enabled: bool = True
    enrichments: tuple[EnrichmentConfig, ...] = ()

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "SilverTransform":
        _require("transform_id" in d, "transform missing transform_id")
        tid = d["transform_id"]
        tt = d.get("transformation_type", "sql")
        _require(
            tt == "sql",
            f"transform {tid}: unsupported transformation_type {tt!r} (only 'sql')",
        )
        _require(d.get("sql_query"), f"transform {tid}: missing sql_query")
        _require(d.get("target_table"), f"transform {tid}: missing target_table")
        pb = d.get("partition_by") or ()
        if isinstance(pb, str):
            pb = (pb,)
        return SilverTransform(
            transform_id=tid,
            target_table=d["target_table"],
            sql_query=d["sql_query"],
            source_table=d.get("source_table"),
            transformation_type=tt,
            partition_by=tuple(pb),
            data_quality=tuple(
                DQRuleConfig.from_dict(r) for r in d.get("data_quality") or []
            ),
            transaction_date_column=d.get("transaction_date_column"),
            enabled=bool(d.get("enabled", True)),
            enrichments=tuple(
                EnrichmentConfig.from_dict(e, tid)
                for e in d.get("enrichments") or []
            ),
        )


_FUNNEL_PARAMS = (
    "steps", "user_col", "type_col", "ts_col", "order_col", "window", "mode",
)
_SESSION_PARAMS = ("user_col", "ts_col", "order_col", "gap_seconds")
# Each event analysis: (module under operators/, operator, its keyword
# parameters). The gold layer calls ``operator(events, **{p: getattr(cfg,
# p)})`` and resolves the name at call time, so this module imports no
# operator. A parameter is an EventAnalysisConfig field or a property of
# the same name. ``attribution`` maps each attribution_model to its row.
EVENT_OPERATORS: dict[str, Any] = {
    "funnel": ("temporal", "funnel_steps", _FUNNEL_PARAMS),
    "funnel_rates": ("temporal", "funnel_rates", _FUNNEL_PARAMS),
    "attribution": {
        "last_touch": ("temporal", "attribute_last_touch", (
            "conversion_type", "user_col", "ts_col", "type_col",
            "order_col", "lookback_seconds",
        )),
        "time_decay": ("temporal", "attribute_time_decay", (
            "conversion_type", "user_col", "ts_col", "type_col",
            "lookback_days",
        )),
    },
    "sessions": ("temporal", "session_kpis_daily", _SESSION_PARAMS),
    "transitions": (
        "cooccur", "transition_counts",
        ("key_col", "type_col", "ts_col", "tiebreak"),
    ),
    "cohorts": ("temporal", "cohort_retention", ("user_col", "ts_col")),
    "stickiness": (
        "temporal", "stickiness_daily", ("user_col", "ts_col", "window_days"),
    ),
    "new_vs_returning": (
        "temporal", "new_vs_returning", ("user_col", "ts_col"),
    ),
    "abandonment": ("temporal", "abandonment_daily", (
        "intent_type", "convert_type", "user_col", "ts_col", "type_col",
        "order_col", "gap_seconds",
    )),
    "entry_exit": ("temporal", "session_entry_exit", (
        "user_col", "ts_col", "type_col", "order_col", "gap_seconds",
    )),
    "hourly_load": ("temporal", "hourly_load_profile", ("ts_col",)),
    "dwell_time": ("temporal", "dwell_time_by_type", (
        "user_col", "ts_col", "type_col", "order_col",
    )),
    "concurrent_peaks": (
        "temporal", "concurrent_session_peaks", _SESSION_PARAMS,
    ),
    "growth_accounting": (
        "temporal", "growth_accounting", ("user_col", "ts_col", "epoch_year"),
    ),
    "arrival_disorder": (
        "temporal", "out_of_order_stats", ("ts_col", "type_col", "order_col"),
    ),
}
VALID_EVENT_ANALYSES = set(EVENT_OPERATORS)
VALID_FUNNEL_MODES = {"per_step", "from_first"}
VALID_ATTRIBUTION_MODELS = set(EVENT_OPERATORS["attribution"])
VALID_FUNNEL_SCOPES = {"user", "session"}


def _event_params(analysis: str) -> set[str]:
    """Every operator parameter ``analysis`` reads (attribution: both
    models')."""
    row = EVENT_OPERATORS[analysis]
    rows = row.values() if isinstance(row, dict) else (row,)
    return {p for _, _, params in rows for p in params}


@dataclass(frozen=True)
class EventAnalysisConfig:
    """The ``event:`` section of a gold ``model_type: event`` model:
    declarative clickstream analytics over an event table. ``analysis``
    names a row of ``EVENT_OPERATORS``, the operator the API exposes and
    the knobs it reads, so YAML and direct composition are one computation
    (e2e parity in tests/test_pipeline_e2e.py). What each one emits:

    - funnel: (user_col, funnel_step), per-user ordered depth over steps
    - funnel_rates: (step, step_name, n_reached, step_rate, cum_rate)
    - attribution: (channel, n_conversions) last_touch, or (channel,
      weight_sum, share) time_decay
    - sessions: (day, n_sessions, n_bounces, bounce_rate, total/avg_dur_us)
    - transitions: (prev_type, next_type, n_transitions, row_share)
    - cohorts: (cohort_week, week_index, active_users), weekly retention
    - stickiness: (day, dau, mau, stickiness), MAU over window_days
    - new_vs_returning: (day, new_users, returning_users)
    - abandonment: (day, n_intent_sessions, n_abandoned, abandonment_rate)
    - entry_exit: (entry_type, exit_type, n_sessions), per session
    - hourly_load: (dow, hour, n_events, load_share), weekday × hour
    - dwell_time: (type_col, n_dwells, total_dwell_us, avg_dwell_sec)
    - concurrent_peaks: (day, peak_concurrent) sessions
    - growth_accounting: (month_index, n_new/retained/resurrected/churned)
    - arrival_disorder: (type_col, n_events, n_late, max/total_late_us)

    ``scope: session`` (funnel analyses) re-keys to (user, session)
    composites via the ``gap_seconds`` sessionizer, and the session gap
    replaces the step clock, so ``window`` must be left unset.
    """

    analysis: str
    source_table: str
    user_col: str = "user_id"
    ts_col: str = "ts"
    type_col: str = "event_type"
    order_col: str = "event_id"
    # funnel knobs; funnel_mode per_step re-arms the window at every
    # step, from_first is ClickHouse windowFunnel's whole-chain rule
    steps: tuple[str, ...] = ()
    window: str = "30 minutes"
    funnel_mode: str = "per_step"
    # attribution knobs (conversion_type shared with abandonment)
    attribution_model: str = "last_touch"
    conversion_type: str = "purchase"
    lookback_days: int = 7
    # abandonment knob: the intent signal
    intent_type: str = "click"
    # sessions knob (also the session-scope funnel sessionizer)
    gap_seconds: int = 1800
    # funnel/funnel_rates scope: user history vs single session
    scope: str = "user"
    # stickiness knob: trailing window size in days
    window_days: int = 30
    # growth_accounting knob: month-index anchor year
    epoch_year: int = 1995

    @property
    def operator(self) -> tuple[str, str, tuple[str, ...]]:
        """(module, operator, parameters): this analysis's table row."""
        row = EVENT_OPERATORS[self.analysis]
        return row[self.attribution_model] if isinstance(row, dict) else row

    # operator parameters whose config field has another name or unit
    @property
    def mode(self) -> str:
        return self.funnel_mode

    @property
    def convert_type(self) -> str:
        return self.conversion_type

    @property
    def lookback_seconds(self) -> int:
        return self.lookback_days * 86400

    @property
    def key_col(self) -> str:
        return self.user_col

    @property
    def tiebreak(self) -> tuple[str, ...]:
        return (self.order_col,)

    @staticmethod
    def from_dict(d: dict[str, Any], model_id: str) -> "EventAnalysisConfig":
        an = d.get("analysis")
        _require(
            an in VALID_EVENT_ANALYSES,
            f"model {model_id}: event analysis must be one of "
            f"{sorted(VALID_EVENT_ANALYSES)}, got {an!r}",
        )
        _require(
            bool(d.get("source_table")),
            f"model {model_id}: event model needs source_table "
            "(the events table to analyze)",
        )
        reads = _event_params(an)
        steps = d.get("steps") or ()
        if isinstance(steps, str):
            steps = (steps,)
        fm = d.get("funnel_mode", "per_step")
        am = d.get("attribution_model", "last_touch")
        win = str(d.get("window", "30 minutes"))
        if "window" in reads:
            # validate the interval at LOAD time (every other knob
            # does): a malformed string would otherwise fail deep
            # inside the Spark INTERVAL expression with an opaque
            # ParseException at run time. Case-insensitive like the
            # INTERVAL parser; only checked where the knob is used.
            _require(
                re.fullmatch(
                    r"\d+\s+(millisecond|second|minute|hour|day|week"
                    r"|month|year)s?",
                    win.strip(),
                    flags=re.IGNORECASE,
                )
                is not None,
                f"model {model_id}: funnel window must look like "
                f"'<n> minutes/hours/days', got {win!r}",
            )
        if "steps" in reads:
            _require(
                len(steps) >= 2,
                f"model {model_id}: funnel analysis needs >= 2 steps, "
                f"got {list(steps)}",
            )
            _require(
                len(set(steps)) == len(steps),
                f"model {model_id}: funnel steps must be distinct",
            )
            _require(
                fm in VALID_FUNNEL_MODES,
                f"model {model_id}: funnel_mode must be one of "
                f"{sorted(VALID_FUNNEL_MODES)}, got {fm!r}",
            )
        scope = d.get("scope", "user")
        _require(
            scope in VALID_FUNNEL_SCOPES,
            f"model {model_id}: scope must be one of "
            f"{sorted(VALID_FUNNEL_SCOPES)}, got {scope!r}",
        )
        # a knob only some analyses read is an error elsewhere; ``scope``
        # picks the step clock, so it goes where ``window`` is read
        for knob, given in (
            ("steps", bool(steps)),
            ("scope", scope != "user"),
            ("intent_type", "intent_type" in d),
            ("window_days", "window_days" in d),
            ("epoch_year", "epoch_year" in d),
        ):
            param = "window" if knob == "scope" else knob
            readers = sorted(
                a for a in EVENT_OPERATORS if param in _event_params(a)
            )
            _require(
                not given or an in readers,
                f"model {model_id}: {knob} only applies to analysis "
                + " or ".join(readers),
            )
        if scope != "user":
            _require(
                "window" not in d,
                f"model {model_id}: scope session replaces the step "
                "window with the session gap — don't set window",
            )
        if an == "abandonment":
            _require(
                str(d.get("intent_type", "click"))
                != str(d.get("conversion_type", "purchase")),
                f"model {model_id}: abandonment needs distinct "
                "intent_type and conversion_type",
            )
        wd = d.get("window_days", 30)
        ey = d.get("epoch_year", 1995)
        _require(
            isinstance(ey, int) and not isinstance(ey, bool)
            and 1900 <= ey <= 2200,
            f"model {model_id}: epoch_year must be a year int, got {ey!r}",
        )
        _require(
            isinstance(wd, int) and not isinstance(wd, bool) and wd >= 1,
            f"model {model_id}: window_days must be a positive int, "
            f"got {wd!r}",
        )
        if an == "attribution":
            _require(
                am in VALID_ATTRIBUTION_MODELS,
                f"model {model_id}: attribution_model must be one of "
                f"{sorted(VALID_ATTRIBUTION_MODELS)}, got {am!r}",
            )
        lb = d.get("lookback_days", 7)
        _require(
            isinstance(lb, int) and not isinstance(lb, bool) and lb > 0,
            f"model {model_id}: lookback_days must be a positive int, "
            f"got {lb!r}",
        )
        # dyadic time-decay credits are shiftleft(1L, lookback - age):
        # lookback >= 63 would overflow the bigint weight
        _require(
            lb < 63,
            f"model {model_id}: lookback_days must be < 63 (time-decay "
            f"credits are exact 2^(lookback-age) bigints), got {lb}",
        )
        gap = d.get("gap_seconds", 1800)
        _require(
            isinstance(gap, int) and not isinstance(gap, bool) and gap > 0,
            f"model {model_id}: gap_seconds must be a positive int, "
            f"got {gap!r}",
        )
        return EventAnalysisConfig(
            analysis=an,
            source_table=d["source_table"],
            user_col=str(d.get("user_col", "user_id")),
            ts_col=str(d.get("ts_col", "ts")),
            type_col=str(d.get("type_col", "event_type")),
            order_col=str(d.get("order_col", "event_id")),
            steps=tuple(str(s) for s in steps),
            window=win,
            funnel_mode=fm,
            attribution_model=am,
            conversion_type=str(d.get("conversion_type", "purchase")),
            lookback_days=lb,
            gap_seconds=gap,
            scope=scope,
            window_days=wd,
            epoch_year=ey,
            intent_type=str(d.get("intent_type", "click")),
        )


@dataclass(frozen=True)
class GoldModel:
    """One gold model unit (reference gold_config.yaml).

    ``refresh_type``:
    - ``full``: run ``sql_query``, overwrite the target (the reference's
      default posture, gold_layer.py:114-180).
    - ``incremental``: run ``sql_query``, MERGE on ``primary_keys``.
    - ``delta``: incremental VIEW MAINTENANCE — the target is a grouped
      COUNT/SUM aggregate of ``snapshot_table`` declared by
      ``group_keys``/``sum_cols``, maintained from the snapshot DIFF via
      retraction semantics (operators.merge.incremental_agg_update)
      instead of re-aggregating the corpus each run.  No ``sql_query``:
      deriving both the first full build and the delta path from the SAME
      declaration is what guarantees delta ≡ full rebuild.
    - ``scd2``: Type-2 slowly-changing DIMENSION — ``sql_query`` yields
      the per-run source snapshot (business key + tracked attrs); the
      target is the versioned dimension (valid_from/valid_to, NULL
      valid_to = live) maintained by operators.merge.scd2_apply: changed
      attrs close the live row and open a new version, new keys insert,
      history passes through untouched. Declare the business key in
      ``primary_keys`` (exactly one) and the tracked columns in
      ``scd2_attrs``.

    ``model_type: event`` (refresh_type full/incremental): instead of
    ``sql_query``, an ``event:`` section declares a clickstream analysis
    (funnel / attribution / sessions — see EventAnalysisConfig) computed
    by the window-based operators in operators/temporal.py, which plain
    SQL transforms cannot express without hand-writing the stacked
    window machinery.
    """

    model_id: str
    target_table: str
    sql_query: str = ""
    model_type: str = "sql"
    partition_by: tuple[str, ...] = ()
    refresh_type: str = "full"
    primary_keys: tuple[str, ...] = ()
    enabled: bool = True
    # delta-maintenance knobs (refresh_type: delta only)
    snapshot_table: str | None = None
    snapshot_keys: tuple[str, ...] = ()
    group_keys: tuple[str, ...] = ()
    sum_cols: tuple[tuple[str, str], ...] = ()  # (output alias, source col)
    count_col: str = "n_rows"
    # > 0: write <target>__maintained_snapshot bucketed on snapshot_keys
    # with this many buckets, so the steady-state diff join reads the
    # maintained side with zero Exchange (pipeline._delta_model)
    snapshot_buckets: int = 0
    # scd2 knob (refresh_type: scd2 only): tracked attribute columns
    scd2_attrs: tuple[str, ...] = ()
    # event-analytics declaration (model_type: event only) — funnel /
    # attribution / sessions over an event table, routed through
    # operators/temporal.py so YAML ≡ direct composition
    event: "EventAnalysisConfig | None" = None

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "GoldModel":
        _require("model_id" in d, "model missing model_id")
        mid = d["model_id"]
        _require(d.get("target_table"), f"model {mid}: missing target_table")
        rt = d.get("refresh_type", "full")
        _require(rt in VALID_REFRESH_TYPES, f"model {mid}: invalid refresh_type {rt!r}")
        mt = d.get("model_type", "delta_agg" if rt == "delta" else "sql")
        pk = tuple(d.get("primary_keys") or ())
        delta_knobs = (
            "snapshot_table", "snapshot_keys", "group_keys", "sum_cols",
            "snapshot_buckets",
        )
        if rt == "delta":
            sb = d.get("snapshot_buckets", 0)
            _require(
                isinstance(sb, int) and not isinstance(sb, bool) and sb >= 0,
                f"model {mid}: snapshot_buckets must be a non-negative "
                f"int, got {sb!r}",
            )
            _require(
                mt == "delta_agg",
                f"model {mid}: refresh_type delta requires model_type "
                f"'delta_agg', got {mt!r}",
            )
            _require(
                not d.get("sql_query"),
                f"model {mid}: delta models declare group_keys/sum_cols, "
                "not sql_query (the maintained aggregate and its full "
                "rebuild must come from one declaration)",
            )
            _require(
                bool(d.get("snapshot_table")),
                f"model {mid}: delta refresh needs snapshot_table",
            )
            _require(
                bool(d.get("snapshot_keys")),
                f"model {mid}: delta refresh needs snapshot_keys "
                "(row identity for the snapshot diff)",
            )
            _require(
                bool(d.get("group_keys")),
                f"model {mid}: delta refresh needs group_keys",
            )
            sum_cols = tuple(
                (str(k), str(v))
                for k, v in (d.get("sum_cols") or {}).items()
            )
            reserved = {d.get("count_col", "n_rows"), *dict(sum_cols)}
            _require(
                len(reserved) == len(sum_cols) + 1,
                f"model {mid}: sum_cols aliases must be distinct from "
                "count_col",
            )
            # an alias that shadows a group key would emit two output
            # columns of one name and die mid-pipeline with an ambiguous
            # reference — fail at config load instead (same contract as
            # the count_col clash check above)
            gk_clash = sorted(
                reserved & set(map(str, d.get("group_keys") or ()))
            )
            _require(
                not gk_clash,
                f"model {mid}: aggregate aliases {gk_clash} collide with "
                "group_keys",
            )
        elif rt == "scd2":
            _require(
                mt == "sql",
                f"model {mid}: refresh_type scd2 runs sql_query, so "
                f"model_type must be 'sql', got {mt!r}",
            )
            _require(
                d.get("sql_query"),
                f"model {mid}: scd2 refresh needs sql_query (the per-run "
                "source snapshot of key + tracked attrs)",
            )
            _require(
                len(pk) == 1,
                f"model {mid}: scd2 refresh needs exactly one "
                "primary_keys entry (the dimension business key), got "
                f"{list(pk)}",
            )
            attrs = tuple(str(a) for a in (d.get("scd2_attrs") or ()))
            _require(
                bool(attrs),
                f"model {mid}: scd2 refresh needs scd2_attrs (the "
                "tracked attribute columns)",
            )
            _require(
                pk[0] not in attrs,
                f"model {mid}: the business key {pk[0]!r} cannot also be "
                "a tracked attr",
            )
            clash = sorted({"valid_from", "valid_to"} & {*attrs, pk[0]})
            _require(
                not clash,
                f"model {mid}: {clash} collide with the SCD2 validity "
                "columns",
            )
            sum_cols = ()
        else:
            _require(
                mt in ("sql", "event"),
                f"model {mid}: unsupported model_type {mt!r} "
                "(only 'sql' or 'event')",
            )
            if mt == "event":
                _require(
                    not d.get("sql_query"),
                    f"model {mid}: event models declare an event: "
                    "section, not sql_query (the analysis and its "
                    "operators come from one declaration)",
                )
                _require(
                    isinstance(d.get("event"), dict),
                    f"model {mid}: model_type event needs an event: "
                    "section",
                )
            else:
                _require(
                    d.get("sql_query"), f"model {mid}: missing sql_query"
                )
            _require(
                rt != "incremental" or pk,
                f"model {mid}: incremental refresh needs primary_keys",
            )
            sum_cols = ()
        # each kind's knobs are errors on the other kinds
        bad = [k for k in delta_knobs if d.get(k)]
        _require(
            rt == "delta" or not bad,
            f"model {mid}: {bad} only apply to refresh_type delta",
        )
        _require(
            rt == "scd2" or not d.get("scd2_attrs"),
            f"model {mid}: scd2_attrs only applies to refresh_type scd2",
        )
        _require(
            mt == "event" or not d.get("event"),
            f"model {mid}: event: section only applies to model_type event",
        )
        pb = d.get("partition_by") or ()
        if isinstance(pb, str):
            pb = (pb,)
        return GoldModel(
            model_id=mid,
            target_table=d["target_table"],
            sql_query=d.get("sql_query", ""),
            model_type=mt,
            partition_by=tuple(pb),
            refresh_type=rt,
            primary_keys=pk,
            enabled=bool(d.get("enabled", True)),
            snapshot_table=d.get("snapshot_table"),
            snapshot_keys=tuple(d.get("snapshot_keys") or ()),
            group_keys=tuple(d.get("group_keys") or ()),
            sum_cols=sum_cols,
            count_col=str(d.get("count_col", "n_rows")),
            snapshot_buckets=int(d.get("snapshot_buckets", 0) or 0),
            scd2_attrs=tuple(
                str(a) for a in (d.get("scd2_attrs") or ())
            ),
            event=(
                EventAnalysisConfig.from_dict(d["event"], mid)
                if mt == "event"
                else None
            ),
        )


@dataclass(frozen=True)
class LayerDefaults:
    """``default:`` block — per-layer spark conf. Other keys (the
    reference's table paths) load and are ignored."""

    spark_conf: dict[str, str] = field(default_factory=dict)

    @staticmethod
    def from_dict(d: dict[str, Any] | None) -> "LayerDefaults":
        d = d or {}
        conf = {str(k): str(v) for k, v in (d.get("spark_conf") or {}).items()}
        return LayerDefaults(spark_conf=conf)


@dataclass(frozen=True)
class PipelineConfig:
    sources: tuple[SourceConfig, ...] = ()
    transformations: tuple[SilverTransform, ...] = ()
    models: tuple[GoldModel, ...] = ()
    defaults: LayerDefaults = field(default_factory=LayerDefaults)

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "PipelineConfig":
        return PipelineConfig(
            sources=_unique_ids(SourceConfig.from_dict(s) for s in d.get("sources") or []),
            transformations=_unique_ids(
                SilverTransform.from_dict(t) for t in d.get("transformations") or []
            ),
            models=_unique_ids(GoldModel.from_dict(m) for m in d.get("models") or []),
            defaults=LayerDefaults.from_dict(d.get("default")),
        )


def load_yaml_config(path: str) -> PipelineConfig:
    import yaml

    with open(path) as f:
        raw = yaml.safe_load(f) or {}
    return PipelineConfig.from_dict(raw)


def load_config_dir(config_dir: str) -> dict[str, PipelineConfig]:
    """Load the conventional {bronze,silver,gold}_config.yaml trio
    (reference scripts/run_etl_pipeline.py --config-dir)."""
    out: dict[str, PipelineConfig] = {}
    for layer in ("bronze", "silver", "gold"):
        p = os.path.join(config_dir, f"{layer}_config.yaml")
        if os.path.exists(p):
            out[layer] = load_yaml_config(p)
    return out


def lineage_edges(config: "PipelineConfig") -> list[tuple[str, str, str]]:
    """(upstream, downstream, unit_id) edges derived from config metadata.

    Bronze edges come from source declarations; silver/gold edges are
    parsed from the FROM/JOIN clauses of the config SQL (identifier-only
    heuristic — subqueries and CTE aliases resolve to their base tables as
    long as they reference catalog names). Feeds the data dictionary /
    impact analysis: "what breaks downstream if this table is late?"
    """
    import re

    edges = [
        (s.source_path or s.source_id, s.target_table, s.source_id)
        for s in config.sources
    ]
    ident = re.compile(
        r"\b(?:FROM|JOIN)\s+([A-Za-z_][\w]*\.[A-Za-z_][\w]*)", re.IGNORECASE
    )
    for u in config.transformations + config.models:
        for up in dict.fromkeys(ident.findall(u.sql_query)):
            edges.append((up, u.target_table, unit_id(u)))
    return edges


# --- corpus pipelines (training-data prep as metadata) ----------------------

VALID_CORPUS_STAGES = {
    "quality_filter",
    "repetition_filter",
    "decontaminate",
    "span_dedup",
    "near_dedup",
    "semantic_dedup",
    "novelty_filter",
    "token_budget",
    "sample_quota",
    "phrase_filter",
    "split",
}
VALID_NEAR_DEDUP_KEEP = {"first", "best"}


@dataclass(frozen=True)
class CorpusStageConfig:
    """One stage of a corpus-cleaning pipeline. ``stage`` selects the
    operator; the remaining fields are that operator's knobs (validated
    per stage type at load time)."""

    stage: str
    # quality_filter
    min_quality_score: float = 0.0
    min_tokens: int = 0
    top_fraction: float | None = None
    # repetition_filter
    max_dup_bigram_frac: float | None = None
    # decontaminate
    eval_filter: str | None = None
    ngram: int = 5
    # decontaminate corpus-side prefilter: "none" = broadcast the eval
    # gram strings (fine while the eval suite is small); "bloom" =
    # constant-size dense-array bitmap + exact confirm join (identical
    # output; the 100 TB posture when the eval suite outgrows broadcast).
    prefilter: str = "none"
    # span_dedup
    span_tokens: int = 20
    # near_dedup + semantic_dedup
    keep: str = "first"
    # near_dedup candidate generator: "lsh" (MinHash bands — probabilistic
    # recall, the web-scale default) or "prefix" (SSJoin/PPJoin prefix
    # filtering — EXACT all-pairs, the compliance-grade sweep; costs a
    # global df-order pass).
    method: str = "lsh"
    # near_dedup method=prefix: the exact Jaccard threshold. Default is
    # the NEAR-DUP regime (0.7): prefix filtering's candidate space is
    # ~(1-t)·|set| postings per doc, so low thresholds degenerate — the
    # measured sf0.1 run at t=0.25 produced ~10M candidates for 25 true
    # pairs (dedup_jaccard_prefix docstring). Low-t discovery belongs to
    # LSH; set this explicitly only if you know the regime you're in.
    jaccard_threshold: float = 0.7
    # near_dedup LSH band-bucket cap: None = operator default
    # (dedup.DEFAULT_MAX_BUCKET_SIZE, the shipped 100 TB posture);
    # 0 = uncapped exact-candidate baseline; >0 = explicit cap.
    max_bucket_size: int | None = None
    # semantic_dedup (SemDeDup-shape embedding dedup): embeddings live in
    # a separate table keyed by the pipeline's id column (or
    # embedding_id_col); block_col is the coarse-quantizer / label column
    # that keeps pair generation sub-quadratic (None = unblocked
    # correctness baseline — small corpora only).
    embedding_table: str | None = None
    embedding_id_col: str | None = None
    embedding_col: str = "embedding"
    block_col: str | None = "label"
    threshold: float = 0.95
    # novelty_filter (drop docs whose distinct-trigram novelty rate —
    # share of the doc's trigrams it introduces to the corpus — falls
    # below the floor; docs too short to form a trigram carry no
    # evidence and are KEPT, the repetition_filter NULL convention)
    min_novelty: float | None = None
    # token_budget
    budget_tokens: int | None = None
    # sample_quota (exact min(k, |group|) docs per group, drawn by
    # md5-of-id order — uniform without replacement, reproducible,
    # partition-independent; the "at most N docs per domain" corpus-mix
    # contract fraction-based sampling can't hit)
    quota_by: str | None = None
    quota_k: int | None = None
    # phrase_filter (drop docs containing ANY of the banned TOKENIZED
    # phrases — order- and adjacency-exact, the compliance/toxic-phrase
    # screen; substring LIKE matching both over- and under-matches
    # tokenized text)
    phrases: tuple[str, ...] = ()
    # split (leakage-safe group-level train/valid/test assignment; the
    # one schema-EXTENDING stage — adds ``split_column`` — so it must be
    # the pipeline's last stage)
    split_by: str | None = None
    splits: tuple[tuple[str, float], ...] = ()
    split_column: str = "split"

    @staticmethod
    def from_dict(d: dict[str, Any], pipeline_id: str) -> "CorpusStageConfig":
        st = d.get("stage")
        _require(
            st in VALID_CORPUS_STAGES,
            f"corpus {pipeline_id}: invalid stage {st!r} "
            f"(valid: {sorted(VALID_CORPUS_STAGES)})",
        )
        tf = d.get("top_fraction")
        if tf is not None:
            _require(
                st == "quality_filter" and 0.0 < float(tf) <= 1.0,
                f"corpus {pipeline_id}: top_fraction must be in (0, 1] "
                "and only applies to quality_filter",
            )
        if st == "decontaminate":
            _require(
                bool(d.get("eval_filter")),
                f"corpus {pipeline_id}: decontaminate needs eval_filter",
            )
        pf = d.get("prefilter")
        if pf is not None:
            _require(
                st == "decontaminate" and pf in ("none", "bloom"),
                f"corpus {pipeline_id}: prefilter must be 'none' or "
                "'bloom' and only applies to decontaminate, got "
                f"{pf!r} on {st!r}",
            )
        if st == "token_budget":
            _require(
                int(d.get("budget_tokens", 0)) > 0,
                f"corpus {pipeline_id}: token_budget needs budget_tokens > 0",
            )
        mn = d.get("min_novelty")
        if st == "novelty_filter":
            _require(
                mn is not None and 0.0 < float(mn) <= 1.0,
                f"corpus {pipeline_id}: novelty_filter needs min_novelty "
                f"in (0, 1], got {mn!r}",
            )
        else:
            _require(
                mn is None,
                f"corpus {pipeline_id}: min_novelty only applies to the "
                "novelty_filter stage",
            )
        phrases_raw = d.get("phrases")
        if st == "phrase_filter":
            _require(
                isinstance(phrases_raw, list)
                and len(phrases_raw) > 0
                and all(
                    isinstance(p, str) and p.strip() for p in phrases_raw
                ),
                f"corpus {pipeline_id}: phrase_filter needs a non-empty "
                "phrases list of non-blank strings",
            )
            # a phrase must survive the pipeline's tokenizer, or the
            # config error would otherwise surface as a mid-run crash
            bad_phrases = [
                p
                for p in phrases_raw
                if not [
                    t for t in re.split(r"[^a-z0-9]+", p.lower()) if t
                ]
            ]
            _require(
                not bad_phrases,
                f"corpus {pipeline_id}: phrase_filter phrases must "
                f"contain at least one [a-z0-9] token after "
                f"normalization; got {bad_phrases!r}",
            )
        else:
            _require(
                phrases_raw is None,
                f"corpus {pipeline_id}: phrases only applies to the "
                "phrase_filter stage",
            )
        qb, qk = d.get("quota_by"), d.get("quota_k")
        if st == "sample_quota":
            _require(
                bool(qb) and qk is not None and int(qk) > 0,
                f"corpus {pipeline_id}: sample_quota needs quota_by and "
                f"quota_k > 0 (got quota_by={qb!r}, quota_k={qk!r})",
            )
        else:
            _require(
                qb is None and qk is None,
                f"corpus {pipeline_id}: quota_by/quota_k only apply to "
                "the sample_quota stage",
            )
        splits_raw = d.get("splits")
        if st == "split":
            _require(
                bool(d.get("split_by")) and bool(splits_raw),
                f"corpus {pipeline_id}: split needs split_by and splits",
            )
            total = sum(float(s.get("weight", 0)) for s in splits_raw)
            _require(
                abs(total - 1.0) <= 1e-9
                and all(float(s.get("weight", 0)) > 0 for s in splits_raw)
                and all(bool(s.get("name")) for s in splits_raw),
                f"corpus {pipeline_id}: splits need names and positive "
                f"weights summing to 1 (got total {total})",
            )
        else:
            _require(
                splits_raw is None and d.get("split_by") is None,
                f"corpus {pipeline_id}: split_by/splits only apply to "
                "the split stage",
            )
        keep = d.get("keep", "first")
        mbs = d.get("max_bucket_size")
        if st in ("near_dedup", "semantic_dedup"):
            _require(
                keep in VALID_NEAR_DEDUP_KEEP,
                f"corpus {pipeline_id}: {st} keep must be one of "
                f"{sorted(VALID_NEAR_DEDUP_KEEP)}, got {keep!r}",
            )
        method = d.get("method", "lsh")
        jt = d.get("jaccard_threshold")
        if st == "near_dedup":
            _require(
                method in ("lsh", "prefix"),
                f"corpus {pipeline_id}: near_dedup method must be 'lsh' "
                f"or 'prefix', got {method!r}",
            )
            if mbs is not None:
                _require(
                    method == "lsh",
                    f"corpus {pipeline_id}: max_bucket_size is an LSH "
                    "knob (method=prefix is exact — it has no buckets)",
                )
                _require(
                    int(mbs) >= 0,
                    f"corpus {pipeline_id}: near_dedup max_bucket_size "
                    f"must be >= 0 (0 = uncapped), got {mbs!r}",
                )
            if jt is not None:
                _require(
                    method == "prefix" and 0.0 < float(jt) <= 1.0,
                    f"corpus {pipeline_id}: jaccard_threshold must be in "
                    "(0, 1] and only applies to method=prefix, got "
                    f"{jt!r}",
                )
        else:
            _require(
                mbs is None,
                f"corpus {pipeline_id}: max_bucket_size only applies to "
                "near_dedup",
            )
            _require(
                d.get("method") is None and jt is None,
                f"corpus {pipeline_id}: method/jaccard_threshold only "
                "apply to near_dedup",
            )
        emb_knobs = (
            "embedding_table", "embedding_id_col", "embedding_col",
            "block_col", "threshold",
        )
        if st == "semantic_dedup":
            _require(
                bool(d.get("embedding_table")),
                f"corpus {pipeline_id}: semantic_dedup needs "
                "embedding_table",
            )
            thr = float(d.get("threshold", 0.95))
            _require(
                0.0 < thr <= 1.0,
                f"corpus {pipeline_id}: semantic_dedup threshold must be "
                f"in (0, 1], got {thr}",
            )
        else:
            bad_emb = [k for k in emb_knobs if d.get(k) is not None]
            _require(
                not bad_emb,
                f"corpus {pipeline_id}: {bad_emb} only apply to "
                "semantic_dedup",
            )
        return CorpusStageConfig(
            stage=st,
            min_quality_score=float(d.get("min_quality_score", 0.0)),
            min_tokens=int(d.get("min_tokens", 0)),
            top_fraction=float(tf) if tf is not None else None,
            max_dup_bigram_frac=(
                float(d["max_dup_bigram_frac"])
                if d.get("max_dup_bigram_frac") is not None
                else None
            ),
            eval_filter=d.get("eval_filter"),
            ngram=int(d.get("ngram", 5)),
            prefilter=pf or "none",
            span_tokens=int(d.get("span_tokens", 20)),
            keep=keep,
            method=method,
            jaccard_threshold=float(jt) if jt is not None else 0.7,
            max_bucket_size=int(mbs) if mbs is not None else None,
            embedding_table=d.get("embedding_table"),
            embedding_id_col=d.get("embedding_id_col"),
            embedding_col=d.get("embedding_col") or "embedding",
            # empty string = unblocked (the all-pairs correctness
            # baseline); absent = the operator default block column
            block_col=(d.get("block_col", "label") or None),
            threshold=float(d.get("threshold", 0.95)),
            min_novelty=float(mn) if mn is not None else None,
            budget_tokens=(
                int(d["budget_tokens"])
                if d.get("budget_tokens") is not None
                else None
            ),
            quota_by=qb,
            quota_k=int(qk) if qk is not None else None,
            phrases=tuple(phrases_raw or ()),
            split_by=d.get("split_by"),
            splits=tuple(
                (s["name"], float(s["weight"])) for s in splits_raw or ()
            ),
            split_column=d.get("split_column", "split"),
        )


@dataclass(frozen=True)
class CorpusPipelineConfig:
    """A declared corpus-cleaning pipeline: input docs → ordered stages →
    output table. The training-data counterpart of the ETL layers: the
    same metadata-driven contract, over the dedup/text/decontam operator
    library."""

    pipeline_id: str
    stages: tuple[CorpusStageConfig, ...]
    target_table: str
    input_path: str | None = None
    input_table: str | None = None
    id_column: str = "doc_id"
    text_column: str = "text"
    description: str = ""
    enabled: bool = True

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "CorpusPipelineConfig":
        _require("pipeline_id" in d, "corpus pipeline missing pipeline_id")
        pid = d["pipeline_id"]
        _require(
            bool(d.get("input_path")) != bool(d.get("input_table")),
            f"corpus {pid}: exactly one of input_path / input_table",
        )
        _require("target_table" in d, f"corpus {pid}: missing target_table")
        stages = tuple(
            CorpusStageConfig.from_dict(s, pid) for s in d.get("stages") or []
        )
        _require(len(stages) > 0, f"corpus {pid}: needs at least one stage")
        _require(
            all(s.stage != "split" for s in stages[:-1]),
            f"corpus {pid}: split extends the schema and must be the "
            "last stage",
        )
        return CorpusPipelineConfig(
            pipeline_id=pid,
            stages=stages,
            target_table=d["target_table"],
            input_path=d.get("input_path"),
            input_table=d.get("input_table"),
            id_column=d.get("id_column", "doc_id"),
            text_column=d.get("text_column", "text"),
            description=d.get("description", ""),
            enabled=bool(d.get("enabled", True)),
        )


@dataclass(frozen=True)
class CorpusConfig:
    pipelines: tuple[CorpusPipelineConfig, ...] = ()
    defaults: LayerDefaults = field(default_factory=LayerDefaults)

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "CorpusConfig":
        return CorpusConfig(
            pipelines=_unique_ids(
                CorpusPipelineConfig.from_dict(p)
                for p in d.get("corpus_pipelines") or []
            ),
            defaults=LayerDefaults.from_dict(d.get("default")),
        )


def load_corpus_config(path: str) -> CorpusConfig:
    import yaml

    with open(path) as f:
        raw = yaml.safe_load(f) or {}
    return CorpusConfig.from_dict(raw)
