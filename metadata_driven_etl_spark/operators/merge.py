"""MERGE / upsert semantics (reference K3: Delta MERGE, gold_layer.py:184-213).

The reference upserts incremental gold models with Delta's
``MERGE INTO ... WHEN MATCHED UPDATE SET * WHEN NOT MATCHED INSERT *``.
This environment has no Delta jars, so the engine exposes the same
semantics through a seam:

- ``upsert(target, source, keys)`` — the pure relational form
  (source ∪ (target ▷ source)), used for computation and for the oracle.
- ``validate_unique_keys_arrow`` / ``upsert_arrow`` — the same pair on
  Arrow tables on the driver, for the streaming upsert sink's driver copy
  of its target (``io.writer.ArrowMirror``); same results, same error.
- the table-level merge is ``TableFormat.merge`` (io.writer): on parquet
  it upserts into a checkpointed copy of the table and overwrites the
  table from it; with Delta it is ``DeltaTable.merge``.

Scale note: the relational form is one left-anti join (broadcastable when
the incremental source is small — the common case) + a union; with Delta
it becomes a file-pruned MERGE. Idempotence (merge twice ≡ once) is
property-tested in tests/.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType


class DuplicateSourceKeysError(ValueError):
    """The merge source has >1 row for some key (Delta MERGE raises on
    multiple matches too; the relational emulation must not silently land
    duplicate rows instead)."""


def validate_unique_keys(source: DataFrame, keys: Sequence[str]) -> int:
    """Return the row count of ``source``; raise
    :class:`DuplicateSourceKeysError` if it is not unique per key. One
    aggregate over the (typically small, incremental) source batch finds
    the count, the largest per-key count and a key that has it, so the
    check and the count cost one collect."""
    per_key = source.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
    stats = per_key.agg(
        F.sum("_n").alias("rows"),
        F.max("_n").alias("worst"),
        F.max_by(F.struct(*keys), "_n").alias("key"),
    ).first()
    if stats["worst"] is not None and stats["worst"] > 1:
        raise DuplicateSourceKeysError(
            f"merge source has {stats['worst']} rows for key "
            f"{stats['key'].asDict()}"
        )
    return stats["rows"] or 0


def upsert(target: DataFrame, source: DataFrame, keys: Sequence[str]) -> DataFrame:
    """WHEN MATCHED UPDATE ALL / WHEN NOT MATCHED INSERT ALL, relationally.

    Rows of ``target`` whose key appears in ``source`` are replaced by the
    source row; unmatched source rows are inserted. Column sets must match
    (``UPDATE SET *`` semantics). ``source`` must be unique per key; this
    pure form stays lazy, so uniqueness is enforced at the table-merge
    level (:func:`validate_unique_keys`, called by TableFormat.merge).
    """
    kept = target.join(F.broadcast(source.select(*keys).distinct()), on=list(keys), how="left_anti")
    return source.unionByName(kept)


def validate_unique_keys_arrow(source: pa.Table, keys: Sequence[str]) -> int:
    """:func:`validate_unique_keys` on an Arrow table: return its row
    count, or raise :class:`DuplicateSourceKeysError` with the same
    message. Null keys group together, as in Spark's ``groupBy``. When
    several keys share the largest count, the one reported may differ."""
    keys = list(keys)
    counts = source.select(keys).group_by(keys, use_threads=False).aggregate(
        [([], "count_all")]
    )
    n = counts["count_all"]
    worst = pc.max(n).as_py() or 0
    if worst > 1:
        i = pc.index(n, worst).as_py()
        key = {k: _row_value(counts[k][i]) for k in keys}
        raise DuplicateSourceKeysError(
            f"merge source has {worst} rows for key {key}"
        )
    return source.num_rows


def _row_value(scalar: pa.Scalar):
    """An Arrow value as a Spark ``Row`` holds it: a ``TimestampType``
    value (UTC in Arrow) is naive local time."""
    t = scalar.type
    if pa.types.is_timestamp(t) and t.tz and scalar.is_valid:
        micros = scalar.cast(pa.timestamp("us", tz=t.tz)).value
        return TimestampType().fromInternal(micros)
    return scalar.as_py()


def upsert_arrow(
    target: pa.Table | None, source: pa.Table, keys: Sequence[str]
) -> pa.Table:
    """:func:`upsert` on Arrow tables: ``source`` first, then the rows of
    ``target`` whose key is not in ``source``, in their order. A null key
    matches nothing, as in :func:`upsert`'s join, so a null-keyed target
    row is kept. ``target`` None is an empty target. ``source`` must have
    ``target``'s schema and be unique per key
    (:func:`validate_unique_keys_arrow`)."""
    if target is None:
        return source
    keys = list(keys)
    row = "__upsert_target_row"
    numbered = target.select(keys).append_column(
        row, pa.array(np.arange(target.num_rows, dtype=np.int64))
    )
    kept = numbered.join(source.select(keys), keys, join_type="left anti")
    return pa.concat_tables([source, target.take(kept.sort_by(row)[row])])


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    attrs: Sequence[str],
    effective_date: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge, relationally (no Delta needed).

    ``current`` carries (key, attrs..., valid_from, valid_to) with
    ``valid_to IS NULL`` marking the live row per key. ``updates`` carries
    (key, attrs...). Semantics:

    - live row whose attrs differ from its update → closed
      (``valid_to = effective_date``) and a new live row inserted;
    - live row with identical attrs, or no update → unchanged;
    - brand-new key → inserted live;
    - already-closed history rows → passed through untouched.

    One broadcast-ready join of updates against live rows + a union — the
    same shape Delta's SCD2 MERGE compiles to, minus the transaction log.
    Null-safe attr comparison (``<=>``), so NULL→value transitions count
    as changes.
    """
    eff = F.lit(effective_date).cast("date")
    live = current.filter(F.col(valid_to).isNull())
    closed_history = current.filter(F.col(valid_to).isNotNull())

    u = updates.select(
        F.col(key).alias("_u_key"), *[F.col(a).alias(f"_u_{a}") for a in attrs]
    )
    cmp = live.join(F.broadcast(u), live[key] == F.col("_u_key"), "left")
    same = None
    for a in attrs:
        eq = F.col(a).eqNullSafe(F.col(f"_u_{a}"))
        same = eq if same is None else (same & eq)
    changed = F.col("_u_key").isNotNull() & ~same

    untouched = cmp.filter(~changed).select(*current.columns)
    closed_now = cmp.filter(changed).select(
        *[F.col(c) if c != valid_to else eff.alias(valid_to) for c in current.columns]
    )
    opened_now = cmp.filter(changed).select(
        F.col(key),
        *[F.col(f"_u_{a}").alias(a) for a in attrs],
        eff.alias(valid_from),
        F.lit(None).cast("date").alias(valid_to),
    )
    fresh = (
        updates.join(F.broadcast(current.select(key).distinct()), key, "left_anti")
        .select(
            F.col(key),
            *[F.col(a) for a in attrs],
            eff.alias(valid_from),
            F.lit(None).cast("date").alias(valid_to),
        )
    )
    return (
        closed_history.unionByName(untouched)
        .unionByName(closed_now)
        .unionByName(opened_now.select(*current.columns))
        .unionByName(fresh.select(*current.columns))
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Row-level diff between two snapshots of the same table: one row per
    changed key with ``change_type`` in inserted / deleted / updated
    (unchanged keys omitted) — the CDC/regression-check companion to
    ``upsert`` (what changed between yesterday's gold table and today's).

    Comparison is null-safe struct equality over ``compare_cols``
    (default: every non-key column of ``new``), so NULL→value and
    value→NULL both read as updates and no hashing false-negative is
    possible. Plan shape: ONE full-outer sort-merge join keyed on
    ``keys`` — each side shuffles once; snapshots written bucketed on the
    key (`overwrite_bucketed`) diff with zero Exchange. Never a collect,
    never a row-by-row comparison loop.
    """
    compare = list(
        compare_cols
        if compare_cols is not None
        else [c for c in new.columns if c not in keys]
    )
    # key-only table: presence is the only signal — updated never fires
    payload = (
        F.struct(*compare) if compare else F.struct(F.lit(0).alias("__c"))
    )
    o = old.select(*keys, payload.alias("__old"))
    n = new.select(*keys, payload.alias("__new"))
    j = o.join(n, on=list(keys), how="full_outer")
    change = (
        F.when(F.col("__old").isNull(), F.lit("inserted"))
        .when(F.col("__new").isNull(), F.lit("deleted"))
        .when(~F.col("__old").eqNullSafe(F.col("__new")), F.lit("updated"))
    )
    return (
        j.select(*keys, change.alias("change_type"))
        .where(F.col("change_type").isNotNull())
    )


def incremental_agg_update(
    base_agg: DataFrame,
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    group_keys: Sequence[str],
    sum_cols: dict[str, str],
    count_col: str = "n_rows",
) -> DataFrame:
    """Maintain a grouped SUM/COUNT aggregate incrementally from a snapshot
    pair — the materialized-view companion to :func:`snapshot_diff` (the
    reference recomputes gold models from scratch each run,
    gold_layer.py:114-180; at 100 TB a full rescan per cadence is the
    dominant cost, so the engine also offers delta maintenance).

    Retraction semantics (the standard incremental-view-maintenance model,
    as in differential dataflow / DBSP): each changed row contributes its
    old image with weight -1 and its new image with weight +1; inserted
    rows only +1, deleted rows only -1.  Applying the signed per-group
    delta to ``base_agg`` reproduces exactly what a full re-aggregation of
    ``new`` would return, for the additive aggregates maintained here
    (COUNT and SUM over integer-typed columns — use long/decimal measures;
    float sums are order-sensitive and belong in the exact-decimal helpers
    of functions/__init__.py).  Groups whose maintained count reaches 0
    drop out, matching the full recompute.

    Plan shape: ONE full-outer join of the two snapshots on the row
    ``keys`` (each side shuffles once; snapshots written with
    ``overwrite_bucketed`` on the key diff with zero Exchange), then the
    signed delta — only the CHANGED rows, typically a tiny fraction of the
    corpus — aggregates per ``group_keys`` and joins the (already small)
    ``base_agg``.  The corpus itself is never re-aggregated: cost scales
    with the change rate, not the table size.
    """
    keys = list(keys)
    gks = list(group_keys)
    payload_cols = sorted({*gks, *sum_cols.values()})
    payload = lambda: F.struct(*[F.col(c) for c in payload_cols])  # noqa: E731
    o = old.select(*keys, payload().alias("__old"))
    n = new.select(*keys, payload().alias("__new"))
    changed = (
        o.join(n, on=keys, how="full_outer")
        .where(
            F.col("__old").isNull()
            | F.col("__new").isNull()
            | ~F.col("__old").eqNullSafe(F.col("__new"))
        )
    )
    # ±1-weighted row images: array(old·-1, new·+1) → explode → drop the
    # absent side (insert has no old image, delete no new image).
    signed = (
        changed.select(
            F.explode(
                F.array(
                    F.when(
                        F.col("__old").isNotNull(),
                        F.struct(
                            F.lit(-1).cast("long").alias("__sign"),
                            F.col("__old").alias("__p"),
                        ),
                    ),
                    F.when(
                        F.col("__new").isNotNull(),
                        F.struct(
                            F.lit(1).cast("long").alias("__sign"),
                            F.col("__new").alias("__p"),
                        ),
                    ),
                )
            ).alias("__d")
        )
        .where(F.col("__d").isNotNull())
        .select(
            F.col("__d.__sign").alias("__sign"), F.col("__d.__p").alias("__p")
        )
        .select("__sign", "__p.*")
    )
    return apply_signed_delta(
        base_agg, signed, group_keys=gks, sum_cols=sum_cols,
        count_col=count_col,
    )


def apply_signed_delta(
    base_agg: DataFrame,
    signed: DataFrame,
    group_keys: Sequence[str],
    sum_cols: dict[str, str],
    count_col: str = "n_rows",
    sign_col: str = "__sign",
) -> DataFrame:
    """Apply ±1-weighted change rows to a grouped COUNT/SUM aggregate —
    the shared delta-apply core of :func:`incremental_agg_update`
    (snapshot-pair form) and the streaming CDC maintenance sink
    (``streaming.agg_maintenance_sink``).  ``signed`` carries the group
    and measure columns plus ``sign_col`` (+1 asserted / -1 retracted).
    Groups whose maintained count reaches 0 drop out."""
    gks = list(group_keys)
    delta = signed.groupBy(*gks).agg(
        F.sum(sign_col).alias(f"__d_{count_col}"),
        *[
            F.sum(F.col(src) * F.col(sign_col)).alias(f"__d_{alias}")
            for alias, src in sum_cols.items()
        ],
    )
    out_aggs = [count_col, *sum_cols]
    # NULL-safe group matching: a NULL-keyed group is a real group (a full
    # groupBy puts NULL keys in one group), and an equi-join would keep the
    # base and delta NULL rows apart — losing retractions and duplicating
    # the NULL group. Same discipline as snapshot_diff's eqNullSafe.
    # The delta side's group columns are RENAMED before the join so the
    # condition needs no frame-attribute references (base and delta may
    # share lineage — e.g. an empty base derived from the same batch).
    delta = delta.select(
        *[F.col(g).alias(f"__dg_{g}") for g in gks],
        *[F.col(f"__d_{a}") for a in out_aggs],
    )
    cond = None
    for g in gks:
        c = F.col(g).eqNullSafe(F.col(f"__dg_{g}"))
        cond = c if cond is None else cond & c
    merged = base_agg.join(delta, on=cond, how="full_outer").select(
        *[F.coalesce(F.col(g), F.col(f"__dg_{g}")).alias(g) for g in gks],
        *[
            (
                F.coalesce(F.col(a), F.lit(0))
                + F.coalesce(F.col(f"__d_{a}"), F.lit(0))
            ).alias(a)
            for a in out_aggs
        ],
    )
    return merged.where(F.col(count_col) > 0)
