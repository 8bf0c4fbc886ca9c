"""Deterministic sampling operators for corpus construction.

Not present in the reference (its pipelines move whole tables; sampling is
a training-data concern added per the north star). The common thread:
membership is a pure function of the row key — ``rand()``-based sampling
changes membership across runs, engines and partitionings, which breaks
reproducibility and any downstream join against the sample.

``hash_unit`` maps a key column to a uniform double in [0, 1) via the
first 32 bits of its md5 — identical bit-for-bit in Spark and DuckDB
(exact 32-bit-int / 2^32 division), so oracles and re-runs agree exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def hash_unit(col: Column | str) -> Column:
    """Uniform [0, 1) double keyed on the column's string value."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")
        / F.lit(4294967296.0)
    )


def sql_hash_unit(expr: str) -> str:
    return (
        f"('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8))::BIGINT"
        " / 4294967296.0"
    )


def weighted_domain_sample(
    df: DataFrame,
    weights: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    frac_col: str = "frac",
) -> DataFrame:
    """Per-domain rate sampling: keep each row with probability
    ``weights[frac]`` for its domain — the corpus-mixing step of a training
    pipeline (up/down-weight sources to hit a target data mixture).

    ``weights``: (domain_col, frac_col in [0, 1]). Deterministic: a row is
    kept iff ``hash_unit(id) < frac`` — reproducible across runs and
    engines, and monotone in frac (raising a domain's weight only ever
    *adds* documents, never reshuffles the kept set — so mixture
    experiments are nested samples).

    Shape: broadcast join on the (tiny) weights table + a map-side filter;
    zero shuffles of the corpus at 100 TB.
    """
    return (
        df.join(F.broadcast(weights), domain_col)
        .filter(hash_unit(id_col) < F.col(frac_col))
        .drop(frac_col)
    )


def select_within_token_budget(
    df: DataFrame,
    budget_tokens: int,
    score_col: str,
    token_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy data selection under a token budget: take documents in
    descending ``score_col`` order (ties → lowest id) while the cumulative
    ``token_col`` stays ≤ ``budget_tokens``.

    The standard corpus-curation move ("spend my 10B-token budget on the
    best documents"). The greedy prefix needs a GLOBAL cumulative sum —
    a naive ``sum() OVER (ORDER BY ...)`` funnels the corpus through one
    partition, so this uses the distributed dense-prefix pattern:
    range-repartition on the sort key (global order across partitions),
    per-partition running sums, then add broadcast per-partition offsets
    (one tiny count/sum aggregate). Same construction as
    ``dedup.training_order``; output is identical for any range bounds
    because ranges partition the total order.

    Returns the selected rows: (id_col, score_col, token_col,
    cum_tokens). A doc whose tokens would cross the budget is EXCLUDED
    (strict prefix — deterministic in both engines).
    """
    ranged = (
        df.select(F.col(id_col), F.col(score_col), F.col(token_col))
        .repartitionByRange(F.desc(score_col), F.asc(id_col))
        .withColumn("_pid", F.spark_partition_id())
    )
    offsets = (
        ranged.groupBy("_pid")
        .agg(F.sum(token_col).alias("_ptoks"))
        .select(
            "_pid",
            F.coalesce(
                F.sum("_ptoks").over(
                    # unpartitioned window — INTENTIONAL and scale-safe: this
                    # frame has ONE ROW PER INPUT PARTITION (metadata-
                    # sized, ~#partitions rows), so the single-task window
                    # WindowExec warns about is over e.g. 1000 rows at
                    # 1000 executors, never over data. (partitionBy(lit)
                    # would be constant-folded out of the spec anyway.)
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("_offset"),
        )
    )
    local = (
        Window.partitionBy("_pid")
        .orderBy(F.desc(score_col), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ranged.withColumn("_local_cum", F.sum(token_col).over(local))
        .join(F.broadcast(offsets), "_pid")
        .withColumn(
            "cum_tokens",
            (F.col("_offset") + F.col("_local_cum")).cast("long"),
        )
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select(id_col, score_col, token_col, "cum_tokens")
    )


def sql_select_within_token_budget(
    budget_tokens: int,
    score_expr: str,
    token_expr: str,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`select_within_token_budget`."""
    return f"""
    WITH scored AS (
        SELECT {id_col}, {score_expr} AS score, {token_expr} AS n_tokens
        FROM {table}
    ),
    cum AS (
        SELECT {id_col}, score, n_tokens,
               CAST(sum(n_tokens) OVER (
                   ORDER BY score DESC, {id_col}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM scored
    )
    SELECT {id_col}, score, n_tokens, cum_tokens
    FROM cum WHERE cum_tokens <= {budget_tokens}
    """


def split_by_group(
    df: DataFrame,
    group_col: str,
    splits: list[tuple[str, float]],
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/valid/test assignment: every row of a GROUP
    (domain, dedup cluster, author) lands in the SAME split, because the
    split is a pure function of the group key's hash — row-level sampling
    (``sample_hash``) would scatter near-duplicate documents from one
    domain across train and test, leaking evaluation data into training.

    ``splits`` is an ordered list of (name, weight); weights must sum to
    1. Assignment cuts the group hash's uniform [0, 1) value at the
    cumulative weights, so adding a later split never reshuffles earlier
    ones' membership (the stability property reproducible pipelines
    need). Map-only: no shuffle, no group materialization — at 100 TB the
    assignment is a projection; realized split SIZES follow group mass,
    not the weights exactly (inherent to group-level splitting: the
    bigger the groups, the lumpier the proportions).
    """
    if not splits:
        raise ValueError("splits must be non-empty")
    total = sum(w for _, w in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    if any(w <= 0 for _, w in splits):
        raise ValueError("split weights must be positive")
    if split_col in df.columns:
        # withColumn would silently REPLACE it: a corpus that already
        # carries a split assignment would be re-split with no error
        # (ADVICE r5).
        raise ValueError(
            f"split_by_group: input already has a {split_col!r} column — "
            "drop/rename it first, or pass a different split_col"
        )
    u = hash_unit(group_col)
    expr = None
    acc = 0.0
    for name, w in splits[:-1]:
        acc += w
        branch = (u < F.lit(acc), F.lit(name))
        expr = F.when(*branch) if expr is None else expr.when(*branch)
    last = F.lit(splits[-1][0])
    assign = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, assign)
