"""Co-occurrence & sequence analytics: market-basket pairs, Markov transitions.

Reference parity: the reference's transform layer expresses co-occurrence
queries as SQL self-joins over the silver tables (transform_config.yaml's
free-form SQL transforms); here they are first-class operators with the
pair space bounded by construction.

Scale design (100 TB):
- ``basket_pair_counts`` NEVER self-joins the fact table. It groups items
  per basket (one shuffle, basket rows come back as one array each) and
  expands i<j combinations map-side with higher-order functions — the
  pair space is sum_b k_b(k_b-1)/2, bounded per basket, never |rows|².
  A ``max_basket_size`` cap drops degenerate baskets (the same contract
  as the LSH ``max_bucket_size`` cap: a million-item basket implies half
  a trillion pairs no matter how you compute them — the blow-up is in
  the answer, so the cap is the shipped default, mirrored in oracles).
- ``transition_counts`` is ONE key-partitioned window (lag) + one
  partial-aggregated count; the transition matrix itself is |types|²
  rows, so the row-share normalization joins a broadcast-size frame.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from metadata_driven_etl_spark.io.writer import checkpoint

DEFAULT_MAX_BASKET_SIZE = 1024


def pair_combinations(items: Column) -> Column:
    """All i<j element pairs of a SORTED array as ``struct<item_a,item_b>``.

    Pure higher-order functions (flatten ∘ transform ∘ slice) — map-side,
    codegen, no shuffle, no Python. The array must be sorted and distinct
    for (a, b) to be a canonical undirected pair key.
    """
    return F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + F.lit(2), F.size(items)),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )


def _gather_baskets(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket_size: int | None,
) -> DataFrame:
    """(basket, sorted distinct item array), capped. NULL basket keys and
    NULL items are dropped explicitly: collect_set would silently skip
    null items while groupBy keeps a NULL basket, and SQL twins diverge
    on both (NULL never equi-joins; COUNT(*) counts null items) — the
    contract is simply that null keys don't participate, on both
    engines."""
    baskets = (
        df.select(basket_col, item_col)
        .filter(F.col(basket_col).isNotNull() & F.col(item_col).isNotNull())
        .groupBy(basket_col)
        .agg(F.sort_array(F.collect_set(item_col)).alias("_items"))
    )
    if max_basket_size is not None:
        baskets = baskets.filter(F.size("_items") <= max_basket_size)
    return baskets


def basket_pair_counts(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket_size: int | None = DEFAULT_MAX_BASKET_SIZE,
) -> DataFrame:
    """Undirected co-occurrence counts: in how many baskets do items a and
    b (a < b) appear together. The market-basket / co-purchase primitive
    (support counts for pair itemsets).

    One shuffle on ``basket_col`` (distinct items gathered per basket),
    pair expansion map-side via :func:`pair_combinations`, one
    partial-aggregated count on the pair key. Baskets larger than
    ``max_basket_size`` are dropped (quadratic-in-the-answer guard — see
    module docstring); ``None`` disables the cap.
    """
    baskets = _gather_baskets(df, basket_col, item_col, max_basket_size)
    return (
        baskets.select(F.explode(pair_combinations(F.col("_items"))).alias("p"))
        .select("p.item_a", "p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
    )


def _pair_counts_with_item_sizes(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket_size: int | None,
    min_baskets: int = 1,
) -> DataFrame:
    """Shared skeleton for pair-similarity scores: gather baskets ONCE
    (materialized — it feeds the pair expansion AND the per-item sizes,
    so any cap applies to both consistently), expand i<j pairs map-side,
    count per pair, and broadcast the item sizes back.  Emits
    ``(item_a, item_b, n_baskets, _n_a, _n_b)`` — cosine/jaccard/etc.
    are one ``select`` each on top.
    """
    baskets = checkpoint(
        _gather_baskets(df, basket_col, item_col, max_basket_size)
    )
    pairs = (
        baskets.select(F.explode(pair_combinations(F.col("_items"))).alias("p"))
        .select("p.item_a", "p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
    )
    if min_baskets > 1:
        pairs = pairs.filter(F.col("n_baskets") >= min_baskets)
    # Materialized once (guide §2.4, r13): ia/ib are rename-only views,
    # but Spark shares no subtree between them — without this the
    # explode + per-item count over the FULL basket frame executed once
    # per join side (verified in the r12 copurchase_item_cf plan). The
    # frame is |items| narrow rows.
    items = checkpoint(
        baskets.select(F.explode("_items").alias("_it"))
        .groupBy("_it")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    ia = items.select(F.col("_it").alias("_it_a"), F.col("_n").alias("_n_a"))
    ib = items.select(F.col("_it").alias("_it_b"), F.col("_n").alias("_n_b"))
    return (
        pairs.join(F.broadcast(ia), F.col("item_a") == F.col("_it_a"))
        .join(F.broadcast(ib), F.col("item_b") == F.col("_it_b"))
        .select("item_a", "item_b", "n_baskets", "_n_a", "_n_b")
    )


def basket_pair_cosine(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket_size: int | None = DEFAULT_MAX_BASKET_SIZE,
    min_baskets: int = 1,
) -> DataFrame:
    """Item-item collaborative-filtering similarity: cosine over basket
    membership vectors — n_ab / sqrt(n_a · n_b), the "customers who
    bought X also bought Y" scoring primitive. Output:
    (item_a, item_b, n_baskets, cosine) for pairs with
    ``n_baskets >= min_baskets``.

    Same single-shuffle pair generation as :func:`basket_pair_counts`
    (the basket frame is materialized once and feeds both the pair
    counts and the per-item basket counts); the per-item counts frame is
    |items| rows → broadcast back onto the pair aggregate, so the pair
    frame never re-shuffles. All counts are exact integers; cosine is
    one long→double conversion per factor, a multiply, an IEEE sqrt and
    a divide — bit-identical across engines (the doc_cosine_pairs
    discipline).
    """
    return _pair_counts_with_item_sizes(
        df, basket_col, item_col, max_basket_size, min_baskets
    ).select(
        "item_a",
        "item_b",
        "n_baskets",
        (
            F.col("n_baskets").cast("double")
            / F.sqrt(F.col("_n_a").cast("double") * F.col("_n_b").cast("double"))
        ).alias("cosine"),
    )


def sql_basket_pair_cosine(
    table: str,
    basket_col: str,
    item_col: str,
    max_basket_size: int | None = DEFAULT_MAX_BASKET_SIZE,
    min_baskets: int = 1,
) -> str:
    """DuckDB twin of :func:`basket_pair_cosine` (distinct self-join +
    per-item basket counts over the same capped baskets)."""
    cap = (
        f"""
    big AS (SELECT {basket_col} FROM d GROUP BY 1
            HAVING COUNT(*) > {max_basket_size}),
    kept AS (SELECT * FROM d WHERE NOT EXISTS
             (SELECT 1 FROM big WHERE big.{basket_col} = d.{basket_col}))"""
        if max_basket_size is not None
        else "\n    kept AS (SELECT * FROM d)"
    )
    return f"""
    WITH d AS (SELECT DISTINCT {basket_col}, {item_col} FROM {table}
               WHERE {basket_col} IS NOT NULL
                 AND {item_col} IS NOT NULL),{cap},
    pairs AS (
        SELECT a.{item_col} AS item_a, b.{item_col} AS item_b,
               CAST(COUNT(*) AS BIGINT) AS n_baskets
        FROM kept a JOIN kept b
          ON a.{basket_col} = b.{basket_col} AND a.{item_col} < b.{item_col}
        GROUP BY 1, 2
        HAVING COUNT(*) >= {min_baskets}),
    items AS (SELECT {item_col} AS it, CAST(COUNT(*) AS BIGINT) AS n
              FROM kept GROUP BY 1)
    SELECT item_a, item_b, n_baskets,
           CAST(n_baskets AS DOUBLE)
             / sqrt(CAST(ia.n AS DOUBLE) * CAST(ib.n AS DOUBLE)) AS cosine
    FROM pairs
    JOIN items ia ON pairs.item_a = ia.it
    JOIN items ib ON pairs.item_b = ib.it
    """


def sql_basket_pair_counts(
    table: str,
    basket_col: str,
    item_col: str,
    max_basket_size: int | None = DEFAULT_MAX_BASKET_SIZE,
) -> str:
    """DuckDB oracle: plain distinct self-join (the formulation the Spark
    operator exists to avoid) + the same basket-size cap."""
    cap = (
        f"""
    big AS (SELECT {basket_col} FROM d GROUP BY 1
            HAVING COUNT(*) > {max_basket_size}),
    kept AS (SELECT * FROM d WHERE NOT EXISTS
             (SELECT 1 FROM big WHERE big.{basket_col} = d.{basket_col}))"""
        if max_basket_size is not None
        else "\n    kept AS (SELECT * FROM d)"
    )
    return f"""
    WITH d AS (SELECT DISTINCT {basket_col}, {item_col} FROM {table}
               WHERE {basket_col} IS NOT NULL
                 AND {item_col} IS NOT NULL),{cap}
    SELECT a.{item_col} AS item_a, b.{item_col} AS item_b,
           CAST(COUNT(*) AS BIGINT) AS n_baskets
    FROM kept a JOIN kept b
      ON a.{basket_col} = b.{basket_col} AND a.{item_col} < b.{item_col}
    GROUP BY 1, 2
    """


def transition_pairs(
    df: DataFrame,
    key_col: str,
    type_col: str,
    ts_col: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Consecutive (prev_type, next_type) pairs per key — ONE window
    shuffle on ``key_col`` (lag), nothing else. Exposed separately so the
    single-window contract is plan-pinnable before the materialization in
    :func:`transition_counts` truncates lineage."""
    w = Window.partitionBy(key_col).orderBy(ts_col, *tiebreak)
    return (
        df.select(key_col, ts_col, F.col(type_col).alias("next_type"), *tiebreak)
        .withColumn("prev_type", F.lag("next_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )


def transition_counts(
    df: DataFrame,
    key_col: str,
    type_col: str,
    ts_col: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """First-order Markov transition matrix over per-key event sequences:
    (prev_type, next_type, n_transitions, row_share).

    ``row_share`` is the empirical transition probability — n over the
    per-prev_type total, two exact bigints in one IEEE division (oracle
    bit-parity). One window shuffle on ``key_col``; the matrix is
    |types|² rows, so the totals join is a broadcast of a tiny frame. The
    counts frame feeds two consumers (output rows + per-prev totals) and
    is materialized once (multi-consumer frames get no ReusedExchange;
    lazy localCheckpoint — executes at first action, not construction).
    """
    trans = transition_pairs(df, key_col, type_col, ts_col, tiebreak)
    counts = checkpoint(
        trans.groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    totals = counts.groupBy(F.col("prev_type").alias("_tot_prev")).agg(
        F.sum("n_transitions").alias("_prev_total")
    )
    return (
        counts.join(
            F.broadcast(totals), F.col("prev_type") == F.col("_tot_prev")
        )
        .select(
            "prev_type",
            "next_type",
            "n_transitions",
            (
                F.col("n_transitions").cast("double")
                / F.col("_prev_total").cast("double")
            ).alias("row_share"),
        )
    )


def sql_transition_counts(
    table: str,
    key_col: str,
    type_col: str,
    ts_col: str,
    tiebreak: Sequence[str] = (),
) -> str:
    order = ", ".join([ts_col, *tiebreak])
    return f"""
    WITH seq AS (
        SELECT lag({type_col}) OVER (PARTITION BY {key_col}
                                     ORDER BY {order}) AS prev_type,
               {type_col} AS next_type
        FROM {table}),
    cnt AS (
        SELECT prev_type, next_type,
               CAST(COUNT(*) AS BIGINT) AS n_transitions
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
    SELECT prev_type, next_type, n_transitions,
           CAST(n_transitions AS DOUBLE)
             / CAST(SUM(n_transitions) OVER (PARTITION BY prev_type) AS DOUBLE)
             AS row_share
    FROM cnt
    """


def event_path_ngrams(
    df: DataFrame,
    key_col: str,
    type_col: str,
    ts_col: str,
    n: int = 3,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Length-``n`` consecutive event-type paths per key (the sequence-
    mining step up from :func:`transition_pairs`' bigrams): one row per
    window position with columns e1..en — feed a groupBy().count() for
    path frequencies or a filter for funnel-path matching.

    Scale: ONE window shuffle on ``key_col``; the n-1 lead() calls share
    a single WindowExec frame sort, expansion is map-side and linear in
    rows (each event starts at most one path — no per-key explode of the
    sequence powerset)."""
    if n < 2:
        raise ValueError("event_path_ngrams: n must be >= 2")
    w = Window.partitionBy(key_col).orderBy(ts_col, *tiebreak)
    base = df.select(
        key_col, ts_col, F.col(type_col).alias("e1"), *tiebreak
    )
    for i in range(1, n):
        base = base.withColumn(f"e{i + 1}", F.lead("e1", i).over(w))
    return base.filter(F.col(f"e{n}").isNotNull()).select(
        key_col, *[f"e{i + 1}" for i in range(n)]
    )


def assoc_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket_size: int | None = DEFAULT_MAX_BASKET_SIZE,
    min_support: int = 2,
) -> DataFrame:
    """Association rules over basket co-occurrence (the Apriori readout):
    directed rules a→b with support ``n_ab``, confidence
    ``n_ab / n_a``, and lift ``n_ab·N / (n_a·n_b)``, keeping rules with
    ``n_ab >= min_support`` AND lift > 1 (positively associated pairs
    only). Output: (antecedent, consequent, n_ab, confidence, lift).

    Exactness: the lift FILTER is the integer cross-multiplication
    ``n_ab·N > n_a·n_b`` in DECIMAL(38,0) — a float lift of 1±ε can
    never flip a row; emitted confidence is one IEEE division of exact
    longs and lift one division of two exactly-converted decimal
    products (DuckDB side converts HUGEINT→DOUBLE via VARCHAR).

    Scale: the same single-shuffle pair generation as
    :func:`basket_pair_counts` (baskets materialize ONCE and feed pairs,
    per-item counts, and the 1-row basket total); the |items|-row counts
    and the total broadcast back onto the pair aggregate — the pair
    frame never re-shuffles, and there is never a fact self-join.
    """
    d38 = "decimal(38,0)"
    baskets = checkpoint(
        _gather_baskets(df, basket_col, item_col, max_basket_size)
    )
    pairs = (
        baskets.select(F.explode(pair_combinations(F.col("_items"))).alias("p"))
        .select("p.item_a", "p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_support)
    )
    directed = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "n_ab",
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("antecedent"),
            F.col("item_a").alias("consequent"),
            "n_ab",
        )
    )
    # Materialized once — ia/ib rename-only consumers, same rationale
    # (and r12 plan evidence) as _pair_counts_with_item_sizes.
    items = checkpoint(
        baskets.select(F.explode("_items").alias("_it"))
        .groupBy("_it")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    ia = items.select(F.col("_it").alias("_ant"), F.col("_n").alias("_n_a"))
    ib = items.select(F.col("_it").alias("_con"), F.col("_n").alias("_n_b"))
    tot = baskets.agg(F.count(F.lit(1)).alias("_n_total"))
    joined = (
        directed.join(F.broadcast(ia), F.col("antecedent") == F.col("_ant"))
        .join(F.broadcast(ib), F.col("consequent") == F.col("_con"))
        .crossJoin(F.broadcast(tot))
    )
    num = (F.col("n_ab").cast(d38) * F.col("_n_total").cast(d38)).cast(d38)
    den = (F.col("_n_a").cast(d38) * F.col("_n_b").cast(d38)).cast(d38)
    return joined.filter(num > den).select(
        "antecedent",
        "consequent",
        "n_ab",
        (
            F.col("n_ab").cast("double") / F.col("_n_a").cast("double")
        ).alias("confidence"),
        (num.cast("double") / den.cast("double")).alias("lift"),
    )


def sql_assoc_rules(
    table: str,
    basket_col: str,
    item_col: str,
    max_basket_size: int | None = DEFAULT_MAX_BASKET_SIZE,
    min_support: int = 2,
) -> str:
    """DuckDB twin of :func:`assoc_rules` (distinct self-join pair
    generation + HUGEINT cross-multiplied lift, DOUBLE via VARCHAR)."""
    cap = (
        f"""
    big AS (SELECT {basket_col} FROM d GROUP BY 1
            HAVING COUNT(*) > {max_basket_size}),
    kept AS (SELECT * FROM d WHERE NOT EXISTS
             (SELECT 1 FROM big WHERE big.{basket_col} = d.{basket_col}))"""
        if max_basket_size is not None
        else "\n    kept AS (SELECT * FROM d)"
    )
    return f"""
    WITH d AS (SELECT DISTINCT {basket_col}, {item_col} FROM {table}
               WHERE {basket_col} IS NOT NULL
                 AND {item_col} IS NOT NULL),{cap},
    pairs AS (
        SELECT a.{item_col} AS item_a, b.{item_col} AS item_b,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM kept a JOIN kept b
          ON a.{basket_col} = b.{basket_col} AND a.{item_col} < b.{item_col}
        GROUP BY 1, 2
        HAVING COUNT(*) >= {min_support}),
    directed AS (
        SELECT item_a AS antecedent, item_b AS consequent, n_ab FROM pairs
        UNION ALL
        SELECT item_b, item_a, n_ab FROM pairs),
    items AS (SELECT {item_col} AS it, CAST(COUNT(*) AS BIGINT) AS n
              FROM kept GROUP BY 1),
    tot AS (SELECT CAST(COUNT(DISTINCT {basket_col}) AS BIGINT) AS n_total
            FROM kept)
    SELECT antecedent, consequent, n_ab,
           CAST(n_ab AS DOUBLE) / CAST(ia.n AS DOUBLE) AS confidence,
           CAST(CAST(CAST(n_ab AS HUGEINT) * n_total AS VARCHAR) AS DOUBLE)
             / CAST(CAST(CAST(ia.n AS HUGEINT) * ib.n AS VARCHAR) AS DOUBLE)
             AS lift
    FROM directed
    JOIN items ia ON directed.antecedent = ia.it
    JOIN items ib ON directed.consequent = ib.it
    CROSS JOIN tot
    WHERE CAST(n_ab AS HUGEINT) * n_total > CAST(ia.n AS HUGEINT) * ib.n
    """


def basket_pair_jaccard(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket_size: int | None = None,
) -> DataFrame:
    """Item-item Jaccard overlap over basket membership (audience
    overlap, reach planning): for every item pair (a < b), co-membership
    ``n_both``, sizes ``n_a``/``n_b``, and
    ``jaccard = n_both / (n_a + n_b − n_both)`` — one division of exact
    bigints.

    The basket frame gathers ONCE and feeds both the pair expansion and
    the per-item sizes, so the cap (when set) applies to BOTH
    consistently — a cap applied to pairs but not sizes would break the
    Jaccard identity (and oracle parity). Default ``None``: item spaces
    small enough for overlap matrices (segments, categories) don't need
    the degenerate-basket guard.
    """
    return _pair_counts_with_item_sizes(
        df, basket_col, item_col, max_basket_size
    ).select(
        "item_a",
        "item_b",
        F.col("n_baskets").alias("n_both"),
        F.col("_n_a").alias("n_a"),
        F.col("_n_b").alias("n_b"),
        (
            F.col("n_baskets").cast("double")
            / (
                F.col("_n_a") + F.col("_n_b") - F.col("n_baskets")
            ).cast("double")
        ).alias("jaccard"),
    )


def substitute_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    top_m: int = 50,
    max_basket_size: int | None = DEFAULT_MAX_BASKET_SIZE,
) -> DataFrame:
    """Substitute detection — the mirror of :func:`assoc_rules`: pairs of
    FREQUENT items that co-occur LESS than independence predicts
    (lift < 1), including pairs that never co-occur at all. Frequent
    items that never share a basket are the strongest substitution
    signal, so the candidate space cannot come from observed pairs (a
    zero-co-occurrence pair never materializes there); instead it is the
    full unordered cross of the ``top_m`` most frequent items — a
    LITERAL bound (top_m² candidates), the same
    deterministic-degeneracy-cap contract as the LSH/basket caps.

    Output: (item_a, item_b, n_a, n_b, n_ab, lift) for candidate pairs
    with lift < 1, where the filter is the integer cross-multiplication
    ``n_ab·N < n_a·n_b`` in decimal (a float lift of 1±ε can never flip
    a row) and emitted lift is one division of two exactly-converted
    decimals.

    Scale: one basket gather (materialized once — feeds item counts AND
    the pair recount), a top-m selection (TakeOrdered, tie-broken by
    item id), pair generation restricted to top items BEFORE the
    explode (per-basket fan-out ≤ C(top_m, 2)), and a broadcast of the
    m-row frames everywhere — the fact never self-joins.
    """
    d38 = "decimal(38,0)"
    baskets = checkpoint(
        _gather_baskets(df, basket_col, item_col, max_basket_size)
    )
    items = baskets.select(
        F.explode("_items").alias("it")
    ).groupBy("it").agg(F.count(F.lit(1)).alias("n"))
    top = checkpoint(
        items.orderBy(F.desc("n"), F.asc("it"))
        .limit(top_m)
    )
    a = top.select(F.col("it").alias("item_a"), F.col("n").alias("n_a"))
    b = top.select(F.col("it").alias("item_b"), F.col("n").alias("n_b"))
    cand = a.crossJoin(F.broadcast(b)).filter(
        F.col("item_a") < F.col("item_b")
    )
    kept_items = (
        baskets.select(basket_col, F.explode("_items").alias("it"))
        .join(F.broadcast(top.select("it")), "it")
        .groupBy(basket_col)
        .agg(F.sort_array(F.collect_set("it")).alias("_items"))
    )
    obs = (
        kept_items.select(
            F.explode(pair_combinations(F.col("_items"))).alias("p")
        )
        .select("p.item_a", "p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    tot = baskets.agg(F.count(F.lit(1)).alias("n_total"))
    j = (
        cand.join(F.broadcast(obs), ["item_a", "item_b"], "left")
        .withColumn("n_ab", F.coalesce(F.col("n_ab"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    obs_x = (F.col("n_ab").cast(d38) * F.col("n_total")).cast(d38)
    exp_x = (F.col("n_a").cast(d38) * F.col("n_b")).cast(d38)
    return j.filter(obs_x < exp_x).select(
        "item_a",
        "item_b",
        "n_a",
        "n_b",
        "n_ab",
        (obs_x.cast("double") / exp_x.cast("double")).alias("lift"),
    )


def sql_substitute_pairs(
    table: str,
    basket_col: str,
    item_col: str,
    top_m: int = 50,
    max_basket_size: int | None = DEFAULT_MAX_BASKET_SIZE,
) -> str:
    """DuckDB twin of :func:`substitute_pairs` (top-m cross candidate
    space, HUGEINT cross-multiplied lift filter, DOUBLE via VARCHAR)."""
    cap = (
        f"""
    big AS (SELECT {basket_col} FROM d GROUP BY 1
            HAVING COUNT(*) > {max_basket_size}),
    kept AS (SELECT * FROM d WHERE NOT EXISTS
             (SELECT 1 FROM big WHERE big.{basket_col} = d.{basket_col}))"""
        if max_basket_size is not None
        else "\n    kept AS (SELECT * FROM d)"
    )
    return f"""
    WITH d AS (SELECT DISTINCT {basket_col}, {item_col} FROM {table}
               WHERE {basket_col} IS NOT NULL
                 AND {item_col} IS NOT NULL),{cap},
    items AS (SELECT {item_col} AS it, CAST(COUNT(*) AS BIGINT) AS n
              FROM kept GROUP BY 1),
    top AS (SELECT it, n FROM items ORDER BY n DESC, it LIMIT {top_m}),
    cand AS (SELECT a.it AS item_a, a.n AS n_a, b.it AS item_b, b.n AS n_b
             FROM top a JOIN top b ON a.it < b.it),
    k2 AS (SELECT kept.{basket_col} AS bk, kept.{item_col} AS it
           FROM kept JOIN top ON top.it = kept.{item_col}),
    obs AS (SELECT x.it AS item_a, y.it AS item_b,
                   CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM k2 x JOIN k2 y ON x.bk = y.bk AND x.it < y.it
            GROUP BY 1, 2),
    tot AS (SELECT CAST(COUNT(DISTINCT {basket_col}) AS BIGINT) AS n_total
            FROM kept)
    SELECT item_a, item_b, n_a, n_b,
           COALESCE(n_ab, 0) AS n_ab,
           CAST(CAST(CAST(COALESCE(n_ab, 0) AS HUGEINT) * n_total
                     AS VARCHAR) AS DOUBLE)
             / CAST(CAST(CAST(n_a AS HUGEINT) * n_b AS VARCHAR) AS DOUBLE)
             AS lift
    FROM cand LEFT JOIN obs USING (item_a, item_b) CROSS JOIN tot
    WHERE CAST(COALESCE(n_ab, 0) AS HUGEINT) * n_total
          < CAST(n_a AS HUGEINT) * n_b
    """
