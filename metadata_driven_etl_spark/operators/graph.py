"""Iterative graph analytics: fixed-point PageRank over an edge list.

The reference has no graph surface at all (SURVEY.md §2: relational
operators only); connected components (dedup.connected_components) was the
engine's first iterative-graph operator — this module adds the ranking
one. Both follow the same discipline: edge-list DataFrames, a bounded
number of join+aggregate rounds, lineage truncated per round so plans stay
shallow, and NO driver-side node loops.

Why fixed-point INTEGER arithmetic: PageRank's textbook form accumulates
floating-point contributions, and a parallel sum of doubles is
order-dependent — the one thing a hash-checked oracle cannot tolerate.
Scaling ranks to integers (rank ≈ probability × ``scale``) makes every
round's math exact: integer floor-division for the per-edge contribution,
exact bigint sums, integer damping via (num·s) div den. Spark and DuckDB
then agree bit-for-bit after ANY number of rounds — the oracle is the same
recurrence unrolled as chained CTEs. The cost is bounded quantization
error (≤ deg per node per round, i.e. ~1e-12 of the mass at the default
scale), which is noise for every ranking use of PageRank.

Scale design (100 TB):
- Per round: ONE shuffle join (ranks ⋈ edges on src — both sides hash-
  partitioned on the same key, so consecutive rounds reuse the edge side's
  partitioning) + one partial-aggregated sum on dst. No |V|×|V| anything.
- The edge list (with out-degrees pre-joined) is materialized ONCE and
  reused every round; rank frames are materialized per round to truncate
  lineage (localCheckpoint locally, durable ``checkpoint_dir`` on a
  cluster — the connected_components seam).
- Overflow headroom: each node's new rank is ≤ base + num·(in-mass)/den
  where total mass stays ≈ |V|·scale; keep num·max_in_mass < 2^63 — at
  the default scale=1e12 that allows in-neighborhood mass up to ~1e17,
  i.e. ~1e5 full-rank in-neighbors on one node; lower ``scale`` for
  denser hubs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metadata_driven_etl_spark.io.writer import checkpoint
from metadata_driven_etl_spark.operators.dedup import (
    _iteration_regime,
    _materialize,
)

DEFAULT_SCALE = 10**12


def pagerank_fixed_point(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = DEFAULT_SCALE,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """PageRank over a DIRECTED edge list, ``iterations`` rounds of the
    damped recurrence in exact fixed-point integer arithmetic:

        r'(v) = floor((den-num)·scale / den)
                + floor(num · Σ_{u→v} floor(r(u) / outdeg(u)) / den)

    Nodes are edge-induced: the ranked universe is every id appearing as
    a src OR dst, and EVERY round ranks the whole universe (a node with
    no in-edges holds the teleport base and keeps contributing through
    its out-edges — directed inputs are first-class, not just the
    symmetrized case). Dangling nodes (in-edges only) are ranked but
    re-emit nothing, so their damped mass leaks — the standard
    simplification; symmetrize for undirected graphs and the leak is
    zero by construction. Output: (node, rank) with rank ≈ stationary
    probability × ``scale``.

    Deterministic and engine-exact: see module docstring. The recurrence
    starts from r0 = scale for every node (uniform, un-normalized — the
    standard power-iteration start; ranks converge to the same ORDER as
    the normalized form, scaled by |V|).
    """
    if iterations < 1:
        raise ValueError("pagerank_fixed_point: iterations must be >= 1")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    deg = e.groupBy(F.col("src").alias("_deg_src")).agg(
        F.count(F.lit(1)).alias("_outdeg")
    )
    # Degrees ride along on every edge row so each round joins ONE frame.
    e_deg = _materialize(
        e.join(deg, F.col("src") == F.col("_deg_src")).select(
            "src", "dst", "_outdeg"
        ),
        checkpoint_dir,
    )
    base = ((damping_den - damping_num) * scale) // damping_den
    # Gate the small-graph regime (dedup._iteration_regime) on the edge
    # count; the count also eagerly pays the e_deg materialization the
    # first round would pay. Lazy localCheckpoint compiles each round's
    # physical plan at CALL time, so plans built inside the regime bake
    # the small partitioning in even though execution happens at the
    # caller's action.
    n_edges = e_deg.count()
    with _iteration_regime(e_deg.sparkSession, n_edges) as small_parts:
        if small_parts is not None:
            e_deg = e_deg.coalesce(small_parts)
        nodes = _materialize(
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct(),
            checkpoint_dir,
        )
        ranks = nodes.select(
            "node", F.lit(scale).cast("long").alias("rank")
        )
        for _ in range(iterations):
            # Small regime: ranks/contrib (≤ |nodes| ≤ 2·|edges| rows)
            # ride as broadcasts — zero Exchange per round. Large regime:
            # the shuffling posture, unchanged.
            ranks_j = (
                F.broadcast(ranks) if small_parts is not None else ranks
            )
            contrib = (
                e_deg.join(ranks_j, F.col("src") == F.col("node"))
                .groupBy(F.col("dst").alias("_cnode"))
                .agg(F.sum(F.expr("rank div _outdeg")).alias("_in_mass"))
            )
            contrib_j = (
                F.broadcast(contrib) if small_parts is not None
                else contrib
            )
            # LEFT join from the full universe: a node with no in-mass
            # this round still holds the teleport base (directed-graph
            # contract).
            ranks = _materialize(
                nodes.join(
                    contrib_j, F.col("node") == F.col("_cnode"), "left"
                )
                .select(
                    "node",
                    (
                        F.lit(base).cast("long")
                        + F.expr(
                            f"({damping_num} * coalesce(_in_mass, 0L))"
                            f" div {damping_den}"
                        )
                    ).alias("rank"),
                ),
                checkpoint_dir,
            )
    return ranks


def sql_pagerank_fixed_point(
    edges_cte_body: str,
    iterations: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = DEFAULT_SCALE,
) -> str:
    """DuckDB oracle twin: the same integer recurrence unrolled as chained
    CTEs. ``edges_cte_body`` is a SELECT yielding (src, dst) — it becomes
    the ``e`` CTE. DuckDB sums BIGINT into HUGEINT, so every round casts
    back to BIGINT after the damping division (values fit by the operator's
    overflow contract)."""
    base = ((damping_den - damping_num) * scale) // damping_den
    parts = [
        f"WITH e AS ({edges_cte_body})",
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg"
        " FROM e GROUP BY 1)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        f"r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst AS node, "
            "CAST(SUM(r.rank // d.outdeg) AS BIGINT) AS in_mass "
            f"FROM e JOIN r{i - 1} r ON e.src = r.node "
            "JOIN deg d ON e.src = d.src GROUP BY 1)"
        )
        parts.append(
            f"r{i} AS (SELECT nodes.node, CAST({base} + "
            f"({damping_num} * COALESCE(in_mass, 0)) // {damping_den}"
            " AS BIGINT) AS rank "
            f"FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node)"
        )
    return (
        ",\n    ".join(parts)
        + f"\n    SELECT node, rank FROM r{iterations}"
    )


# =========================================================================
# Triangle counting (degree-oriented wedge join)
# =========================================================================


def _canonical_undirected(
    edges: DataFrame, src_col: str, dst_col: str
) -> DataFrame:
    """(u, v) with u = least endpoint, v = greatest, self-loops dropped,
    duplicates (including reverse duplicates) collapsed."""
    e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
    return (
        e.where(F.col("_s") != F.col("_d"))
        .select(
            F.least("_s", "_d").alias("u"), F.greatest("_s", "_d").alias("v")
        )
        .distinct()
    )


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED graph — the local
    clustering-structure primitive (community cores, spam/bot subgraph
    detection) the relational reference has no answer to. Input edges may
    be directed/duplicated; they canonicalize first. Output: (node,
    n_triangles) for every node in ≥1 triangle. Exact bigint counts.

    Scale design (100 TB): the naive 3-way self-join explodes on hubs
    (a deg-d node contributes d² wedges). Degree orientation is the
    classic fix (e.g. Suri & Vassilvitskii's MapReduce formulation):
    orient every edge from its (degree, id)-smaller endpoint to the
    larger, making every out-neighborhood O(√|E|); wedges then expand
    only at each triangle's MINIMAL vertex, and each triangle is counted
    exactly once, closed by an equi-join back to the oriented edge list.
    Both the wedge join and the closing join are equi-joins (no
    cartesian/BNL; plan-pinned in tests), and the per-node expansion at
    the end is a map-side explode of the (much smaller) triangle frame.
    Determinism: (degree, id) is a strict total order — no ties, so the
    orientation (and therefore every intermediate frame) is unique.

    Materialization: ``canon`` feeds the degree count AND the orientation
    join, and ``oriented`` feeds three join sides — both localCheckpoint,
    so the (possibly expensive) upstream edge derivation executes ONCE,
    not 2+3 times (the repo's multi-consumer discipline; measured 5.6s →
    ~2s on the copurchase workload at sf0.1).
    """
    canon = checkpoint(_canonical_undirected(edges, src_col, dst_col))
    deg = (
        canon.select(F.col("u").alias("node"))
        .union(canon.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = (
        canon.join(deg.withColumnsRenamed({"node": "_nu", "d": "du"}),
                   F.col("u") == F.col("_nu"))
        .join(deg.withColumnsRenamed({"node": "_nv", "d": "dv"}),
              F.col("v") == F.col("_nv"))
    )
    lower_first = F.struct("du", "u") < F.struct("dv", "v")
    oriented = checkpoint(ed.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    ))
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.a") == F.col("o2.a"))
        & (
            F.struct(F.col("o1.db"), F.col("o1.b"))
            < F.struct(F.col("o2.db"), F.col("o2.b"))
        ),
    ).select(
        F.col("o1.a").alias("t1"),
        F.col("o1.b").alias("t2"),
        F.col("o2.b").alias("t3"),
    )
    # close the wedge: (t2, t3) ordered by the same total order, so the
    # oriented closing edge (if the triangle exists) is exactly t2 -> t3
    tri = wedges.join(
        oriented.select(F.col("a").alias("t2"), F.col("b").alias("t3")),
        on=["t2", "t3"],
        how="inner",
    )
    return (
        tri.select(
            F.explode(F.array("t1", "t2", "t3")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def sql_triangle_counts(edges_cte_body: str) -> str:
    """DuckDB oracle twin of :func:`triangle_counts`: identical degree
    orientation ((d, id) row-value comparison) and wedge-close joins."""
    return f"""
    WITH e0 AS ({edges_cte_body}),
    canon AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
              FROM e0 WHERE src <> dst),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM
            (SELECT u AS node FROM canon UNION ALL SELECT v FROM canon)
            GROUP BY 1),
    o AS (SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS a,
                 CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS b,
                 CASE WHEN (du.d, u) < (dv.d, v) THEN dv.d ELSE du.d END AS db
          FROM canon
          JOIN deg du ON du.node = canon.u
          JOIN deg dv ON dv.node = canon.v),
    tri AS (SELECT o1.a AS t1, o1.b AS t2, o2.b AS t3
            FROM o o1
            JOIN o o2 ON o1.a = o2.a AND (o1.db, o1.b) < (o2.db, o2.b)
            JOIN o o3 ON o3.a = o1.b AND o3.b = o2.b),
    tn AS (SELECT t1 AS node FROM tri UNION ALL SELECT t2 FROM tri
           UNION ALL SELECT t3 FROM tri)
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM tn GROUP BY 1
    """


# =========================================================================
# Link prediction: resource-allocation index (fixed-point exact)
# =========================================================================

RA_SCALE = 10**12
DEFAULT_RA_MAX_DEGREE = 256


def resource_allocation_topk(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    top_k: int = 100,
    max_degree: int = DEFAULT_RA_MAX_DEGREE,
    scale: int = RA_SCALE,
) -> DataFrame:
    """Top-k link prediction by the Resource Allocation index (Zhou,
    Lü & Zhang 2009): for each NON-edge (x, y), score = Σ over common
    neighbors z of 1/deg(z) — like Adamic-Adar but with 1/d instead of
    1/ln d, which makes it EXACTLY computable in fixed-point integers
    (floor(scale/deg), bigint sums) — the same engine-exact discipline
    as pagerank_fixed_point, where Adamic-Adar's float logs would make
    the parallel sum order-dependent and un-oracle-able.

    Output: (item_x, item_y, ra_score_fp, n_common), the top_k non-
    adjacent pairs by (score desc, x, y) — deterministic tie-break.

    Scale design (100 TB): candidate pairs generate ONLY through shared
    neighbors (equi-join of the adjacency list with itself on z — never
    an all-pairs product), and the hub cap is the scale contract: the
    wedge fan-out is Σ_z deg(z)², so intermediaries with deg >
    ``max_degree`` are dropped BEFORE the join (their per-neighbor
    weight scale/deg is the smallest signal in the graph — the standard
    justification, and the same cap-the-blowup posture as the LSH bucket
    and basket caps). Existing edges leave via broadcast-able anti-join;
    top-k is one TakeOrderedAndProject. Overflow: each weight ≤ scale,
    so a pair needs > 2^63/scale ≈ 9e6 common neighbors to overflow —
    lower ``scale`` for denser graphs.
    """
    canon = checkpoint(_canonical_undirected(edges, src_col, dst_col))
    adj = canon.select(
        F.col("u").alias("z"), F.col("v").alias("nbr")
    ).union(canon.select(F.col("v").alias("z"), F.col("u").alias("nbr")))
    w = (
        adj.groupBy("z")
        .agg(F.count(F.lit(1)).alias("d"))
        .where(F.col("d") <= max_degree)
        .select("z", F.expr(f"{scale} div d").alias("w"))
    )
    adjw = checkpoint(adj.join(w, on="z"))
    l, r = adjw.alias("l"), adjw.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.z") == F.col("r.z"))
            & (F.col("l.nbr") < F.col("r.nbr")),
        )
        .groupBy(
            F.col("l.nbr").alias("item_x"), F.col("r.nbr").alias("item_y")
        )
        .agg(
            F.sum(F.col("l.w")).alias("ra_score_fp"),
            F.count(F.lit(1)).alias("n_common"),
        )
    )
    cand = pairs.join(
        canon.select(F.col("u").alias("item_x"), F.col("v").alias("item_y")),
        on=["item_x", "item_y"],
        how="left_anti",
    )
    return cand.orderBy(
        F.col("ra_score_fp").desc(), "item_x", "item_y"
    ).limit(top_k)


def sql_resource_allocation_topk(
    edges_cte_body: str,
    top_k: int = 100,
    max_degree: int = DEFAULT_RA_MAX_DEGREE,
    scale: int = RA_SCALE,
) -> str:
    """DuckDB oracle twin of :func:`resource_allocation_topk`."""
    return f"""
    WITH e0 AS ({edges_cte_body}),
    canon AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
              FROM e0 WHERE src <> dst),
    adj AS (SELECT u AS z, v AS nbr FROM canon
            UNION ALL SELECT v AS z, u AS nbr FROM canon),
    w AS (SELECT z, CAST({scale} AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS w
          FROM adj GROUP BY z HAVING COUNT(*) <= {max_degree}),
    pairs AS (SELECT l.nbr AS item_x, r.nbr AS item_y,
                     CAST(SUM(lw.w) AS BIGINT) AS ra_score_fp,
                     CAST(COUNT(*) AS BIGINT) AS n_common
              FROM adj l
              JOIN w lw ON lw.z = l.z
              JOIN adj r ON l.z = r.z AND l.nbr < r.nbr
              GROUP BY 1, 2),
    cand AS (SELECT * FROM pairs WHERE NOT EXISTS
             (SELECT 1 FROM canon
              WHERE canon.u = pairs.item_x AND canon.v = pairs.item_y))
    SELECT item_x, item_y, ra_score_fp, n_common FROM cand
    ORDER BY ra_score_fp DESC, item_x, item_y LIMIT {top_k}
    """


# =========================================================================
# k-core peeling (bounded-round, exact)
# =========================================================================


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Bounded-round k-core peeling over an UNDIRECTED graph: repeatedly
    delete every node whose current degree is < k (with its edges);
    after ``rounds`` rounds return the surviving (node, core_deg). With
    enough rounds this converges to the k-core — the standard dense-
    community / spam-ring / influential-subgraph extractor; a bounded
    round count keeps the operator deterministic AND oracle-able (the
    DuckDB twin unrolls the same peeling as chained CTEs — the
    pagerank/CC discipline applied to a subgraph-shrinking recursion).

    Scale (100 TB): per round ONE degree aggregation over the live edge
    list + two semi-joins filtering both endpoints — all equi-keyed, and
    the edge frame only ever SHRINKS. Lineage is truncated per round
    (localCheckpoint / durable checkpoint_dir), and below the small-graph
    threshold the survivor set broadcasts, making each round
    Exchange-free (the _iteration_regime seam shared with CC/PageRank).
    """
    if k < 1 or rounds < 1:
        raise ValueError("kcore_peel: k and rounds must be >= 1")
    canon = _canonical_undirected(edges, src_col, dst_col)
    adj = _materialize(
        canon.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
            canon.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        ),
        checkpoint_dir,
    )
    n_edges = adj.count()
    with _iteration_regime(adj.sparkSession, n_edges) as small_parts:
        if small_parts is not None:
            adj = adj.coalesce(small_parts)
        for _ in range(rounds):
            survivors = (
                adj.groupBy(F.col("src").alias("node"))
                .agg(F.count(F.lit(1)).alias("_d"))
                .filter(F.col("_d") >= k)
                .select("node")
            )
            s = (
                F.broadcast(survivors)
                if small_parts is not None
                else survivors
            )
            adj = _materialize(
                adj.join(
                    s.withColumnRenamed("node", "src"), on="src", how="semi"
                ).join(
                    s.withColumnRenamed("node", "dst"), on="dst", how="semi"
                ).select("src", "dst"),
                checkpoint_dir,
            )
    return adj.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("core_deg")
    )


def sql_kcore_peel(
    edges_cte_body: str, k: int, rounds: int = 3
) -> str:
    """DuckDB oracle twin of :func:`kcore_peel` — the peeling unrolled."""
    parts = [
        f"WITH e0 AS ({edges_cte_body})",
        "canon AS (SELECT DISTINCT LEAST(src, dst) AS u,"
        " GREATEST(src, dst) AS v FROM e0 WHERE src <> dst)",
        "a0 AS (SELECT u AS src, v AS dst FROM canon"
        " UNION ALL SELECT v AS src, u AS dst FROM canon)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"k{i} AS (SELECT src AS node FROM a{i - 1} GROUP BY 1"
            f" HAVING COUNT(*) >= {k})"
        )
        parts.append(
            f"a{i} AS (SELECT a.src, a.dst FROM a{i - 1} a"
            f" JOIN k{i} s ON a.src = s.node"
            f" JOIN k{i} t ON a.dst = t.node)"
        )
    return (
        ",\n    ".join(parts)
        + f"\n    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg"
        f" FROM a{rounds} GROUP BY 1"
    )
