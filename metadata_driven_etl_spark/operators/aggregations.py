"""Aggregation operators (reference: gold models + DQ counts).

Reference evidence: gold_config.yaml:8-19 (daily sales summary),
:29-40 (customer summary), :49-61 (product performance with computed
aggregates); dq_engine.py multi-count patterns (replaced by single-pass
conditional aggregation, SURVEY.md §4.3).

All money aggregates go through the exact-decimal-sum helpers in
``functions`` so results are order-independent (oracle-parity) — partial
(map-side) aggregation still applies, so this costs nothing at scale.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metadata_driven_etl_spark.functions import davg, dsum, isum


def group_agg(
    df: DataFrame, keys: Sequence[str], aggs: Mapping[str, Column]
) -> DataFrame:
    """Multi-key group-by with named aggregates (gold model shape A1-A3)."""
    return df.groupBy(*keys).agg(*[c.alias(n) for n, c in aggs.items()])


def daily_sales_summary(
    fact: DataFrame,
    date_col: str,
    category_col: str,
    id_col: str,
    amount_col: str,
    quantity_col: str,
) -> DataFrame:
    """The reference's flagship gold model (gold_config.yaml:8-19):
    GROUP BY date, category → COUNT(id), SUM(amount), AVG(amount), SUM(qty).
    """
    return group_agg(
        fact,
        [date_col, category_col],
        {
            "transaction_count": F.count(F.col(id_col)),
            "total_amount": dsum(amount_col),
            "avg_amount": davg(amount_col),
            "total_quantity": isum(quantity_col),
        },
    )


def distinct_keys(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Distinct key projection (reference dq_engine.py:163)."""
    return df.select(*cols).distinct()
