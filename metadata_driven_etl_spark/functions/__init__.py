"""Scalar/aggregate expression helpers shared by operators and workloads.

Oracle-parity note (why the decimal dance exists): the driver compares every
``queries()`` result against DuckDB via an order-insensitive value hash.
Floating-point SUM/AVG are order-dependent, and Spark and DuckDB will sum
partitions in different orders — so a plain ``SUM(double)`` can differ in the
last ulp and fail the hash. The fix used throughout this engine: cast each
addend to an exact DECIMAL, sum exactly (order-independent), then cast the
final result back to DOUBLE. Both engines round the same double to the same
decimal and cast the same decimal to the same double, so results are
bit-identical. ``sql_*`` twins emit the equivalent ANSI SQL for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 25 integer digits / 10 fractional digits holds any sum we can hit at 100 TB
# of 2-dp money values without overflow (Spark widens sum(decimal(25,10)) to
# decimal(35,10); DuckDB to decimal(38,10) — both exact).
_PREC, _SCALE = 25, 10


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dsum(col: Column | str) -> Column:
    """Order-independent SUM over doubles: exact decimal sum → double."""
    return F.sum(_c(col).cast(f"decimal({_PREC},{_SCALE})")).cast("double")


def sql_dsum(expr: str) -> str:
    # The VARCHAR hop matters: DuckDB's direct DECIMAL→DOUBLE cast is
    # double-rounded (int128→double, then /10^scale) and can be off by one
    # ulp vs Spark's correctly-rounded BigDecimal→double. The string parse
    # is correctly rounded in both engines.
    return (
        f"CAST(CAST(SUM(CAST({expr} AS DECIMAL({_PREC},{_SCALE}))) AS VARCHAR) "
        "AS DOUBLE)"
    )


def davg(col: Column | str) -> Column:
    """Order-independent AVG: exact decimal sum cast to double, / count.

    The final division is double IEEE division of identical operands in both
    engines, hence identical.
    """
    c = _c(col)
    return dsum(c) / F.count(c)


def sql_davg(expr: str) -> str:
    return f"{sql_dsum(expr)} / COUNT({expr})"


def isum(col: Column | str) -> Column:
    """SUM for INTEGER-VALUED double columns: plain double summation.

    Every partial sum of integer-valued doubles below 2^53 is exact integer
    arithmetic — order-independent without the decimal cast, so it's both
    faster than dsum and still bit-identical across engines. Caller asserts
    integrality of the domain (e.g. quantities); totals stay exact up to
    9e15.
    """
    return F.sum(_c(col))


def sql_isum(expr: str) -> str:
    return f"SUM({expr})"
