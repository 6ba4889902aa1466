"""Cross-engine-deterministic numeric helpers.

Motivation (learned the hard way, and load-bearing for the driver's
value-hash gate): Spark and DuckDB disagree on ``round(x, n)`` at
``.5`` boundaries (Spark HALF_UPs the shortest decimal string; DuckDB
rounds the binary-scaled double), and float SUM/AVG results depend on
accumulation order, which differs between engines.  Two rules make
results bit-identical on both sides:

1. **Aggregate exactly, convert once.**  Money (2-decimal) columns are
   cast to DECIMAL before SUM — decimal accumulation is exact and
   order-independent — and the final decimal is cast to DOUBLE (IEEE
   correctly-rounded, so identical on both engines).  Averages divide
   that exact double by the count instead of using AVG.
2. **Round with floor arithmetic.**  ``dround`` computes
   ``floor(x*10^n + 0.5)/10^n`` — every step is deterministic IEEE
   double math, so identical inputs give identical outputs on any
   engine (unlike native round()).

The SQL twins of these helpers are in ``sql_snippets``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# decimal(12,2) holds any 2-dp money < 10^10; products with (4,2) rates
# stay exact within decimal(38) on both Spark and DuckDB.
MONEY_T = "decimal(12,2)"
RATE_T = "decimal(4,2)"


def money(c: str | Column) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast(MONEY_T)


def rate(c: str | Column) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast(RATE_T)


def one_minus(c: str | Column) -> Column:
    """(1 - rate) as an exact DECIMAL(4,2).  The subtraction happens in
    double (error ≪ decimal quantum for 2-dp rates) and the cast
    snaps to the exact 2-dp value — identically on both engines."""
    c = F.col(c) if isinstance(c, str) else c
    return (F.lit(1) - c).cast(RATE_T)


def one_plus(c: str | Column) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return (F.lit(1) + c).cast(RATE_T)


def sum_money(c: str | Column) -> Column:
    """Exact decimal sum, emitted as double (order-independent)."""
    return F.sum(money(c)).cast("double")


def avg_money(c: str | Column) -> Column:
    """Order-independent average of a 2-dp money column: exact decimal
    sum cast to double, divided by count (identical division on both
    engines, unlike native AVG's incremental accumulation)."""
    return F.sum(money(c)).cast("double") / F.count(F.lit(1))


def dround(c: Column, n: int) -> Column:
    """Deterministic fixed-point rounding: floor(x*10^n + 0.5)/10^n."""
    scale = float(10**n)
    return F.floor(c * F.lit(scale) + F.lit(0.5)) / F.lit(scale)


class sql_snippets:
    """DuckDB twins — keep in lockstep with the helpers above."""

    @staticmethod
    def sum_money(col: str) -> str:
        return f"CAST(sum(CAST({col} AS DECIMAL(12,2))) AS DOUBLE)"

    @staticmethod
    def avg_money(col: str) -> str:
        return f"CAST(sum(CAST({col} AS DECIMAL(12,2))) AS DOUBLE) / count(*)"

    @staticmethod
    def dround(expr: str, n: int) -> str:
        scale = float(10**n)
        return f"floor(({expr}) * {scale} + 0.5) / {scale}"
