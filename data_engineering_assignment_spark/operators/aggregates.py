"""Aggregation helpers with oracle-exact floating-point semantics.

The reference aggregates doubles directly (e.g. ``F.sum("na_sales")``,
Assignment-python.py:64,75-76). A double sum's value depends on accumulation
order, which differs between engines and between partitionings of the same
data — unacceptable both for the DuckDB-oracle gate and for reproducible
results on a real cluster (same query, different partition count ⇒ different
last-ulp answer). We therefore sum through a fixed-point decimal: Spark and
DuckDB both compute the *exact* same decimal sum regardless of partitioning,
then we round and return a double.

This is also the right call at 100 TB: decimal partial aggregation is still
map-side combinable and whole-stage-codegen'd; the cost over double sums is
small and buys run-to-run determinism.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 6 fractional digits captures the test data's value precision; 21 integer
# digits leaves ~1e21 of headroom for 100 TB-scale sums (sum of decimal(27,6)
# widens to decimal(37,6) in Spark before overflow-checking).
DEC = "decimal(27,6)"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dround(col: Column, scale: int = 4) -> Column:
    """Midpoint-safe double rounding via a decimal detour.

    DuckDB's ROUND(double, s) computes ``round(x*10^s)/10^s`` whose double
    multiply can cross a .5 boundary; Spark rounds the exact binary value —
    near .xxxx5 midpoints (common for ratios/products of already-rounded
    decimals) the two disagree. Both engines agree on decimal rounding, so
    cast→decimal(27,8)→round yields identical results (pair with
    :func:`o_dround` in oracle SQL).
    """
    return F.round(col.cast("decimal(27,8)"), scale).cast("double")


def o_dround(expr: str, scale: int = 4) -> str:
    return f"ROUND(CAST({expr} AS DECIMAL(27,8)), {scale})::DOUBLE"


def dsum(col: Column | str, alias: str, scale: int = 2) -> Column:
    """Order-independent double sum: cast→decimal, exact sum, round, double."""
    return F.round(F.sum(_col(col).cast(DEC)), scale).cast("double").alias(alias)


def davg(col: Column | str, alias: str, scale: int = 6) -> Column:
    """Deterministic average: exact decimal sum → double, divided by count,
    midpoint-safe rounded (sum/count of rounded values hits .5 midpoints)."""
    total = F.sum(_col(col).cast(DEC)).cast("double")
    return dround(total / F.count(F.lit(1)), scale).alias(alias)


def cond_sum(cond: Column, alias: str) -> Column:
    """``SUM(CASE WHEN cond THEN 1 ELSE 0)`` — the reference's conditional
    count idiom (goal attribution, Assignment-python.py:174-177; win/draw/loss
    sums, :257-265)."""
    return F.sum(F.when(cond, 1).otherwise(0)).alias(alias)


# ---------------------------------------------------------------------------
# Oracle-SQL (DuckDB) twins — same arithmetic, same rounding, same names.
# ---------------------------------------------------------------------------

def o_dsum(expr: str, alias: str) -> str:
    return f"ROUND(SUM(CAST({expr} AS DECIMAL(27,6))), 2)::DOUBLE AS {alias}"


def o_davg(expr: str, alias: str, scale: int = 6) -> str:
    inner = f"SUM(CAST({expr} AS DECIMAL(27,6)))::DOUBLE / COUNT(*)"
    return f"{o_dround(inner, scale)} AS {alias}"
