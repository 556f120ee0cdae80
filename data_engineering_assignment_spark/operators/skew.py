"""Skew-mitigation operators.

AQE's skew-join splitting (enabled in ``session.RUNTIME_CONF``) handles most
skew at runtime; this module covers the case AQE cannot: aggregations whose
single hot group overwhelms one reducer.

``two_phase_agg`` pre-aggregates on (key, salt), then combines — the classic
partial-aggregation rescue for hot group keys when the aggregate itself is
algebraic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def scatter_salt(df: DataFrame, salt: int) -> Column:
    """Salt expression that scatters even IDENTICAL duplicate rows.

    A content-only hash (xxhash64 of all columns) sends literal duplicate
    rows — the worst skew case — to one salt value, defeating the salting.
    Mixing in ``monotonically_increasing_id`` gives every physical row its
    own salt draw. The id is partitioning-dependent, but aggregate results
    are salt-value-independent (algebraic partials combine the same under any
    split), so this stays deterministic where it matters.
    """
    return F.pmod(
        F.xxhash64(F.monotonically_increasing_id(), *df.columns), F.lit(salt)
    ).cast("int")


def two_phase_agg(
    df: DataFrame,
    keys: list[str],
    aggs: list[tuple[str, str, str]],
) -> DataFrame:
    """Two-phase (salted) aggregation for hot group keys.

    ``aggs``: (column, fn, alias) with fn in {sum, count, min, max} — the
    algebraic aggregates that re-combine exactly. Phase 1 aggregates on
    (keys, salt) over 16 salt values; phase 2 combines partials per key.
    """
    combiners = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    phase1_exprs = []
    for col, fn, alias in aggs:
        if fn == "count":
            phase1_exprs.append(F.count(F.lit(1)).alias(f"_p_{alias}"))
        elif fn in ("sum", "min", "max"):
            phase1_exprs.append(getattr(F, fn)(col).alias(f"_p_{alias}"))
        else:
            raise ValueError(f"non-algebraic aggregate: {fn}")
    salted = df.withColumn("_salt", scatter_salt(df, 16))
    partial = salted.groupBy(*keys, "_salt").agg(*phase1_exprs)
    final_exprs = [
        combiners[fn](f"_p_{alias}").alias(alias) for _, fn, alias in aggs
    ]
    return partial.groupBy(*keys).agg(*final_exprs)
