"""Distributed exact quantiles via histogram pruning.

The two other exact-median formulations in the tree each hold a whole group
in one place: the grouped-agg pandas UDAF (functions/udafs.weighted_median)
materializes the group on one worker, and the cumulative-window formulation
(the oracle's) sorts the group in one unsplittable window partition. Both
are right at bench scale and wrong at 100 TB for low-cardinality keys.

``rank_values_pruned`` is the scale path: one splittable histogram
aggregation locates the target bucket per key, and only THAT bucket's rows
(bounded by the bucket width) are ranked, so the selected value is
bit-identical to the window formulation — asserted in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rank_values_pruned(
    df: DataFrame,
    value_col: str,
    key_col: str,
    positions: list[tuple[str, int, int, int]],
    bucket_width: float = 100.0,
) -> DataFrame:
    """Per-key values at integer ascending ranks — ``percentile_disc``-style
    exact quantiles — without ever sorting a whole key group.

    ``positions`` is a list of ``(name, a, b, c)``: each names the value at
    rank ``k = (a*n + b) div c`` (the k-th smallest; ``n`` is the key's row
    count; integer arithmetic, so the index is engine-exact). E.g. median =
    ``("median", 1, 1, 2)`` → floor((n+1)/2); p90 = ``("p90", 9, 9, 10)``.

    Three splittable stages:
    histogram (one map-side-combinable agg), locate (windows over the
    per-key BUCKET aggregate, not the data), resolve (only target buckets'
    rows are ranked, each window bounded by one bucket's occupancy). Ties
    are safe: the value at rank k is tie-invariant even though row order
    among equal values is not.

    Output: one row per key — (key, n_rows, one ``<name>`` column per
    position). The position columns carry the VALUE column's input type
    (DECIMAL stays DECIMAL — oracle comparisons depend on it), not double.
    """
    v = F.col(value_col)
    e = df.select(
        F.col(key_col),
        v.alias("_qv"),
        F.floor(v / F.lit(float(bucket_width))).alias("_qb"),
    )
    hist = e.groupBy(key_col, "_qb").agg(F.count(F.lit(1)).alias("_bc"))
    wasc = (
        Window.partitionBy(key_col)
        .orderBy("_qb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    located = hist.select(
        key_col,
        "_qb",
        "_bc",
        F.coalesce(F.sum("_bc").over(wasc), F.lit(0)).alias("_before"),
        F.sum("_bc").over(Window.partitionBy(key_col)).alias("_n"),
    )
    # melt: one candidate row per (bucket, position), then keep the bucket
    # whose cumulative range contains that position's rank
    pos_structs = [
        F.struct(
            F.lit(name).alias("_qname"),
            F.expr(f"({int(a)} * _n + {int(b)}) div {int(c)}").alias("_k"),
        )
        for name, a, b, c in positions
    ]
    targets = (
        located.select(
            key_col, "_qb", "_bc", "_before", F.explode(F.array(*pos_structs)).alias("_p")
        )
        .select(key_col, "_qb", "_before", F.col("_p._qname").alias("_qname"), F.col("_p._k").alias("_k"))
        .filter((F.col("_before") < F.col("_k")) & (F.col("_before") + F.col("_bc") >= F.col("_k")))
    )
    inb = e.join(targets, [key_col, "_qb"])
    wrow = (
        Window.partitionBy(key_col, "_qname")
        .orderBy("_qv")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    resolved = (
        inb.withColumn("_cum", F.count(F.lit(1)).over(wrow) + F.col("_before"))
        .filter(F.col("_cum") >= F.col("_k"))
        .groupBy(key_col, "_qname")
        .agg(F.min("_qv").alias("_val"))
    )
    totals = hist.groupBy(key_col).agg(F.sum("_bc").alias("n_rows"))
    wide = totals.join(resolved, key_col, "left")
    return wide.groupBy(key_col, "n_rows").pivot(
        "_qname", [name for name, *_ in positions]
    ).agg(F.first("_val"))
