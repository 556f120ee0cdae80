"""Top-k operators.

``top_k_by_freq`` is the engine-native replacement for the reference's
driver-side ``Counter(...).most_common(k)`` (Assignment-python.py:781-805,
SURVEY.md A13/D3): explode → grouped count → per-group window rank. Unlike
the reference it never collects to the driver, so it scales to arbitrarily
many groups; ties break deterministically by item value (the reference's
insertion-order tie-break is partitioning-dependent and unreproducible —
divergence documented per SURVEY.md Q3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_k_by_freq(
    exploded: DataFrame,
    group_cols: list[str],
    item_col: str,
    k: int = 3,
) -> DataFrame:
    """Top-k most frequent ``item_col`` values per ``group_cols`` group.

    Input is one row per (group, item occurrence) — i.e. already exploded.
    Output: group_cols + (item, n, rnk), rnk in 1..k.
    """
    counts = exploded.groupBy(*group_cols, item_col).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.desc("n"), F.asc(item_col)
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def top_k_by_freq_agg(exploded: DataFrame, group_cols: list[str], item_col: str) -> DataFrame:
    """Same as :func:`top_k_by_freq` but returns one row per group with the
    ordered top-k items as an array — the exact engine-side shape of
    ``Counter.most_common(k)`` (D3 semantics for the Blue-Yellow-Black
    predicate, Assignment-python.py:799-815)."""
    k = 3
    ranked = top_k_by_freq(exploded, group_cols, item_col, k)
    return (
        ranked.groupBy(*group_cols)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("rnk"), F.col(item_col).alias("item")))
            ).alias("_s")
        )
        .withColumn("top_items", F.transform(F.col("_s"), lambda s: s.getField("item")))
        .drop("_s")
    )
