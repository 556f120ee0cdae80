"""Interval / range joins (the operator class behind the reference's
plus-minus spec, Assignment-python.py:554-584 — goal-instant within a
player's on-pitch interval).

Spark has no native range-join optimization (the range-join hint is a
Databricks-only feature, SURVEY.md §4), so :func:`point_in_interval_join`
plans an equi-join on the key that exists (matchId, user_id, orderkey …)
with the range condition attached. Catalyst executes broadcast/sort-merge on
the key and evaluates the range as part of the join condition; per-key
fan-out bounds the work, which is exactly the plus-minus shape and scales
linearly in key cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: list[str],
    point_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Join each point row to interval rows of the same ``on`` key that
    contain it: start <= point < end (the reference's substitution
    semantics: on from the start minute, off at the off minute).
    """
    p, iv = points.alias("p"), intervals.alias("iv")
    cond = None
    for k in on:
        c = F.col(f"p.{k}") == F.col(f"iv.{k}")
        cond = c if cond is None else cond & c
    pt = F.col(f"p.{point_col}")
    lo, hi = F.col(f"iv.{start_col}"), F.col(f"iv.{end_col}")
    joined = p.join(iv, cond & (lo <= pt) & (pt < hi), "inner")
    # drop the duplicate interval-side key columns
    return joined.drop(*[F.col(f"iv.{k}") for k in on])
