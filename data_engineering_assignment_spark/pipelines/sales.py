"""Basic Task 1: video-game sales analytics (Assignment-python.py:35-82).

Three queries over a pipe-delimited CSV with an explicit schema:
  A. best NA publisher 2006-2015 (argmax via grouped sum + sort/limit, :64-65)
  B. titles of that publisher with unknown NA sales (isNull count, :68-70)
  C. per-year NA/total sales for that window (rounded grouped sums, :73-82)

The year-filtered frame is cached once and shared by all three (the reference
does the same, :61).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import SALES_SCHEMA


def read_sales_csv(spark: SparkSession, path: str) -> DataFrame:
    """Pipe-delimited CSV scan with explicit schema (S1, :52). The reference
    re-parses release_date with to_date (a no-op on DateType, Q1); here the
    dateFormat option does the parse at scan time."""
    return (
        spark.read.schema(SALES_SCHEMA)
        .option("dateFormat", "dd-MM-yyyy")
        .csv(path, header=True, sep="|")
    )


def sales_in_window(sales: DataFrame) -> DataFrame:
    """Column-pruned, year-derived frame filtered to 2006-2015; cache before
    fan-out."""
    return (
        sales.select("publisher", "na_sales", "total_sales", "release_date")
        .withColumn("year", F.year("release_date"))
        .filter(F.col("year").between(2006, 2015))
    )


def best_na_publisher(windowed: DataFrame) -> str:
    """Argmax publisher by NA sales (:64-65); deterministic tie-break by name."""
    row = (
        windowed.groupBy("publisher")
        .agg(F.sum("na_sales").alias("na_total"))
        .sort(F.desc("na_total"), F.asc("publisher"))
        .limit(1)
        .collect()
    )
    return row[0][0] if row else ""


def unknown_na_sales_count(windowed: DataFrame, publisher: str) -> int:
    """Titles of the best publisher with NULL na_sales (:68-70)."""
    return windowed.filter(
        (F.col("publisher") == publisher) & F.col("na_sales").isNull()
    ).count()


def sales_per_year(windowed: DataFrame, publisher: str) -> DataFrame:
    """Publisher's yearly NA/global sales, 2 decimals, year ascending (:73-82)."""
    return (
        windowed.filter(F.col("publisher") == publisher)
        .groupBy("year")
        .agg(
            F.round(F.sum("na_sales"), 2).alias("na_total"),
            F.round(F.sum("total_sales"), 2).alias("global_total"),
        )
        .orderBy("year")
    )


def run(spark: SparkSession, path: str) -> dict:
    """Full Basic-1 pipeline; returns the three results."""
    windowed = sales_in_window(read_sales_csv(spark, path)).cache()
    best = best_na_publisher(windowed)
    result = {
        "best_na_publisher": best,
        "unknown_na_count": unknown_na_sales_count(windowed, best),
        "sales_per_year": sales_per_year(windowed, best),
    }
    return result
