"""Typed loaders for the driver test tables (TESTDATA.md).

All tables are self-describing parquet (reference pattern: plain
``spark.read.parquet``, Assignment-python.py:134,907), read through
:func:`sources.read_parquet` so each file version's schema is inferred once
per session and later loads start no Spark job. The one normalization
is ``events.ts``: stored as parquet TIMESTAMP(NANOS) which Spark's vectorized
reader rejects, so it is read as nano-longs and converted to a microsecond
timestamp with integer division — exactly DuckDB's nanos→micros truncation, so
oracle comparisons agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import tune
from .sources import read_parquet

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table; pins runtime confs first (driver-owned session)."""
    tune(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos → micros via integer division (matches DuckDB truncation);
        # plain `/` would route through double and lose precision past 2^53.
        # Cast to TIMESTAMP_NTZ: Spark 4 reads TIMESTAMP(NANOS) natively as
        # NTZ, so the contract is NTZ on every Spark version / conf.
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df
