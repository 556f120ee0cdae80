"""Small-file parallelism guard + scan-regime probe (operators/parallelism).

The r16 fan-out pipelines gate checkpoint EAGERNESS on the scan regime
(queries.catalog_sources._fixture_scan_small): lazy at bench SFs where the
fan-out legs are too short to race, eager at scale where concurrent
broadcast-build jobs race to compute a lazy checkpoint's partitions. These
tests pin the probe semantics both layers depend on.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_assignment_spark.operators.parallelism import (
    _PART_COUNT_MEMO,
    ensure_min_parallelism,
    small_scan,
)


def test_small_scan_compares_rdd_partitions_with_parallelism(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    par = spark.sparkContext.defaultParallelism
    assert small_scan(df) is (df.rdd.getNumPartitions() < par)
    assert small_scan(spark.range(10, numPartitions=par)) is False


def test_small_scan_memoizes(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    key = "test-small-scan-memo"
    small = small_scan(df, memo_key=key)
    sc = spark.sparkContext
    memo_key = (sc.applicationId, key, sc.defaultParallelism)
    assert (_PART_COUNT_MEMO[memo_key] < sc.defaultParallelism) is small
    # a poisoned memo value must short-circuit the probe (proves the memo
    # is consulted, not re-probed)
    _PART_COUNT_MEMO[memo_key] = 0 if not small else sc.defaultParallelism
    assert small_scan(df, memo_key=key) is not small
    del _PART_COUNT_MEMO[memo_key]


def test_ensure_min_parallelism_widens_narrow_input(spark):
    narrow = spark.range(100).coalesce(1).select(F.col("id").alias("doc_id"))
    assert narrow.rdd.getNumPartitions() == 1
    widened = ensure_min_parallelism(narrow)
    assert (
        widened.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # round-robin repartition never changes the row multiset
    assert widened.count() == 100


def test_ensure_min_parallelism_noop_when_wide(spark):
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(100, numPartitions=target + 2)
    assert ensure_min_parallelism(wide) is wide


def test_fixture_scan_small_regime(spark, sf_dir):
    from data_engineering_assignment_spark.queries.catalog_sources import (
        _fixture_scan_small,
    )

    # the committed test SFs are single-row-group files: always the small
    # regime (this is what keeps the fan-out pipelines' checkpoints LAZY
    # under the driver's bench)
    assert _fixture_scan_small(spark, sf_dir) is True
