"""Change-data-capture application (MERGE / upsert): fold a change stream
of upserts and deletes into a base snapshot, producing the post-merge
snapshot. The lakehouse MERGE INTO primitive, expressed engine-natively.

Latest-wins semantics via one key-partitioned window: base rows enter the
union with the lowest sequence number, change rows carry their own; per
key the highest (seq, change-over-base) row survives, and a surviving
delete removes the key. One shuffle keyed by the merge key — unionByName
is shuffle-free, and the dedup window partial-sorts within partitions. At
100 TB the change set is normally orders of magnitude smaller than the
base; AQE's skew handling covers hot keys, and nothing touches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BASE_SEQ = -1  # sequence assigned to base-snapshot rows: below any change


def apply_changes(base: DataFrame, changes: DataFrame, keys: list[str]) -> DataFrame:
    """Apply ``changes`` (upserts + deletes) onto ``base``.

    ``changes`` must carry the base's columns plus ``seq`` (numeric,
    ``>= 0``, higher = newer) and ``op`` (``"D"`` rows remove the key;
    anything else upserts). Per key, the newest row wins — a change
    with the same seq as another change falls back to input order only if
    seqs collide, so give changes distinct seqs for full determinism. A
    delete followed by a later upsert (higher seq) resurrects the key.
    Output columns = base columns.
    """
    value_cols = [c for c in base.columns if c not in keys]
    b = base.select(
        *keys,
        *value_cols,
        F.lit(BASE_SEQ).cast("long").alias("_seq"),
        F.lit("I").alias("_op"),
        F.lit(0).alias("_chg"),
    )
    c = changes.select(
        *keys,
        *value_cols,
        F.col("seq").cast("long").alias("_seq"),
        F.col("op").alias("_op"),
        F.lit(1).alias("_chg"),
    )
    w = Window.partitionBy(*keys).orderBy(F.desc("_seq"), F.desc("_chg"))
    return (
        b.unionByName(c)
        .withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("_op") != "D"))
        .select(*keys, *value_cols)
    )
