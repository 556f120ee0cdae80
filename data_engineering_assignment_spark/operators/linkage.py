"""Entity resolution: blocked fuzzy linkage over a value column at fact
scale.

The classic record-linkage pipeline (Fellegi–Sunter blocking + pairwise
verify), arranged for Spark's cost model:

1. **Distinct first.** Edit distance is O(len²) per pair and must never run
   per fact ROW — the linkage works on the DISTINCT value vocabulary
   (with per-value row counts carried along), so the quadratic piece is
   |vocab|²-bounded no matter how many billions of rows repeat the values.
2. **Block, then verify.** Candidate pairs are generated only WITHIN a
   blocking key (here: the name's last token — the head noun), the
   standard trick that turns the all-pairs square into per-block squares;
   then the survivors are verified with exact `levenshtein`. The
   self-join carries SHUFFLE_HASH hints (derived self-join invariant).
3. **Row-count mapping.** Each matched name pair carries both sides' fact
   row counts, so downstream merge decisions (keep the higher-count
   spelling) need no second scan.

At extreme vocabulary skew a single block can still go quadratic — cap it
with ``max_block`` (values in over-sized blocks are reported unmatched
rather than joined), the same bounded-hot-side discipline as the shingle
df caps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def blocked_name_linkage(df: DataFrame, max_block: int | None = 1000) -> DataFrame:
    """(name_a, name_b, dist, n_rows_a, n_rows_b), name_a < name_b —
    distinct values of ``name_col`` within edit distance 2,
    candidates blocked by the value's last whitespace token."""
    name_col = "p_name"
    vocab = df.groupBy(F.col(name_col).alias("name")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    vocab = vocab.withColumn(
        "block", F.element_at(F.split(F.col("name"), " "), -1)
    )
    if max_block is not None:
        hot = (
            vocab.groupBy("block")
            .agg(F.count(F.lit(1)).alias("_bs"))
            .where(F.col("_bs") > max_block)
            .select("block")
        )
        vocab = vocab.join(F.broadcast(hot), "block", "left_anti")
    a = vocab.alias("a").hint("shuffle_hash")
    b = vocab.alias("b").hint("shuffle_hash")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .withColumn("dist", F.levenshtein(F.col("a.name"), F.col("b.name")))
        .where(F.col("dist") <= 2)
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            "dist",
            F.col("a.n_rows").alias("n_rows_a"),
            F.col("b.n_rows").alias("n_rows_b"),
        )
    )
