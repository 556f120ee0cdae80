

def test_rank_values_pruned_matches_window_formulation(spark):
    """rank_values_pruned must equal the whole-group row_number formulation
    bit-for-bit: same integer rank positions (floor((n+1)/2), floor((9n+9)/10)),
    heavy ties, negative values, bucket-edge values, any partitioning."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_engineering_assignment_spark.operators.quantiles import (
        rank_values_pruned,
    )

    rng = random.Random(7)
    rows = []
    for i in range(1100):
        rows.append(
            (
                "k%d" % (i % 4),
                rng.choice([round(rng.uniform(-400, 400), 2), 100.0, 0.0, -100.0]),
            )
        )
    rows.append(("solo", 42.0))  # n=1 group: median = p90 = the one value
    df = spark.createDataFrame(rows, "key string, price double")

    w = Window.partitionBy("key").orderBy("price")
    wp = Window.partitionBy("key")
    r = df.select(
        "key",
        "price",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    flat = {
        row["key"]: (row["n_rows"], row["median"], row["p90"])
        for row in r.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max(
                F.when(F.col("rn") == F.floor((F.col("n") + 1) / 2), F.col("price"))
            ).alias("median"),
            F.max(
                F.when(F.col("rn") == F.floor((9 * F.col("n") + 9) / 10), F.col("price"))
            ).alias("p90"),
        )
        .collect()
    }
    for shuffled in (df, df.repartition(13)):
        pruned = {
            row["key"]: (row["n_rows"], row["median"], row["p90"])
            for row in rank_values_pruned(
                shuffled, "price", "key",
                [("median", 1, 1, 2), ("p90", 9, 9, 10)],
                bucket_width=50.0,
            ).collect()
        }
        assert pruned == flat and len(pruned) == 5
