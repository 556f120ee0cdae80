"""Skew-operator tests: two-phase aggregation must produce exactly the
plain-operator results while spreading hot keys."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_assignment_spark.operators.skew import two_phase_agg


def skewed_probe(spark):
    # 90% of rows share key 1
    return spark.createDataFrame(
        [(1, i) for i in range(900)] + [(i % 7 + 2, i) for i in range(100)],
        "k bigint, v bigint",
    )


def test_scatter_salt_spreads_identical_rows(spark):
    """Literal duplicate rows are the worst skew: a content-only hash sends
    them all to ONE salt value. The row-id component must spread them."""
    from data_engineering_assignment_spark.operators.skew import scatter_salt

    dups = spark.createDataFrame([(1, 7)] * 1000, "k bigint, v bigint").repartition(4)
    counts = {
        r["_salt"]: r["n"]
        for r in dups.withColumn("_salt", scatter_salt(dups, 8))
        .groupBy("_salt")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert len(counts) == 8  # every salt value used
    assert max(counts.values()) < 3 * (1000 / 8)  # no salt hoards the rows


def test_two_phase_agg_matches_plain(spark):
    probe = skewed_probe(spark)
    plain = {
        (r["k"]): (r["n"], r["s"], r["mx"])
        for r in probe.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        (r["k"]): (r["n"], r["s"], r["mx"])
        for r in two_phase_agg(
            probe, ["k"], [("v", "count", "n"), ("v", "sum", "s"), ("v", "max", "mx")]
        ).collect()
    }
    assert salted == plain


def test_ngram_jaccard_max_df_drops_boilerplate(spark):
    from data_engineering_assignment_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "standard header line for every document in this corpus"
    docs = [
        (1, boiler + " alpha beta gamma delta epsilon"),
        (2, boiler + " zeta eta theta iota kappa"),
        (3, boiler + " alpha beta gamma delta epsilon"),  # dup of 1 beyond boiler
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    # without the cap, boilerplate shingles connect everything
    uncapped = {
        (r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(df, threshold=0.2).collect()
    }
    assert (1, 2) in uncapped
    # with the cap, only the true near-dup pair survives
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(df, threshold=0.2, max_df=2).collect()
    }
    assert (1, 3) in capped and (1, 2) not in capped
