"""Unit tests for the core operator library: top-k-by-frequency, text stats,
and the deterministic decimal aggregation helpers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_assignment_spark.operators.aggregates import dround, dsum
from data_engineering_assignment_spark.operators.text import with_text_stats
from data_engineering_assignment_spark.operators.topk import (
    top_k_by_freq,
    top_k_by_freq_agg,
)


def test_top_k_by_freq_counts_and_tiebreak(spark):
    rows = [("g1", t) for t in ["a", "a", "a", "b", "b", "c", "d"]] + [
        ("g2", t) for t in ["x", "y"]  # tie at n=1 → break by item asc
    ]
    df = spark.createDataFrame(rows, "grp string, item string")
    out = top_k_by_freq(df, ["grp"], "item", k=2).collect()
    g1 = sorted([(r["item"], r["n"], r["rnk"]) for r in out if r["grp"] == "g1"])
    assert g1 == [("a", 3, 1), ("b", 2, 2)]
    g2 = sorted([(r["item"], r["rnk"]) for r in out if r["grp"] == "g2"])
    assert g2 == [("x", 1), ("y", 2)]


def test_top_k_agg_ordered_array(spark):
    rows = [("g", t) for t in ["b", "a", "a", "c", "b", "a"]]
    df = spark.createDataFrame(rows, "grp string, item string")
    out = top_k_by_freq_agg(df, ["grp"], "item").collect()[0]
    assert out["top_items"] == ["a", "b", "c"]  # Counter.most_common shape (D3)


def test_text_stats_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat")], "doc_id int, text string"
    )
    r = with_text_stats(df).collect()[0]
    assert r["token_count"] == 6
    assert r["uniq_tokens"] == 5
    assert r["stop_ratio"] == pytest.approx(2 / 6, abs=1e-4)  # 'the' twice
    assert r["avg_token_len"] == pytest.approx(17 / 6, abs=1e-4)
    assert r["pred_lang"] == "en"


def test_dsum_partitioning_independent(spark):
    """The decimal detour makes double sums independent of partition count."""
    vals = [(float(i) * 0.1 + 0.01,) for i in range(1, 2000)]
    a = spark.createDataFrame(vals, "v double").repartition(1).agg(dsum("v", "s"))
    b = spark.createDataFrame(vals, "v double").repartition(16).agg(dsum("v", "s"))
    assert a.collect()[0]["s"] == b.collect()[0]["s"]


def test_dround_midpoint(spark):
    df = spark.createDataFrame([(0.5, 0.25)], "a double, b double")
    r = df.select(dround(F.col("a") * F.col("b"), 4).alias("x")).collect()[0]
    assert r["x"] == 0.125


def test_regex_tokens_classes(spark):
    from data_engineering_assignment_spark.operators.text import regex_tokens

    df = spark.createDataFrame([("hello, world42 x!",)], "text string")
    out = df.select(regex_tokens().alias("t")).collect()[0]["t"]
    assert out == ["hello", ",", "world", "42", "x", "!"]


def test_rolling_hash_matches_python(spark):
    from data_engineering_assignment_spark.operators.text import (
        ROLLING_BASE,
        ROLLING_MOD,
        rolling_hash,
    )

    s = "the quick brown fox!"
    h = 0
    for ch in s:
        h = (h * ROLLING_BASE + ord(ch)) % ROLLING_MOD
    df = spark.createDataFrame([(s,)], "text string")
    assert df.select(rolling_hash("text").alias("h")).collect()[0]["h"] == h


def test_hll_rollup_bounded_error(spark, sf_dir):
    """The merged-sketch estimate must be within 5% of the exact distinct
    count (HLL standard error at default lgK is ~1.6%)."""
    from data_engineering_assignment_spark.queries import load_catalog
    from data_engineering_assignment_spark.tables import load

    est = load_catalog()["approx_distinct_users_rollup"].build(spark, sf_dir).collect()[0]
    exact = load(spark, sf_dir, "events").select("user_id").distinct().count()
    assert abs(est["total_users_est"] - exact) / exact < 0.05


def test_weighted_median_udaf(spark):
    """GROUPED_AGG pandas UDAF: smallest value whose cumulative weight
    reaches half the total, per group."""
    from data_engineering_assignment_spark.functions.udafs import weighted_median

    from pyspark.sql import functions as F

    rows = [
        # group a: weights 1+1+8 → half=5 → cum 1,2,10 → median value 30
        ("a", 10.0, 1.0), ("a", 20.0, 1.0), ("a", 30.0, 8.0),
        # group b: equal weights → half=1.5 → second value (cum 1,2,3)
        ("b", 1.0, 1.0), ("b", 2.0, 1.0), ("b", 3.0, 1.0),
    ]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    out = {
        r["g"]: r["m"]
        for r in df.groupBy("g").agg(weighted_median("v", "w").alias("m")).collect()
    }
    assert out == {"a": 30.0, "b": 2.0}


def test_shingle_hash_stream_equals_string_fold(spark):
    """Composed shingle hashes must equal rolling_hash of the concatenated
    shingle string bit-for-bit (the oracle-compatibility contract), with
    word_shingles' distinct semantics and the <n-token edge."""
    import random

    from pyspark.sql import functions as F

    from data_engineering_assignment_spark.operators.dedup import word_shingles
    from data_engineering_assignment_spark.operators.text import (
        rolling_hash,
        shingle_hash_stream,
    )

    rng = random.Random(5)
    vocab = ["tok%d" % i for i in range(30)] + ["x", "yy", "zzz", ""]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 40))))
            for i in range(80)]
    rows += [(100, ""), (101, "a"), (102, "a b"), (103, "a b c"),
             (104, "dup dup dup dup")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for n in (2, 3, 5):
        got = {
            (r["doc_id"], tuple(r["hs"]))
            for r in shingle_hash_stream(df, n, ("doc_id",), out_col="rh")
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("rh")).alias("hs"))
            .collect()
        }
        want = {
            (r["doc_id"], tuple(r["hs"]))
            for r in df.select(
                "doc_id", F.explode(word_shingles("text", n)).alias("s")
            )
            .select("doc_id", rolling_hash(F.col("s")).alias("rh"))
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("rh")).alias("hs"))
            .collect()
        }
        assert got == want, f"n={n}"


def test_shingle_hash_stream_plan_has_single_char_fold(spark):
    """The per-token hash arrays must be Generate-input ATTRIBUTES, not
    inlined expressions: Catalyst substituting the array-builders into the
    composition lambda re-derives token hashes per (position, offset) — a
    measured ~100x blowup. One compose aggregate, bounded split count."""
    from data_engineering_assignment_spark.operators.text import shingle_hash_stream

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    plan = (
        shingle_hash_stream(df, 3, ("doc_id",))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("aggregate(sequence") == 1
    # 2 char folds (hash + pow) in the projection, plus tokenizer splits —
    # NOT one per shingle position
    assert plan.count("split(") <= 6


def test_multi_shingle_hash_stream_parity_and_single_fold(spark):
    """The fused multi-order stream must equal the concatenation of the
    per-order streams (distinct=False multisets), while folding each
    document's characters exactly ONCE (the DSIR cost contract)."""
    import random
    from collections import Counter

    from data_engineering_assignment_spark.operators.text import (
        multi_shingle_hash_stream,
        shingle_hash_stream,
    )

    rng = random.Random(11)
    vocab = ["w%d" % i for i in range(20)] + ["", "a"]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 25))))
            for i in range(60)]
    rows += [(100, ""), (101, "solo"), (102, "two toks")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    fused = multi_shingle_hash_stream(df, ns=(1, 2), id_cols=("doc_id",))
    got = Counter((r["doc_id"], r["rh"]) for r in fused.collect())
    want = Counter()
    for n in (1, 2):
        s = shingle_hash_stream(df, n, ("doc_id",), distinct=False)
        want.update((r["doc_id"], r["rh"]) for r in s.collect())
    assert got == want

    plan = fused._jdf.queryExecution().executedPlan().toString()
    # one hash fold + one pow fold in the projection — not one per order
    assert plan.count("split(") <= 6


def test_char_shingle_hash_stream_parity(spark):
    """The char n-gram stream equals (a) a pure-python replay of the
    spaced-n-gram rolling hash and (b) multi_shingle_hash_stream over a
    text whose every char is its own token — the equivalence that keeps
    char-feature oracles inside the proven word-shingle hash family.
    Mixed BMP scripts (CJK/Thai), space markers, and the <min(ns)
    no-emission edge all pinned."""
    from collections import Counter

    from pyspark.sql import functions as F

    from data_engineering_assignment_spark.operators.text import (
        ROLLING_BASE,
        ROLLING_MOD,
        char_shingle_hash_stream,
        multi_shingle_hash_stream,
    )

    def rh(s):
        h = 0
        for ch in s:
            h = (h * ROLLING_BASE + ord(ch)) % ROLLING_MOD
        return h

    rows = [
        (1, "中文网页内容"),
        (2, "hello world"),
        (3, "ไทย ผสม ascii 7"),
        (4, "a"),
        (5, ""),
        (6, "ab"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = Counter(
        (r["doc_id"], r["rh"])
        for r in char_shingle_hash_stream(df).collect()
    )
    want = Counter()
    for did, t in rows:
        t2 = t.replace(" ", "_")
        for n in (2, 3):
            for i in range(len(t2) - n + 1):
                want[(did, rh(" ".join(t2[i : i + n])))] += 1
    assert got == want
    assert not any(did in (4, 5) for did, _ in got)  # <2 chars: no rows

    spaced = df.select(
        "doc_id",
        F.concat_ws(
            " ", F.split(F.regexp_replace("text", " ", "_"), "")
        ).alias("text"),
    )
    twin = Counter(
        (r["doc_id"], r["rh"])
        for r in multi_shingle_hash_stream(spaced, ns=(2, 3)).collect()
    )
    assert got == twin
