"""Market-basket association rules: hand-computed metrics, pair-enumeration
property vs itertools, and the no-self-join / TakeOrderedAndProject plan."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from data_engineering_assignment_spark.operators.affinity import (
    _pair_structs,
    association_rules,
    association_triples,
    order_baskets,
)


def _lineitem(spark, rows):
    return spark.createDataFrame(rows, "l_orderkey long, l_partkey long")


def test_association_rules_hand_computed(spark):
    # 4 baskets; pair (1,2) in 3 of them, all other pairs below min count.
    rows = [
        (10, 1), (10, 2), (10, 3),
        (20, 1), (20, 2),
        (30, 1), (30, 2), (30, 4),
        (40, 3), (40, 4),
    ]
    out = association_rules(_lineitem(spark, rows), min_pair_count=3).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.p1, r.p2, r.pair_cnt, r.cnt_p1, r.cnt_p2) == (1, 2, 3, 3, 3)
    # N=4: support 3/4, confidence 3/3, lift 4*3/(3*3)
    assert r.support == 0.75
    assert r.confidence == 1.0
    assert r.lift == round(4 * 3 / 9, 6)


def test_basket_dedupes_and_sorts(spark):
    rows = [(1, 7), (1, 7), (1, 3), (1, 5)]
    items = order_baskets(_lineitem(spark, rows)).collect()[0].items
    assert items == [3, 5, 7]


def test_pair_enumeration_matches_itertools(spark):
    baskets = [[1], [2, 9], [4, 5, 6], [1, 3, 5, 7, 9], list(range(12))]
    df = spark.createDataFrame([(b,) for b in baskets], "items array<long>")
    got = sorted(
        (r.pr.p1, r.pr.p2)
        for r in df.select(
            F.explode(_pair_structs(F.col("items"))).alias("pr")
        ).collect()
    )
    want = sorted(
        p for b in baskets for p in itertools.combinations(sorted(b), 2)
    )
    assert got == want


def test_min_pair_count_filters(spark):
    rows = [(1, 1), (1, 2), (2, 1), (2, 2)]
    assert association_rules(_lineitem(spark, rows), min_pair_count=3).count() == 0
    out = association_rules(_lineitem(spark, rows), min_pair_count=2).collect()
    assert [(r.p1, r.p2, r.pair_cnt) for r in out] == [(1, 2, 2)]


def test_plan_no_self_join_and_bounded_topk(spark, sf_dir):
    from data_engineering_assignment_spark.tables import load

    df = association_rules(load(spark, sf_dir, "lineitem"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # the basket table is localCheckpointed (lineage truncated to an RDD
    # scan) and fanned out to all three consumers — the parquet fact scan
    # runs once, inside the checkpoint, never in this plan
    assert plan.count("Scan parquet") == 0
    # 4 checkpoint reads: pair branch, item counts ×2 (one per rule-side
    # join; re-aggregated over the CHECKPOINT, never the fact table), total
    assert plan.count("Scan ExistingRDD") == 4
    # pair generation is in-row (Generate over the basket arrays), never a
    # basket self-join; the only nested-loop join is the bounded 1-row
    # basket-total broadcast
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_triple_enumeration_matches_itertools(spark):
    from data_engineering_assignment_spark.operators.affinity import _triple_structs

    baskets = [[1, 2], [3, 4, 5], [1, 3, 5, 7], list(range(9))]
    df = spark.createDataFrame([(b,) for b in baskets], "items array<long>")
    got = sorted(
        (r.tr.p1, r.tr.p2, r.tr.p3)
        for r in df.select(
            F.explode(_triple_structs(F.col("items"))).alias("tr")
        ).collect()
    )
    want = sorted(
        t for b in baskets for t in itertools.combinations(sorted(b), 3)
    )
    assert got == want


def test_association_triples_hand_computed(spark):
    rows = [
        (10, 1), (10, 2), (10, 3),
        (20, 1), (20, 2), (20, 3), (20, 4),
        (30, 1), (30, 2), (30, 3),
        (40, 4), (40, 5),
    ]
    out = association_triples(_lineitem(spark, rows), min_count=3).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.p1, r.p2, r.p3, r.triple_cnt) == (1, 2, 3, 3)
    assert r.support == 0.75


def test_blocked_linkage_finds_typo_and_caps_blocks(spark):
    from data_engineering_assignment_spark.operators.linkage import (
        blocked_name_linkage,
    )

    rows = [("cold bolt",), ("old bolt",), ("blue rod",), ("cold bolt",)]
    df = spark.createDataFrame(rows, "p_name string")
    out = blocked_name_linkage(df).collect()
    assert [(r.name_a, r.name_b, r.dist, r.n_rows_a, r.n_rows_b) for r in out] == [
        ("cold bolt", "old bolt", 1, 2, 1)
    ]
    # block cap: with max_block=1 every block is over-sized -> no pairs
    assert blocked_name_linkage(df, max_block=1).count() == 0
