"""Market-basket affinity analytics: association rules over order baskets.

Agrawal & Srikant (1994) semantics — support / confidence / lift for item
pairs that co-occur in the same basket — re-expressed for Spark's execution
model. Additive analytics surface (the reference notebook has no
market-basket operator); complements the co-occurrence-free `lang_source_chisq`
association test.

Scale design (the part that matters at 100 TB):

- **No self-join for pair generation.** The classic SQL formulation joins
  the basket table to itself on the basket key — a corpus-sized shuffle
  join whose output is quadratic in basket size. Here baskets are bounded
  (TPC-H orders carry <= 7 lineitems; real carts are tens), so pairs are
  generated IN-ROW from each basket's sorted distinct-item array with one
  `explode` — one shuffle to build baskets, zero joins to enumerate pairs.
  The quadratic work is per-row and bounded by the basket-size cap, so it
  never concentrates on a hot key.
- **One basket materialization, three consumers.** The grouped basket table
  feeds pair counts, item counts (re-derived by exploding the deduped
  arrays — no second scan of the fact table), and the basket total. It is
  `localCheckpoint`ed so the fact-table scan and groupBy run once (the
  bloom_decontaminate fan-out discipline).
- **Exact cross-engine arithmetic.** support/confidence/lift are IEEE
  double expressions written with the same association on both engines
  (`(N·c_ab)/(c_a·c_b)` as double mults + one divide — correctly rounded,
  transcendental-free) and routed through the decimal-detour rounding
  (`dround`) so the oracle hashes bit-identically.
- **Bounded result.** Top-k by (lift, pair_cnt, p1, p2) — a total order —
  via orderBy().limit(): plans as distributed TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .aggregates import dround

TOP_K = 25  # rows each of association_rules / association_triples keeps

def order_baskets(lineitem: DataFrame) -> DataFrame:
    """(l_orderkey, items) — sorted distinct parts per order, one shuffle.

    collect_set dedupes in-flight, so no separate DISTINCT pass; sort_array
    fixes a deterministic in-basket order for pair enumeration.
    """
    return lineitem.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("items")
    )


def _pair_structs(items) -> F.Column:
    """All (p1 < p2) pairs of an ascending-sorted array, in-row."""
    return F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + F.lit(2), F.size(items)),
                lambda y: F.struct(x.alias("p1"), y.alias("p2")),
            ),
        )
    )


def association_rules(
    lineitem: DataFrame, min_pair_count: int = 3
) -> DataFrame:
    """Top-``TOP_K`` item-pair association rules (p1 => p2, p1 < p2) by lift.

    Columns: p1, p2, pair_cnt, cnt_p1, cnt_p2, support, confidence, lift.
    confidence is directional for the rule p1 => p2 (pair_cnt / cnt_p1);
    lift is symmetric.
    """
    baskets = order_baskets(lineitem).localCheckpoint(eager=False)

    n_baskets = baskets.agg(F.count("*").alias("nb"))
    item_cnt = baskets.select(F.explode("items").alias("p")).groupBy("p").agg(
        F.count("*").alias("cnt")
    )
    pair_cnt = (
        baskets.select(F.explode(_pair_structs(F.col("items"))).alias("pr"))
        .select("pr.p1", "pr.p2")
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("pair_cnt"))
        .where(F.col("pair_cnt") >= min_pair_count)
    )

    nb = F.col("nb").cast("double")
    pc = F.col("pair_cnt")
    ca = F.col("cnt_p1").cast("double")
    cb = F.col("cnt_p2")
    return (
        pair_cnt.join(
            item_cnt.select(F.col("p").alias("p1"), F.col("cnt").alias("cnt_p1")),
            "p1",
        )
        .join(
            item_cnt.select(F.col("p").alias("p2"), F.col("cnt").alias("cnt_p2")),
            "p2",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "p1",
            "p2",
            "pair_cnt",
            "cnt_p1",
            "cnt_p2",
            dround(pc.cast("double") / nb, 6).alias("support"),
            dround(pc.cast("double") / ca, 6).alias("confidence"),
            dround((nb * pc) / (ca * cb), 6).alias("lift"),
        )
        .orderBy(
            F.col("lift").desc(), F.col("pair_cnt").desc(), "p1", "p2"
        )
        .limit(TOP_K)
    )


def _triple_structs(items) -> F.Column:
    """All (p1 < p2 < p3) triples of an ascending-sorted array, in-row.

    Nested slice offsets: x at 0-based i, y at absolute i+1+j (j 0-based in
    x's suffix), z drawn from y's suffix — 1-based slice starts i+2 and
    i+j+3. Bounded-basket cubic, never a 3-way self-join.
    """
    return F.flatten(
        F.transform(
            items,
            lambda x, i: F.flatten(
                F.transform(
                    F.slice(items, i + F.lit(2), F.size(items)),
                    lambda y, j: F.transform(
                        F.slice(items, i + j + F.lit(3), F.size(items)),
                        lambda z: F.struct(
                            x.alias("p1"), y.alias("p2"), z.alias("p3")
                        ),
                    ),
                )
            ),
        )
    )


def association_triples(
    lineitem: DataFrame, min_count: int = 3
) -> DataFrame:
    """Top-``TOP_K`` frequent item TRIPLES by basket co-occurrence — the apriori
    level-3 itemsets, counted directly from in-row enumeration (exact; the
    level-wise candidate prune is unnecessary when baskets are bounded).

    Columns: p1, p2, p3, triple_cnt, support.
    """
    baskets = order_baskets(lineitem).localCheckpoint(eager=False)
    n_baskets = baskets.agg(F.count(F.lit(1)).alias("nb"))
    return (
        baskets.select(F.explode(_triple_structs(F.col("items"))).alias("tr"))
        .select("tr.p1", "tr.p2", "tr.p3")
        .groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).alias("triple_cnt"))
        .where(F.col("triple_cnt") >= min_count)
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "p1",
            "p2",
            "p3",
            "triple_cnt",
            dround(
                F.col("triple_cnt").cast("double") / F.col("nb").cast("double"),
                6,
            ).alias("support"),
        )
        .orderBy(F.col("triple_cnt").desc(), "p1", "p2", "p3")
        .limit(TOP_K)
    )
