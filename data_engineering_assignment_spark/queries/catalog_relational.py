"""Relational query catalog — reference-parity shapes on the driver tables.

Each query re-expresses an operator pattern from the reference notebook
(citations are /root/reference/Assignment-python.py:line) on the driver's
TPC-H-ish tables so the DuckDB oracle can gate it (FIXTURES.md section B).

Scale notes: dimension joins are explicitly broadcast; aggregations are plain
``groupBy().agg()`` so Catalyst plans partial (map-side) aggregation; all
filters are plain column predicates so they push into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.aggregates import (
    DEC,
    cond_sum,
    davg,
    dround,
    dsum,
    o_davg,
    o_dround,
    o_dsum,
)
from ..tables import load
from . import register

# ---------------------------------------------------------------------------
# Flagship: pricing summary (scan → filter → hash agg; reference shape
# S2+P7+A2: parquet scan, range predicate, grouped rounded sums :52-77).
# ---------------------------------------------------------------------------

_PRICING_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {o_dsum('l_quantity', 'sum_qty')},
  {o_dsum('l_extendedprice', 'sum_base_price')},
  {o_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
  {o_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
  {o_davg('l_quantity', 'avg_qty')},
  {o_davg('l_extendedprice', 'avg_price')},
  {o_davg('l_discount', 'avg_disc')},
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register(
    "pricing_summary",
    oracle=_PRICING_ORACLE,
    doc="S2/P7/A2 analog (Assignment-python.py:52-77): filtered grouped sums/avgs.",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.parallelism import ensure_min_parallelism

    li = load(spark, sf_dir, "lineitem")
    cutoff = F.lit("2000-09-02").cast(dict(li.dtypes)["l_shipdate"])
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    # the 7 decimal-detour aggregates are the query's real CPU; on a
    # single-row-group file the scan stage IS the partial-agg stage, so the
    # guard buys 32-way aggregation for one ~10 MB row shuffle (no-op at
    # scale, where partial agg without a row shuffle is the right plan;
    # decimal sums are partitioning-independent, so values cannot change)
    return (
        ensure_min_parallelism(li.filter(F.col("l_shipdate") <= cutoff))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Basic 1 task shapes (video-game sales :35-82)
# ---------------------------------------------------------------------------

_SALES_PER_YEAR_ORACLE = f"""
SELECT
  year(o_orderdate) AS sales_year,
  {o_dsum('o_totalprice', 'total_sales')},
  COUNT(*) AS n_orders
FROM orders
WHERE year(o_orderdate) BETWEEN 1996 AND 1998
GROUP BY 1
"""


@register(
    "sales_per_year",
    oracle=_SALES_PER_YEAR_ORACLE,
    doc="P3/P7/A2/O2 analog (:58-77): derived year, BETWEEN filter, rounded grouped sums.",
)
def sales_per_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.withColumn("sales_year", F.year("o_orderdate").cast("long"))
        .filter(F.col("sales_year").between(1996, 1998))
        .groupBy("sales_year")
        .agg(dsum("o_totalprice", "total_sales"), F.count(F.lit(1)).alias("n_orders"))
    )


_TOP_PRIORITY_ORACLE = """
WITH f AS (
  SELECT * FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 1998
), totals AS (
  SELECT o_orderpriority,
         ROUND(SUM(CAST(o_totalprice AS DECIMAL(27,6))), 2)::DOUBLE AS total
  FROM f GROUP BY o_orderpriority
), best AS (
  SELECT o_orderpriority FROM totals ORDER BY total DESC, o_orderpriority ASC LIMIT 1
)
SELECT
  (SELECT o_orderpriority FROM best) AS best_priority,
  (SELECT COUNT(*) FROM f
    WHERE o_orderpriority = (SELECT o_orderpriority FROM best)
      AND NULLIF(o_orderstatus, 'O') IS NULL) AS null_status_orders
"""


@register(
    "top_priority_null_count",
    oracle=_TOP_PRIORITY_ORACLE,
    doc="Basic-1 A+B analog (:64-70): argmax via sort+limit, scalar-subquery filter, isNull count; S7 local-rows result.",
)
def top_priority_null_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    filtered = orders.filter(F.year("o_orderdate").between(1995, 1998)).cache()
    best = (
        filtered.groupBy("o_orderpriority")
        .agg(dsum("o_totalprice", "total"))
        .orderBy(F.desc("total"), F.asc("o_orderpriority"))
        .limit(1)
        .collect()[0][0]
    )
    n_null = (
        filtered.filter(
            (F.col("o_orderpriority") == best)
            & F.nullif(F.col("o_orderstatus"), F.lit("O")).isNull()
        ).count()
    )
    filtered.unpersist()
    return spark.createDataFrame(
        [(best, n_null)], "best_priority string, null_status_orders bigint"
    )


# ---------------------------------------------------------------------------
# Football pipeline shapes (Basic 2-8, :133-484)
# ---------------------------------------------------------------------------

_USER_PURCHASE_ORACLE = f"""
WITH p AS (
  SELECT user_id,
         {o_dsum('value', 'purchase_total')},
         COUNT(*) AS n_purchases
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), u AS (SELECT DISTINCT user_id FROM events)
SELECT u.user_id,
       COALESCE(p.purchase_total, 0.0) AS purchase_total,
       COALESCE(p.n_purchases, 0) AS n_purchases
FROM u LEFT JOIN p USING (user_id)
"""


@register(
    "user_purchase_totals",
    oracle=_USER_PURCHASE_ORACLE,
    doc="A3/A4/J1/P13 analog (:168-188): conditional agg, distinct keys, left join, fillna 0.",
)
def user_purchase_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(dsum("value", "purchase_total"), F.count(F.lit(1)).alias("n_purchases"))
    )
    users = ev.select("user_id").distinct()
    return users.join(purchases, on="user_id", how="left").fillna(
        {"purchase_total": 0.0, "n_purchases": 0}
    )


_LEAGUE_ORACLE = """
WITH matches AS (
  SELECT o_custkey % 10 AS home_team,
         (o_custkey + o_orderkey) % 10 AS away_team,
         o_orderkey % 4 AS home_goals,
         (o_orderkey // 7) % 3 AS away_goals
  FROM orders
  WHERE (o_custkey % 10) <> ((o_custkey + o_orderkey) % 10)
), team_rows AS (
  SELECT home_team AS team, home_goals AS scored, away_goals AS conceded FROM matches
  UNION ALL
  SELECT away_team AS team, away_goals AS scored, home_goals AS conceded FROM matches
), stats AS (
  SELECT team,
         COUNT(*) AS games,
         SUM(CASE WHEN scored > conceded THEN 1 ELSE 0 END)::BIGINT AS wins,
         SUM(CASE WHEN scored = conceded THEN 1 ELSE 0 END)::BIGINT AS draws,
         SUM(CASE WHEN scored < conceded THEN 1 ELSE 0 END)::BIGINT AS losses,
         SUM(scored)::BIGINT AS goals_scored,
         SUM(conceded)::BIGINT AS goals_conceded,
         SUM(CASE WHEN scored > conceded THEN 3 WHEN scored = conceded THEN 1 ELSE 0 END)::BIGINT AS points
  FROM team_rows GROUP BY team
)
SELECT
  (ROW_NUMBER() OVER (ORDER BY points DESC, (goals_scored - goals_conceded) DESC,
                      goals_scored DESC, team ASC))::BIGINT AS pos,
  team, games, wins, draws, losses, goals_scored, goals_conceded,
  printf('%+d', goals_scored - goals_conceded) AS gd,
  points
FROM stats
"""


@register(
    "league_table",
    oracle=_LEAGUE_ORACLE,
    doc="U1/F3/A5/W1/F5/P5 analog (:228-332): unionByName reshape, CASE points, grouped sums, global row_number ranking, %+d goal difference.",
)
def league_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    matches = (
        orders.select(
            (F.col("o_custkey") % 10).alias("home_team"),
            ((F.col("o_custkey") + F.col("o_orderkey")) % 10).alias("away_team"),
            (F.col("o_orderkey") % 4).alias("home_goals"),
            (F.expr("o_orderkey div 7") % 3).alias("away_goals"),
        )
        .filter(F.col("home_team") != F.col("away_team"))
    )
    home = matches.select(
        F.col("home_team").alias("team"),
        F.col("home_goals").alias("scored"),
        F.col("away_goals").alias("conceded"),
    )
    # different column order on purpose: unionByName resolves by name (:228-238)
    away = matches.select(
        F.col("home_goals").alias("conceded"),
        F.col("away_team").alias("team"),
        F.col("away_goals").alias("scored"),
    )
    team_rows = home.unionByName(away)
    s, c = F.col("scored"), F.col("conceded")
    stats = team_rows.groupBy("team").agg(
        F.count(F.lit(1)).alias("games"),
        cond_sum(s > c, "wins"),
        cond_sum(s == c, "draws"),
        cond_sum(s < c, "losses"),
        F.sum(s).alias("goals_scored"),
        F.sum(c).alias("goals_conceded"),
        F.sum(F.when(s > c, 3).when(s == c, 1).otherwise(0)).alias("points"),
    )
    order = Window.orderBy(
        F.desc("points"),
        F.desc(F.col("goals_scored") - F.col("goals_conceded")),
        F.desc("goals_scored"),
        F.asc("team"),
    )
    return (
        stats.withColumn("pos", F.row_number().over(order).cast("long"))
        .withColumn(
            "gd", F.format_string("%+d", F.col("goals_scored") - F.col("goals_conceded"))
        )
        .selectExpr(
            "pos", "team", "games", "wins", "draws", "losses",
            "goals_scored", "goals_conceded", "gd", "points",
        )
    )


_RETURN_PCT = o_dround(
    "(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE)"
    " / CAST(COUNT(*) AS DOUBLE)) * 100.0",
    2,
)

_RETURN_RATIO_ORACLE = f"""
SELECT l_suppkey,
       SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS returned_items,
       COUNT(*) AS total_items,
       {_RETURN_PCT} AS return_pct
FROM lineitem
GROUP BY l_suppkey
"""


@register(
    "supplier_return_ratio",
    oracle=_RETURN_RATIO_ORACLE,
    doc="A6/A7/F7 analog (:357-391): conditional count via bool→int cast, ratio-of-sums (Q4 semantics).",
)
def supplier_return_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    returned = F.sum((F.col("l_returnflag") == "R").cast("int")).alias("returned_items")
    return (
        li.groupBy("l_suppkey")
        .agg(returned, F.count(F.lit(1)).alias("total_items"))
        .withColumn("returned_items", F.col("returned_items").cast("long"))
        .withColumn(
            "return_pct",
            # dround: integer-count quotients × 100 hit exact .xx5 midpoints
            # where plain F.round diverges from DuckDB (CLAUDE.md invariant)
            dround(
                F.col("returned_items").cast("double")
                / F.col("total_items").cast("double")
                * 100.0,
                2,
            ),
        )
    )


_NATION_RANK_ORACLE = """
WITH stats AS (
  SELECT r.r_name, n.n_name,
         ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(27,6))), 2)::DOUBLE AS total_acctbal,
         COUNT(*) AS n_customers
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name
)
SELECT * FROM (
  SELECT r_name, n_name, total_acctbal, n_customers,
         (RANK() OVER (PARTITION BY r_name ORDER BY total_acctbal DESC))::BIGINT AS rnk
  FROM stats
) WHERE rnk <= 2
"""


@register(
    "nation_rank_top2",
    oracle=_NATION_RANK_ORACLE,
    doc="J2/W2/P11 analog (:440-458): multi-hop broadcast dim joins, rank() with ties, rank<=2 filter (Q6 semantics).",
)
def nation_rank_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
    stats = joined.groupBy("r_name", "n_name").agg(
        dsum("c_acctbal", "total_acctbal"), F.count(F.lit(1)).alias("n_customers")
    )
    w = Window.partitionBy("r_name").orderBy(F.desc("total_acctbal"))
    return (
        stats.withColumn("rnk", F.rank().over(w).cast("long"))
        .filter(F.col("rnk") <= 2)
    )


_BRAND_REVENUE_ORACLE = f"""
SELECT p.p_brand,
       {o_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
       COUNT(*) AS n_items,
       {o_davg('l.l_extendedprice', 'avg_price')}
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
"""


@register(
    "brand_revenue",
    oracle=_BRAND_REVENUE_ORACLE,
    doc="J3/P4 analog (:720-723): pre-renamed expression inner join (broadcast dim), grouped revenue.",
)
def brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").withColumnRenamed("p_partkey", "pk")
    # part scales with SF: size-based broadcast (CBO/AQE) — broadcasts at
    # bench scale, degrades to a shuffle join at 100 TB instead of OOMing
    j = li.join(p, li.l_partkey == p.pk, "inner")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.groupBy("p_brand").agg(
        dsum(revenue, "revenue"),
        F.count(F.lit(1)).alias("n_items"),
        davg("l_extendedprice", "avg_price"),
    )


# ---------------------------------------------------------------------------
# Sorts / limits / set ops / null handling / scalar functions
# ---------------------------------------------------------------------------

_TOP5_ORDERS_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 5
"""


@register(
    "top5_orders",
    oracle=_TOP5_ORDERS_ORACLE,
    doc="O1/O5-O7 analog (:65,743-832): global top-k via sort+limit (TakeOrderedAndProject).",
)
def top5_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(5)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )


@register(
    "distinct_status_priority",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    doc="A4 analog (:180): dedup aggregate via distinct().",
)
def distinct_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.select("o_orderstatus", "o_orderpriority").distinct()


_NULL_HANDLING_ORACLE = """
SELECT
  COUNT(*) AS n_total,
  (COUNT(*) - COUNT(NULLIF(l_discount, 0.0)))::BIGINT AS n_null_discount,
  COUNT(NULLIF(l_discount, 0.0)) AS n_after_dropna,
  ROUND(SUM(CAST(COALESCE(NULLIF(l_discount, 0.0), 0.05) AS DECIMAL(27,6))), 2)::DOUBLE
    AS filled_discount_sum
FROM lineitem
"""


@register(
    "null_handling_metrics",
    oracle=_NULL_HANDLING_ORACLE,
    doc="P8/P13/P14 analog (:68-70,188,910): isNull predicate, fillna, dropna.",
)
def null_handling_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    d_df = li.withColumn("d", F.nullif(F.col("l_discount"), F.lit(0.0)))
    base = d_df.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("d").isNull().cast("int")).cast("long").alias("n_null_discount"),
    )
    dropped = d_df.dropna(subset=["d"]).agg(F.count(F.lit(1)).alias("n_after_dropna"))
    filled = d_df.fillna({"d": 0.05}).agg(dsum("d", "filled_discount_sum"))
    return base.crossJoin(dropped).crossJoin(filled)


_METRICS_UNION_ORACLE = f"""
SELECT 'n_orders' AS metric, COUNT(*)::DOUBLE AS value FROM orders
UNION ALL
SELECT 'n_customers' AS metric, COUNT(*)::DOUBLE AS value FROM customer
UNION ALL
SELECT 'max_item_price' AS metric, MAX(l_extendedprice) AS value FROM lineitem
UNION ALL
SELECT 'avg_order_value' AS metric, {o_davg('o_totalprice', 'value', 4)} FROM orders
"""


@register(
    "metrics_union",
    oracle=_METRICS_UNION_ORACLE,
    doc="U2/A11/A12 analog (:984,1025-1033): positional union chain of single-row aggregates.",
)
def metrics_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    parts = [
        orders.agg(F.count(F.lit(1)).cast("double").alias("value")).select(
            F.lit("n_orders").alias("metric"), "value"
        ),
        customer.agg(F.count(F.lit(1)).cast("double").alias("value")).select(
            F.lit("n_customers").alias("metric"), "value"
        ),
        li.agg(F.max("l_extendedprice").alias("value")).select(
            F.lit("max_item_price").alias("metric"), "value"
        ),
        orders.agg(davg("o_totalprice", "value", 4)).select(
            F.lit("avg_order_value").alias("metric"), "value"
        ),
    ]
    res = parts[0]
    for p in parts[1:]:
        res = res.union(p)  # positional union (:1025-1033)
    return res


@register(
    "orders_rollup",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       {o_dsum('o_totalprice', 'total')}
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
    doc="Hierarchical ROLLUP aggregation (engine completeness beyond the "
    "reference): per-(status, priority), per-status, and grand-total rows.",
)
def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total")
    )


@register(
    "customers_with_open_orders",
    oracle="""
SELECT c.c_custkey, c.c_acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
""",
    doc="Left-semi join (engine completeness beyond the reference's join set): "
    "customers having at least one open order.",
)
def customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_acctbal"
    )


@register(
    "customers_without_orders",
    oracle="""
SELECT c.c_custkey, c.c_nationkey
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    doc="Left-anti join: customers that never ordered.",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_nationkey"
    )


@register(
    "distinct_users_per_type",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM events GROUP BY event_type
""",
    doc="Distinct aggregation (expand+two-phase plan): per-type exact user counts.",
)
def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "value_quantiles_by_type",
    oracle="""
SELECT event_type,
       quantile_cont(value::DOUBLE, 0.25) AS q25,
       quantile_cont(value::DOUBLE, 0.50) AS q50,
       quantile_cont(value::DOUBLE, 0.75) AS q75,
       quantile_cont(value::DOUBLE, 0.95) AS q95
FROM events GROUP BY event_type
""",
    doc="Exact interpolated quantiles per group (F.percentile — Spark and "
    "DuckDB share the continuous-quantile definition bit-for-bit on doubles).",
)
def value_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    qs = F.percentile("value", F.array(*[F.lit(p) for p in (0.25, 0.5, 0.75, 0.95)]))
    return (
        ev.groupBy("event_type")
        .agg(qs.alias("_q"))
        .select(
            "event_type",
            F.element_at("_q", 1).alias("q25"),
            F.element_at("_q", 2).alias("q50"),
            F.element_at("_q", 3).alias("q75"),
            F.element_at("_q", 4).alias("q95"),
        )
    )


@register(
    "supplier_stats_salted",
    oracle="""
SELECT l_suppkey, COUNT(*) AS n_items, MAX(l_extendedprice) AS max_price
FROM lineitem GROUP BY l_suppkey
""",
    doc="Skew-safe two-phase (salted) aggregation — must hash-match the plain "
    "single-phase oracle exactly (operators/skew.two_phase_agg).",
)
def supplier_stats_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import two_phase_agg

    li = load(spark, sf_dir, "lineitem")
    return two_phase_agg(
        li,
        ["l_suppkey"],
        [("l_suppkey", "count", "n_items"), ("l_extendedprice", "max", "max_price")],
    )


_DOC_PATH_ORACLE = """
SELECT doc_id,
       'data/' || lang || '/' || source || '/' || CAST(doc_id AS VARCHAR) || '.txt' AS path,
       string_split('data/' || lang || '/' || source || '/' || CAST(doc_id AS VARCHAR) || '.txt', '/')[-1]
         AS fname,
       string_split(string_split('data/' || lang || '/' || source || '/'
         || CAST(doc_id AS VARCHAR) || '.txt', '/')[-1], '.')[1] AS stem,
       n_chars - 250 AS gd,
       CASE WHEN n_chars - 250 > 0 THEN '+' ELSE '' END || CAST(n_chars - 250 AS VARCHAR) AS signed_concat,
       printf('%+d', n_chars - 250) AS signed_fmt
FROM documents
"""


@register(
    "doc_path_format",
    oracle=_DOC_PATH_ORACLE,
    doc="F5/F6/F8/P6 analog (:317,471-474,713-717): substring_index stem extraction, both GD-formatting variants (Q2: '0' vs '+0').",
)
def doc_path_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    path = F.concat(
        F.lit("data/"), F.col("lang"), F.lit("/"), F.col("source"), F.lit("/"),
        F.col("doc_id").cast("string"), F.lit(".txt"),
    )
    gd = F.col("n_chars") - 250
    return docs.select(
        "doc_id",
        path.alias("path"),
        F.substring_index(path, "/", -1).alias("fname"),
        F.substring_index(F.substring_index(path, "/", -1), ".", 1).alias("stem"),
        gd.alias("gd"),
        F.concat(
            F.when(gd > 0, F.lit("+")).otherwise(F.lit("")), gd.cast("string")
        ).alias("signed_concat"),
        F.format_string("%+d", gd).alias("signed_fmt"),
    )


_REGIONAL_REVENUE_ORACLE = f"""
SELECT n.n_name,
       {o_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
FROM lineitem l
JOIN orders o    ON l.l_orderkey = o.o_orderkey
JOIN customer c  ON o.o_custkey = c.c_custkey
JOIN supplier s  ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n    ON c.c_nationkey = n.n_nationkey
JOIN region r    ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA' AND year(o.o_orderdate) = 1996
GROUP BY n.n_name
"""


@register(
    "regional_revenue",
    oracle=_REGIONAL_REVENUE_ORACLE,
    doc="TPC-H Q5 shape: six-way join (lineitem-orders-customer-supplier-"
    "nation-region) with local supply (supplier nation = customer nation), "
    "one big shuffle join (lineitem-orders) and broadcast everything else. "
    "The join-order/broadcast decisions are Catalyst's — declared, not "
    "hand-scheduled.",
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1996)
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)  # SF-scaled: size-based broadcast
        .join(
            s,
            (l.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), "revenue"
            )
        )
    )


_SHIP_PRIORITY_ORACLE = f"""
SELECT l.l_orderkey,
       (epoch_ms(o.o_orderdate) // 1000)::BIGINT AS order_epoch,
       o.o_orderpriority,
       {o_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-01'
  AND l.l_shipdate  > TIMESTAMP '1998-06-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""


@register(
    "shipping_priority_top10",
    oracle=_SHIP_PRIORITY_ORACLE,
    doc="TPC-H Q3 shape: segment-filtered three-way join, grouped revenue, "
    "global top-10 by revenue (orderkey tie-break → deterministic set; "
    "plans as TakeOrderedAndProject, not a full sort).",
)
def shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-06-01").cast("timestamp")
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.unix_timestamp("o_orderdate").alias("order_epoch"),
            "o_orderpriority",
        )
        .agg(
            dsum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_ABOVE_AVG_SQL = """
SELECT c_custkey, c_nationkey, c_acctbal
FROM customer c
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(27,6))) AS DOUBLE)
                          / COUNT(*)
                   FROM customer c2
                   WHERE c2.c_nationkey = c.c_nationkey)
"""


@register(
    "above_nation_avg_customers",
    oracle=_ABOVE_AVG_SQL,
    doc="Correlated scalar subquery through the SQL API: customers whose "
    "balance beats their nation's mean. The SAME SQL text runs on both "
    "engines (decimal-detour mean keeps the threshold bit-identical); "
    "Catalyst decorrelates it into an aggregate + join, no per-row "
    "re-execution.",
)
def above_nation_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_ABOVE_AVG_SQL)


_RETURNED_ITEMS_ORACLE = f"""
SELECT c.c_custkey, c.c_name, n.n_name,
       {o_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1996-04-01'
  AND l.l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


@register(
    "returned_items_top20",
    oracle=_RETURNED_ITEMS_ORACLE,
    doc="TPC-H Q10 shape: quarter-windowed customer revenue from returned "
    "items — lineitem-orders shuffle join with the return-flag and date "
    "filters pushed to the scans, nation broadcast, global top-20 "
    "(TakeOrderedAndProject) with custkey tie-break.",
)
def returned_items_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_PROMO_REVENUE_ORACLE = f"""
SELECT {o_dround(
    "SUM(CAST(CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) "
    "ELSE 0 END AS DECIMAL(27,6)))::DOUBLE * 100.0 / "
    "SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,6)))::DOUBLE",
    4,
)} AS promo_revenue_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
  AND l.l_shipdate <  TIMESTAMP '1997-10-01'
"""


@register(
    "promo_revenue_pct",
    oracle=_PROMO_REVENUE_ORACLE,
    doc="TPC-H Q14 shape: month-windowed promo-revenue share — ratio of "
    "conditional to total revenue over a lineitem-part join (part broadcast, "
    "date filter pushed), decimal ratio-of-sums per the Q4-semantics "
    "invariant.",
)
def promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    # ratio of decimal sums (the Q4-semantics invariant), not avg of ratios
    share = (
        F.sum(promo.cast(DEC)).cast("double") * F.lit(100.0)
        / F.sum(rev.cast(DEC)).cast("double")
    )
    return l.join(p, l.l_partkey == p.p_partkey).agg(
        dround(share, 4).alias("promo_revenue_pct")
    )


_BIG_ORDERS_ORACLE = """
WITH big AS (
  SELECT l_orderkey,
         ROUND(SUM(CAST(l_quantity AS DECIMAL(27,6))), 2)::DOUBLE AS total_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(27,6))) > 150
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       (epoch_ms(o.o_orderdate) // 1000)::BIGINT AS order_epoch,
       o.o_totalprice, b.total_qty
FROM big b
JOIN orders o   ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


@register(
    "large_volume_orders",
    oracle=_BIG_ORDERS_ORACLE,
    doc="TPC-H Q18 shape: HAVING on an exact decimal quantity sum selects "
    "big orders BEFORE joining back to orders/customer — the aggregate "
    "prunes the join input instead of joining everything then filtering. "
    "The decimal comparison makes the selected set partitioning-independent "
    "(a double HAVING near the threshold could flip rows per run).",
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import DEC

    l = load(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("_q"))
        .filter(F.col("_q") > 150)
        .select("l_orderkey", F.round("_q", 2).cast("double").alias("total_qty"))
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("order_epoch"),
            "o_totalprice", "total_qty",
        )
    )


_DISJUNCTIVE_ORACLE = f"""
SELECT {o_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)
"""


@register(
    "disjunctive_brand_revenue",
    oracle=_DISJUNCTIVE_ORACLE,
    doc="TPC-H Q19 shape: three OR-branches mixing build-side (brand/size) "
    "and probe-side (quantity) predicates over a lineitem-part broadcast "
    "join. Catalyst extracts the common l_quantity/p_size bounds as "
    "pushable conjuncts; the residual disjunction evaluates post-join.",
)
def disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#11") & s.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#22") & s.between(1, 25) & q.between(10, 20))
        | ((b == "Brand#23") & s.between(1, 35) & q.between(20, 30))
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_BINATION_ORACLE = f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       year(o_orderdate)::BIGINT AS o_year,
       {o_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
"""


@register(
    "bination_trade_volume",
    oracle=_BINATION_ORACLE,
    doc="TPC-H Q7 shape — the TWO-ALIAS dimension join (the same nation "
    "table joined twice under different roles): cross-nation trade "
    "revenue by (supplier nation, customer nation, year). Both nation "
    "instances broadcast (bounded dimension — hint allowed); customer/"
    "supplier stay size-based for AQE (never force-broadcast SF-scaled "
    "sides). Decimal-exact revenue sums; one aggregation, dims pruned to "
    "(key, name).",
)
def bination_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            dsum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")),
                "revenue",
            )
        )
    )


# ---------------------------------------------------------------------------
# TPC-H hard shapes on the available columns (Q17 / Q21 / Q22 analogs)
# ---------------------------------------------------------------------------

_SMALL_QTY_ORACLE = """
WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
l_bp AS (SELECT l.* FROM lineitem l JOIN bp ON l.l_partkey = bp.p_partkey),
a AS (
  SELECT l_partkey,
         SUM(CAST(l_quantity AS BIGINT))::BIGINT AS sum_qty,
         COUNT(*)::BIGINT AS n_lines
  FROM l_bp GROUP BY 1
), s AS (
  SELECT ROUND(SUM(CAST(l_extendedprice AS DECIMAL(27,6))), 2)::DOUBLE
           AS small_qty_revenue,
         COUNT(*)::BIGINT AS n_small_lines
  FROM l_bp JOIN a USING (l_partkey)
  WHERE CAST(l_quantity AS BIGINT) * 5 * n_lines < sum_qty
)
SELECT small_qty_revenue, n_small_lines,
       ROUND(CAST(small_qty_revenue / 7.0 AS DECIMAL(27,8)), 2)::DOUBLE
         AS avg_yearly
FROM s
"""


@register(
    "small_quantity_revenue",
    oracle=_SMALL_QTY_ORACLE,
    doc="TPC-H Q17 shape (correlated per-part average): revenue from "
    "lineitems whose quantity is under 20%% of that part's average, for "
    "one brand. The correlated scalar subquery is rewritten as a grouped "
    "aggregate joined back on partkey — the per-part stats are computed "
    "over the SAME brand-filtered lineitems, so the fact table is scanned "
    "once and both the brand part list and the per-part aggregate are "
    "AQE-broadcastable (never forced: part is SF-scaled). The 0.2*avg "
    "threshold is cross-multiplied to integers (5*qty*n < sum_qty, "
    "quantities are integral) — no division, exact on both engines; the "
    "single /7.0 runs once in double on the already-rounded sum.",
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    bp = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    l_bp = l.join(bp, l.l_partkey == bp.p_partkey).select(
        "l_partkey", F.col("l_quantity").cast("long").alias("qty"), "l_extendedprice"
    )
    a = l_bp.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"), F.count(F.lit(1)).alias("n_lines")
    )
    s = (
        l_bp.join(a, "l_partkey")
        .filter(F.col("qty") * F.lit(5) * F.col("n_lines") < F.col("sum_qty"))
        .agg(
            dsum("l_extendedprice", "small_qty_revenue"),
            F.count(F.lit(1)).alias("n_small_lines"),
        )
    )
    return s.select(
        "small_qty_revenue",
        "n_small_lines",
        dround(F.col("small_qty_revenue") / F.lit(7.0), 2).alias("avg_yearly"),
    )


_SOLE_RETURN_ORACLE = """
WITH r AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'
)
SELECT s_name, COUNT(*)::BIGINT AS numwait
FROM r l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


@register(
    "sole_return_supplier",
    oracle=_SOLE_RETURN_ORACLE,
    doc="TPC-H Q21 shape (EXISTS + NOT EXISTS on the same fact table): "
    "suppliers who were the ONLY supplier with returned lines in a "
    "multi-supplier order, counted per supplier, top 20. The reference "
    "schema lacks commit/receipt dates, so 'failed' is l_returnflag='R'; "
    "the relational shape is intact. Spark rewrites the two correlated "
    "subqueries as ONE per-order aggregate (distinct-supplier count + "
    "distinct-returning-supplier count) joined to the distinct returning "
    "pairs — the fact table is scanned twice, never self-joined row-wise; "
    "the quadratic EXISTS/NOT-EXISTS formulation survives as the oracle, "
    "proving the rewrite. Top-20 plans as TakeOrderedAndProject.",
)
def sole_return_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ls = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    # one map-side-combinable pass builds the distinct (order, supplier)
    # pair table with a returned flag; both downstream shapes reuse its
    # l_orderkey exchange (a two-countDistinct agg would Expand the fact
    # rows 2x before the shuffle — measured 2.90x/decade vs 2.3x here)
    pairs = ls.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "has_r"
        )
    )
    per_order = pairs.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("has_r").alias("n_ret_supp")
    )
    blamed = pairs.filter(F.col("has_r") == 1).join(
        per_order.filter(
            (F.col("n_supp") > 1) & (F.col("n_ret_supp") == 1)
        ).select("l_orderkey"),
        "l_orderkey",
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        blamed.join(s, blamed.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


_IDLE_BALANCE_ORACLE = f"""
WITH pos AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(19,2))) AS tot,
         COUNT(*)::BIGINT AS n_pos
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_mktsegment, COUNT(*)::BIGINT AS n_customers,
       {o_dsum('c_acctbal', 'total_acctbal')}
FROM customer c, pos
WHERE CAST(c_acctbal AS DECIMAL(19,2)) * n_pos > tot
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY 1
"""


@register(
    "idle_customer_balance",
    oracle=_IDLE_BALANCE_ORACLE,
    doc="TPC-H Q22 shape (scalar subquery threshold + anti join): "
    "customers whose balance exceeds the average positive balance and who "
    "placed no order since 2000, grouped by market segment (the schema's "
    "stand-in for Q22's phone country code). The scalar average joins in "
    "as a broadcast 1-row aggregate; the threshold comparison is "
    "cross-multiplied in DECIMAL(19,2) — p>=19 forces int128 in DuckDB "
    "(CLAUDE.md int64-overflow invariant) and avoids any division — and "
    "the no-recent-orders predicate is a LEFT ANTI join against the "
    "date-filtered orders projection (filter pushed below the anti join).",
)
def idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    recent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    pos = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            F.sum(F.col("c_acctbal").cast("decimal(19,2)")).alias("tot"),
            F.count(F.lit(1)).alias("n_pos"),
        )
    )
    return (
        c.join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .crossJoin(F.broadcast(pos))
        .filter(F.col("c_acctbal").cast("decimal(19,2)") * F.col("n_pos") > F.col("tot"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "total_acctbal"),
        )
    )


_MARKET_SHARE_ORACLE = """
WITH t AS (
  SELECT year(o_orderdate)::BIGINT AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6)) AS vol,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region  r ON cn.n_regionkey = r.r_regionkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE r.r_name = 'ASIA' AND year(o_orderdate) BETWEEN 1996 AND 1997
), a AS (
  SELECT o_year, supp_nation, SUM(vol) AS nvol FROM t GROUP BY 1, 2
)
SELECT o_year, supp_nation,
       ROUND(nvol, 2)::DOUBLE AS volume,
       ROUND(CAST(nvol::DOUBLE / SUM(nvol) OVER (PARTITION BY o_year)::DOUBLE
                  AS DECIMAL(27,8)), 6)::DOUBLE AS mkt_share
FROM a
"""


@register(
    "nation_market_share",
    oracle=_MARKET_SHARE_ORACLE,
    doc="TPC-H Q8 shape (the catalog's deepest join tree): every supplier "
    "nation's share of the ASIA customer market per year — lineitem x "
    "orders x supplier x customer x nation(x2 aliases) x region, six "
    "joins. Region + both nation instances broadcast (bounded dims); the "
    "region and year filters push down so the fact join tree is pruned "
    "before the big shuffles; generalized from Q8's single-nation scalar "
    "to a per-nation share so the result is non-degenerate at every SF. "
    "The share divides two EXACT decimal sums once in double over the "
    "ALREADY-AGGREGATED (year, nation) rows — an empty-frame window over "
    "~50 rows, never a second fact scan (nation_revenue_share pattern).",
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").between(1996, 1997)
    )
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    cn = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    r = (
        load(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    vol = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    a = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"), "supp_nation")
        .agg(F.sum(vol.cast("decimal(27,6)")).alias("nvol"))
    )
    wy = Window.partitionBy("o_year")
    return a.select(
        F.col("o_year").cast("long").alias("o_year"),
        "supp_nation",
        F.round(F.col("nvol"), 2).cast("double").alias("volume"),
        dround(
            F.col("nvol").cast("double") / F.sum("nvol").over(wy).cast("double"), 6
        ).alias("mkt_share"),
    )


_TOP_SUPPLIER_ORACLE = """
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6)))
           AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
)
SELECT s_suppkey, s_name, ROUND(total_rev, 2)::DOUBLE AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
"""


@register(
    "top_revenue_supplier",
    oracle=_TOP_SUPPLIER_ORACLE,
    doc="TPC-H Q15 shape (view + scalar MAX subquery, ties preserved): "
    "supplier(s) achieving the maximum Q1-1996 revenue. The revenue "
    "'view' aggregates once; the max rides back as a broadcast 1-row "
    "aggregate and the equality test runs on the UNROUNDED exact decimal "
    "(rounding first could merge near-ties — Q15 keeps all true ties, "
    "and decimal equality is partitioning-independent where a double sum "
    "is not). The supplier dimension joins AFTER the max filter, so only "
    "the winning row(s) reach it; shipdate range pushes into the scan.",
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = l.groupBy("l_suppkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
                "decimal(27,6)"
            )
        ).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_rev", 2).cast("double").alias("total_revenue"),
        )
    )


_CHEAPEST_SUPPLIER_ORACLE = """
WITH pp AS (SELECT p_partkey, p_name FROM part WHERE p_size <= 5),
am AS (
  SELECT l_partkey,
         MIN({'up': l_extendedprice / l_quantity, 'sk': l_suppkey}) AS m
  FROM lineitem JOIN pp ON l_partkey = p_partkey
  GROUP BY 1
)
SELECT am.l_partkey AS p_partkey, pp.p_name,
       ROUND(CAST(m.up AS DECIMAL(27,8)), 4)::DOUBLE AS min_unit_price,
       m.sk AS s_suppkey, s_name
FROM am JOIN pp ON am.l_partkey = pp.p_partkey
JOIN supplier ON m.sk = s_suppkey
"""


@register(
    "cheapest_supplier_per_part",
    oracle=_CHEAPEST_SUPPLIER_ORACLE,
    doc="TPC-H Q2 shape (min-cost correlated subquery with tie rule): for "
    "each small part, the supplier observed at the minimum unit price. "
    "The correlated MIN + re-join collapses to ONE struct-min aggregate — "
    "MIN of a struct is lexicographic on both engines (CLAUDE.md argmin "
    "invariant), so (unit_price, suppkey) encodes value + deterministic "
    "tie-break in a single pass with no second argmax window and no "
    "re-join on the min value. unit_price is one IEEE division (exact "
    "cross-engine for ranking; dround only on display); the size filter "
    "pushes into the part scan and the supplier dim joins AFTER the "
    "argmin, seeing one row per part.",
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    pp = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 5)
        .select("p_partkey", "p_name")
    )
    l = load(spark, sf_dir, "lineitem")
    am = (
        l.join(pp, l.l_partkey == pp.p_partkey)
        .groupBy("l_partkey")
        .agg(
            F.min(
                F.struct(
                    (F.col("l_extendedprice") / F.col("l_quantity")).alias("up"),
                    F.col("l_suppkey").alias("sk"),
                )
            ).alias("m")
        )
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        am.join(pp, am.l_partkey == pp.p_partkey)
        .join(s, F.col("m.sk") == s.s_suppkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            dround(F.col("m.up"), 4).alias("min_unit_price"),
            F.col("m.sk").alias("s_suppkey"),
            "s_name",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q4/Q6/Q9/Q11/Q12/Q13/Q16/Q20 shapes (late round 8).  The driver
# schema lacks partsupp, l_shipmode and l_commitdate/l_receiptdate, so the
# shapes substitute the nearest available semantics (noted per query) while
# keeping the relational pattern — EXISTS semi-join, scalar-threshold
# concentration, nested aggregate share filters — intact.
# ---------------------------------------------------------------------------

_LATE_ORDERS_ORACLE = """
SELECT o_orderpriority, COUNT(*)::BIGINT AS n_late_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1999-07-01'
  AND o_orderdate <  TIMESTAMP '1999-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o.o_orderkey
                AND l_shipdate > o.o_orderdate + INTERVAL 45 DAY)
GROUP BY 1
ORDER BY 1
"""


@register(
    "priority_late_orders",
    oracle=_LATE_ORDERS_ORACLE,
    doc="TPC-H Q4 shape (EXISTS semi-join + priority rollup): orders placed "
    "in 1999Q3 with at least one lineitem shipped more than 45 days after "
    "the order date (the schema's stand-in for commitdate < receiptdate), "
    "counted per order priority. Spark expresses the EXISTS as a LEFT SEMI "
    "join — equi on orderkey with the lateness residual, so it plans as a "
    "hash semi-join (no distinct, no row blowup) and the quarter filter "
    "pushes into the orders scan; the correlated-EXISTS formulation "
    "survives as the oracle.",
)
def priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    ts = dict(o.dtypes)["o_orderdate"]
    o = o.filter(
        (F.col("o_orderdate") >= F.lit("1999-07-01").cast(ts))
        & (F.col("o_orderdate") < F.lit("1999-10-01").cast(ts))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 45 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_orders"))
        .orderBy("o_orderpriority")
    )


_FORECAST_ORACLE = f"""
SELECT {o_dsum('l_extendedprice * l_discount', 'revenue_delta')},
       COUNT(*)::BIGINT AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1999-01-01'
  AND l_shipdate <  TIMESTAMP '2000-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register(
    "forecast_revenue_delta",
    oracle=_FORECAST_ORACLE,
    doc="TPC-H Q6 shape (multi-predicate scan + global aggregate): revenue "
    "increase if 1999 discounts in the 5-7%% band on sub-24 quantities had "
    "been dropped. All three predicates are plain column comparisons that "
    "push into the parquet scan (no join at all); the per-row product is "
    "one IEEE multiply (deterministic cross-engine) and the sum runs "
    "through the decimal detour. The cheapest possible plan: scan -> "
    "filter -> partial agg -> single-row exchange.",
)
def forecast_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    ts = dict(li.dtypes)["l_shipdate"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1999-01-01").cast(ts))
            & (F.col("l_shipdate") < F.lit("2000-01-01").cast(ts))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue_delta"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_PROFIT_ORACLE = f"""
SELECT n_name, year(o_orderdate) AS o_year,
       {o_dsum('l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.6', 'sum_profit')}
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%gear%'
GROUP BY 1, 2
ORDER BY n_name, o_year DESC
"""


@register(
    "profit_by_nation_year",
    oracle=_PROFIT_ORACLE,
    doc="TPC-H Q9 shape (5-way join + expression aggregate over derived "
    "year): profit on 'gear' parts per supplier nation per order year, "
    "with 60%% of retail price times quantity as the cost stand-in for the "
    "missing ps_supplycost. The name filter prunes part BEFORE the fact "
    "join; nation is hint-broadcast (bounded 25 rows) while part/supplier/"
    "orders joins are left to size-based AQE (SF-scaled sides, CLAUDE.md "
    "broadcast invariant). The per-row profit is IEEE multiply/subtract "
    "in identical operator order on both engines; only the SUM goes "
    "through the decimal detour.",
)
def profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("gear"))
        .select("p_partkey", "p_retailprice")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.6)
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(dsum(profit, "sum_profit"))
        .orderBy("n_name", F.desc("o_year"))
    )


_CONCENTRATION_ORACLE = """
WITH v AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS val
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY 1
), t AS (
  SELECT SUM(val) AS tot, COUNT(*)::BIGINT AS np FROM v
)
SELECT l_partkey, ROUND(val, 2)::DOUBLE AS part_value
FROM v, t
WHERE val * np > tot * 2
"""


@register(
    "part_value_concentration",
    oracle=_CONCENTRATION_ORACLE,
    doc="TPC-H Q11 shape (grouped value vs a scalar-subquery threshold): "
    "parts whose NATION_3-supplied lineitem value exceeds TWICE the mean "
    "per-part value, with lineitem standing in for the missing partsupp. "
    "The global (total, count) is a 1-row aggregate broadcast back as a "
    "scalar (the idle_customer_balance pattern); the threshold compares "
    "val*np > tot*2 entirely in exact decimal/integer math — no division, "
    "no fraction literal — and, unlike Q11's fixed 1/10000, stays "
    "scale-stable (a fixed fraction of total empties as the part count "
    "grows; 2x-mean keeps ~1%% of parts at every SF: 14/127/1228 rows at "
    "sf0.001/0.01/0.1). Nation is hint-broadcast; supplier stays with AQE.",
)
def part_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = (
        load(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_3")
        .select("n_nationkey")
    )
    v = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(27,6)")).alias("val"))
    )
    t = v.agg(
        F.sum("val").alias("tot"), F.count(F.lit(1)).alias("np")
    )
    return (
        v.crossJoin(F.broadcast(t))
        .filter(F.col("val") * F.col("np") > F.col("tot") * 2)
        .select("l_partkey", F.round("val", 2).cast("double").alias("part_value"))
    )


_SHIP_MIX_ORACLE = """
SELECT l_linestatus,
       SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1999-01-01'
  AND l_shipdate <  TIMESTAMP '2000-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY 1
ORDER BY 1
"""


@register(
    "late_ship_priority_mix",
    oracle=_SHIP_MIX_ORACLE,
    doc="TPC-H Q12 shape (join + conditional counts): 1999 lineitems "
    "shipped more than 30 days after their order, split per line status "
    "(the schema's stand-in for l_shipmode) into high-priority vs "
    "low-priority order counts. The year filter pushes into the lineitem "
    "scan before the join; the lateness residual rides the equi-join; the "
    "two CASE sums are one map-side-combinable aggregate pass.",
)
def late_ship_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    ts = dict(li.dtypes)["l_shipdate"]
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast(ts))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast(ts))
    ).select("l_orderkey", "l_shipdate", "l_linestatus")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        )
        .groupBy("l_linestatus")
        .agg(
            cond_sum(hi, "high_line_count"),
            cond_sum(~hi, "low_line_count"),
        )
        .orderBy("l_linestatus")
    )


_ORDER_DIST_ORACLE = """
SELECT c_count, COUNT(*)::BIGINT AS custdist
FROM (
  SELECT c_custkey, COUNT(o_custkey)::BIGINT AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus <> 'P'
  GROUP BY 1
)
GROUP BY 1
ORDER BY custdist DESC, c_count DESC
"""


@register(
    "customer_order_distribution",
    oracle=_ORDER_DIST_ORACLE,
    doc="TPC-H Q13 shape (outer join + double aggregation): the histogram "
    "of per-customer order counts, excluding in-progress ('P') orders (the "
    "stand-in for the comment NOT LIKE filter), customers with no orders "
    "included at zero. Spark aggregates orders per customer FIRST and "
    "left-joins the counts to customer — the classic join-then-group "
    "formulation (kept as the oracle) shuffles every order row twice, "
    "this shape shuffles the pre-aggregated per-customer counts once. "
    "Both aggregations are map-side combinable; the second one's input "
    "is |customers| rows.",
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    oc = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") != "P")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c = load(spark, sf_dir, "customer").select("c_custkey")
    per_cust = c.join(oc, c.c_custkey == oc.o_custkey, "left").select(
        F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_VARIETY_ORACLE = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#13'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@register(
    "part_supplier_variety",
    oracle=_VARIETY_ORACLE,
    doc="TPC-H Q16 shape (distinct pairs + NOT IN exclusion + grouped "
    "count-distinct): how many distinct suppliers ship each (brand, type, "
    "size) combination, excluding one brand, restricted to 8 sizes, and "
    "excluding negative-balance suppliers (the stand-in for the complaint "
    "NOT IN). The part-supplier relation is the distinct (partkey, "
    "suppkey) projection of lineitem (partsupp is absent); the NOT IN is "
    "a LEFT ANTI join (the excluded set is a filtered SF-scaled table, so "
    "its broadcast is left to AQE per the CLAUDE.md invariant); the size "
    "and brand filters push into the part scan before the join.",
)
def part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    bad = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = (
        load(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#13")
            & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        ps.join(bad, ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


_TOP_SHARE_ORACLE = """
WITH pq AS (
  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS sq
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red %'
    AND l_shipdate >= TIMESTAMP '1999-01-01'
    AND l_shipdate <  TIMESTAMP '2000-01-01'
  GROUP BY 1, 2
), tot AS (
  SELECT l_partkey, SUM(sq) AS tq FROM pq GROUP BY 1
)
SELECT DISTINCT s_suppkey, s_name, n_name
FROM pq
JOIN tot USING (l_partkey)
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE sq * 5 > tq
ORDER BY s_suppkey
"""


@register(
    "top_share_suppliers",
    oracle=_TOP_SHARE_ORACLE,
    doc="TPC-H Q20 shape (nested aggregate share threshold + semi-join to "
    "the dimension): suppliers who shipped more than 20%% of any red "
    "part's total 1999 quantity (the stand-in for availqty > half of "
    "shipped), with their nation. Two aggregates over the same filtered "
    "fact — per (part, supplier) then per part — share the scan; the "
    "share test is integer cross-multiplication (quantities are "
    "integral), exact on both engines; the qualifying supplier set is "
    "distinct-bounded before the dimension joins and nation is "
    "hint-broadcast.",
)
def top_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    ts = dict(li.dtypes)["l_shipdate"]
    red = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("red "))
        .select("p_partkey")
    )
    pq = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1999-01-01").cast(ts))
            & (F.col("l_shipdate") < F.lit("2000-01-01").cast(ts))
        )
        .join(red, li.l_partkey == red.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sq"))
    )
    tot = pq.groupBy("l_partkey").agg(F.sum("sq").alias("tq"))
    winners = (
        pq.join(tot, "l_partkey")
        .filter(F.col("sq") * 5 > F.col("tq"))
        .select("l_suppkey")
        .distinct()
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        winners.join(s, winners.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )
