"""Analytic-surface queries rounding out the relational operator set:
PIVOT, CUBE, distribution window functions (ntile / percent_rank /
cume_dist), set operations (INTERSECT / EXCEPT), and fuzzy string matching
(levenshtein). Every query is oracle-gated.

Scale notes: the pivot passes its value list explicitly (no extra distinct
scan to discover columns, and the output schema is fixed up front — at
100 TB an implicit pivot is a full second pass over the fact table). The
distribution windows partition by priority, so no global single-partition
sort. The fuzzy join is a broadcast self-join over a dimension — levenshtein
is O(len^2) per pair and belongs on small sides only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.aggregates import dround, dsum, o_davg, o_dround, o_dsum
from ..operators.graphs import (
    HITS_SCALE,
    MIN_PAIR_COUNT,
    PR_DAMP_DEN,
    PR_DAMP_NUM,
    PR_SCALE,
)
from ..operators.parallelism import small_scan
from ..tables import load
from . import register

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_ORACLE = f"""
SELECT hour(ts)::BIGINT AS hour_of_day,
       {", ".join(f"SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)::BIGINT AS {t}"
                  for t in EVENT_TYPES)}
FROM events
GROUP BY 1
"""


@register(
    "events_pivot_by_type",
    oracle=_PIVOT_ORACLE,
    doc="PIVOT: hour-of-day × event-type count matrix. The value list is "
    "explicit, so Spark skips the distinct-discovery scan and the schema is "
    "static; absent combinations are 0, not null.",
)
def events_pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    pv = (
        ev.groupBy(F.hour("ts").cast("long").alias("hour_of_day"))
        .pivot("event_type", EVENT_TYPES)
        .count()
    )
    return pv.fillna(0, subset=EVENT_TYPES)


_CUBE_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       {o_dsum('o_totalprice', 'total')}
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@register(
    "orders_cube",
    oracle=_CUBE_ORACLE,
    doc="CUBE: all 2^2 grouping combinations of (status, priority) in one "
    "pass — completes the ROLLUP/GROUPING SETS family (orders_rollup, "
    "events_multi_rollup).",
)
def orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total")
    )


_NTILE_ORACLE = f"""
SELECT o_orderkey, o_orderpriority, o_totalprice,
       NTILE(4) OVER w AS quartile,
       {o_dround('PERCENT_RANK() OVER w', 6)} AS pct_rank,
       {o_dround('CUME_DIST() OVER w', 6)} AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


@register(
    "order_price_distribution",
    oracle=_NTILE_ORACLE,
    doc="Distribution window functions: per-priority price quartile "
    "(ntile), percent_rank, cume_dist. The orderkey tie-break makes the "
    "ordering total, so ranks are engine-independent. Scale caveat: a "
    "rank-per-ROW output genuinely requires each priority group to sort in "
    "one window partition — with 5 priority values that is ~n/5 rows per "
    "unsplittable task, the inherent cost of ntile/percent_rank semantics "
    "(aggregate-only quantiles go through quantiles.rank_values_pruned "
    "instead, as median_price_by_priority does).",
)
def order_price_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        dround(F.percent_rank().over(w), 6).alias("pct_rank"),
        dround(F.cume_dist().over(w), 6).alias("cume"),
    )


_SETOPS_ORACLE = """
WITH y96 AS (
  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
), y97 AS (
  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997
)
SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM y96 INTERSECT SELECT o_custkey FROM y97)
UNION ALL
SELECT 'only_1996' AS tag, o_custkey FROM (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y97)
"""


@register(
    "customer_year_setops",
    oracle=_SETOPS_ORACLE,
    doc="Set operations: customers ordering in both 1996 and 1997 "
    "(INTERSECT) vs only 1996 (EXCEPT), tagged and unioned.",
)
def customer_year_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")

    def year_keys(y: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == y)
            .select("o_custkey")
            .distinct()
        )

    y96, y97 = year_keys(1996), year_keys(1997)
    both = y96.intersect(y97).select(F.lit("both").alias("tag"), "o_custkey")
    only = y96.subtract(y97).select(F.lit("only_1996").alias("tag"), "o_custkey")
    return both.unionByName(only)


_TREND_ORACLE = """
WITH e AS MATERIALIZED (
  SELECT event_type,
         ((epoch_ms(ts) // 3600000)::BIGINT - 473000) AS xh0,
         CAST(value AS DECIMAL(16,6)) AS v
  FROM events
), s AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(xh0) AS DECIMAL(19,0)) AS sx0,
         CAST(SUM(v) AS DECIMAL(16,6)) AS sy,
         CAST(SUM(CAST(xh0 AS DECIMAL(8,0)) * v) AS DECIMAL(20,6)) AS sxy0,
         CAST(SUM(xh0 * xh0) AS DECIMAL(20,0)) AS sxx0
  FROM e
  GROUP BY event_type
), t AS (
  SELECT event_type, n, sy,
         CAST(CAST(n AS DECIMAL(12,0)) * sxy0 - sx0 * sy AS DECIMAL(22,6)) AS num,
         CAST(CAST(n AS DECIMAL(12,0)) * sxx0 - sx0 * sx0 AS DECIMAL(22,0)) AS den,
         CAST(sx0 + CAST(n AS DECIMAL(12,0)) * 473000 AS DECIMAL(16,0)) AS sx
  FROM s
), u AS (
  SELECT event_type, n, num, den,
         CAST(sy * den - num * sx AS DECIMAL(38,6)) AS inum,
         CAST(CAST(n AS DECIMAL(12,0)) * den AS DECIMAL(34,0)) AS iden
  FROM t
)
SELECT event_type, n,
       CASE WHEN den <> 0 THEN
         ROUND(CAST(num::DOUBLE / den::DOUBLE AS DECIMAL(27,8)), 6)::DOUBLE
       END AS slope,
       CASE WHEN den <> 0 THEN
         ROUND(CAST(inum::DOUBLE / iden::DOUBLE AS DECIMAL(27,8)), 6)::DOUBLE
       END AS intercept
FROM u
"""


@register(
    "event_value_trend",
    oracle=_TREND_ORACLE,
    doc="Per-group OLS trend (regr_slope/regr_intercept semantics) of event "
    "value against hour index, via the closed-form normal equations kept "
    "EXACT in pinned DECIMAL types through the cancellative numerator/"
    "denominator algebra (n·sxy−sx·sy is a ~6-digit cancellation that "
    "amplifies any ulp-level double divergence between engines ~1e6×; the "
    "x-origin shift keeps every intermediate within DECIMAL(38,6) bind "
    "limits on both Spark and DuckDB). Only the final division runs in "
    "double — one correctly-rounded IEEE op — then the midpoint-safe "
    "dround. Streaming-aggregable single pass, bit-identical at any "
    "partitioning (built-in covar/var accumulate doubles in partition "
    "order and cannot be oracle-gated exactly).",
)
def event_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    shift = 473000  # epoch-hour origin near the data; slope is shift-invariant

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_timestamp("ts").cast("long") / F.lit(3600)).cast("long").alias("xh"),
        "value",
    )
    e = ev.select(
        "event_type",
        (F.col("xh") - shift).alias("xh0"),
        F.col("value").cast("decimal(16,6)").alias("v"),
    )
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        # 19,0 (not 14,0): DuckDB multiplies int64-backed decimals (p<=18) in
        # int64 regardless of result precision; p>=19 forces int128 math.
        F.sum("xh0").cast("decimal(19,0)").alias("sx0"),
        F.sum("v").cast("decimal(16,6)").alias("sy"),
        F.sum(F.col("xh0").cast("decimal(8,0)") * F.col("v"))
        .cast("decimal(20,6)")
        .alias("sxy0"),
        F.sum(F.col("xh0") * F.col("xh0")).cast("decimal(20,0)").alias("sxx0"),
    )
    nd = F.col("n").cast("decimal(12,0)")
    t = s.select(
        "event_type",
        "n",
        "sy",
        (nd * F.col("sxy0") - F.col("sx0") * F.col("sy"))
        .cast("decimal(22,6)")
        .alias("num"),
        (nd * F.col("sxx0") - F.col("sx0") * F.col("sx0"))
        .cast("decimal(22,0)")
        .alias("den"),
        (F.col("sx0") + nd * F.lit(shift)).cast("decimal(16,0)").alias("sx"),
    )
    u = t.select(
        "event_type",
        "n",
        "num",
        "den",
        (F.col("sy") * F.col("den") - F.col("num") * F.col("sx"))
        .cast("decimal(38,6)")
        .alias("inum"),
        (F.col("n").cast("decimal(12,0)") * F.col("den"))
        .cast("decimal(34,0)")
        .alias("iden"),
    )
    nz = F.col("den") != 0
    return u.select(
        "event_type",
        "n",
        F.when(nz, dround(F.col("num").cast("double") / F.col("den").cast("double"), 6)).alias("slope"),
        F.when(nz, dround(F.col("inum").cast("double") / F.col("iden").cast("double"), 6)).alias("intercept"),
    )


_SCD2_ORACLE = """
WITH e AS MATERIALIZED (
  SELECT user_id, event_id, event_type, (epoch_ms(ts) // 1000)::BIGINT AS ts_s
  FROM events
), ch AS (
  SELECT *, LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev
  FROM e
)
SELECT user_id, event_type, ts_s AS valid_from,
       LEAD(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS valid_to
FROM ch
WHERE prev IS NULL OR prev <> event_type
"""


@register(
    "user_state_scd2",
    oracle=_SCD2_ORACLE,
    doc="SCD-2 dimension build: collapse each user's event stream into "
    "validity intervals of their current event_type (valid_from/valid_to, "
    "NULL = current). lag finds the change points, lead closes the "
    "intervals — both windows share the user partitioning, so the plan is "
    "ONE shuffle with two sorts.",
)
def user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_timestamp("ts").alias("ts_s")
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    changed = ev.withColumn("prev", F.lag("event_type").over(w)).filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    return changed.select(
        "user_id",
        "event_type",
        F.col("ts_s").alias("valid_from"),
        F.lead("ts_s").over(w).alias("valid_to"),
    )


_FUNNEL_ORACLE = """
WITH e AS MATERIALIZED (
  SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         (epoch_ms(ts) // 1000)::BIGINT AS ts_s
  FROM events
), w AS (
  SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts_s END)
              OVER (PARTITION BY user_id, d) AS first_view
  FROM e
)
SELECT d,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT CASE WHEN first_view IS NOT NULL THEN user_id END) AS n_viewers,
       COUNT(DISTINCT CASE WHEN event_type = 'purchase' AND ts_s >= first_view
                           THEN user_id END) AS n_converted
FROM w
GROUP BY d
"""


@register(
    "daily_conversion_funnel",
    oracle=_FUNNEL_ORACLE,
    doc="Event funnel: per day, users who viewed and users who purchased "
    "at-or-after their first view that day. One (user, day) analytic min "
    "+ one day-keyed distinct aggregation.",
)
def daily_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").cast("string").alias("d"),
        "event_type",
        F.unix_timestamp("ts").alias("ts_s"),
    )
    first_view = F.min(
        F.when(F.col("event_type") == "view", F.col("ts_s"))
    ).over(Window.partitionBy("user_id", "d"))
    env = ev.withColumn("first_view", first_view)
    return env.groupBy("d").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count_distinct(
            F.when(F.col("first_view").isNotNull(), F.col("user_id"))
        ).alias("n_viewers"),
        F.count_distinct(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts_s") >= F.col("first_view")),
                F.col("user_id"),
            )
        ).alias("n_converted"),
    )


_CDC_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, -1 AS seq, 'I' AS op FROM orders
), upd AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice, 1 AS seq, 'U' AS op
  FROM orders WHERE o_orderkey % 7 = 3
), del AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 2 AS seq, 'D' AS op
  FROM orders WHERE o_orderkey % 37 = 5
), merged AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
  FROM (SELECT * FROM base UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM del)
)
SELECT o_orderkey, o_orderstatus,
       ROUND(CAST(o_totalprice AS DECIMAL(27,8)), 2)::DOUBLE AS totalprice
FROM merged WHERE rn = 1 AND op <> 'D'
"""


@register(
    "orders_cdc_apply",
    oracle=_CDC_ORACLE,
    doc="CDC / MERGE INTO: fold an upsert+delete change stream into the "
    "orders snapshot with latest-wins semantics (operators/cdc.py). The "
    "change set is derived deterministically from orders itself (every 7th "
    "key re-priced +10%, every 37th deleted; overlaps exercise the "
    "sequence ordering). One merge-key shuffle, no driver involvement.",
)
def orders_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cdc import apply_changes

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    upd = orders.filter(F.col("o_orderkey") % 7 == 3).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
    )
    dele = orders.filter(F.col("o_orderkey") % 37 == 5).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
    )
    merged = apply_changes(orders, upd.unionByName(dele), ["o_orderkey"])
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        dround(F.col("o_totalprice"), 2).alias("totalprice"),
    )


_FUZZY_ORACLE = """
SELECT a.n_name AS name_a, b.n_name AS name_b,
       levenshtein(a.n_name, b.n_name)::BIGINT AS dist
FROM nation a JOIN nation b ON a.n_name < b.n_name
WHERE levenshtein(a.n_name, b.n_name) <= 1
"""


@register(
    "nation_name_fuzzy",
    oracle=_FUZZY_ORACLE,
    doc="Fuzzy string matching: near-identical nation-name pairs by "
    "levenshtein edit distance (classic DP, integer-exact in any engine). "
    "Broadcast self-join over the dimension — the O(len^2)-per-pair cost "
    "stays off the fact tables.",
)
def nation_name_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation").select("n_name")
    a = n.withColumnRenamed("n_name", "name_a")
    b = n.withColumnRenamed("n_name", "name_b")
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(F.broadcast(b), F.col("name_a") < F.col("name_b"))
        .filter(dist <= 1)
        .select("name_a", "name_b", dist.cast("long").alias("dist"))
    )


_TRAILING_ORACLE = """
WITH e AS MATERIALIZED (
  SELECT user_id, event_id, (epoch_ms(ts) // 1000)::BIGINT AS ts_s, value
  FROM events
)
SELECT user_id, event_id, ts_s,
       ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(27,6)))
                         OVER (PARTITION BY user_id ORDER BY ts_s
                               RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
                       AS DOUBLE) AS DECIMAL(27,8)), 2)::DOUBLE AS trailing_1h
FROM e
"""


@register(
    "events_trailing_hour_sum",
    oracle=_TRAILING_ORACLE,
    doc="RANGE-framed analytic window (vs the ROWS frame in "
    "user_rolling_stats): per event, the sum of the user's values in the "
    "trailing 3600 s of EVENT TIME — rows at equal offsets share frames, "
    "which a ROWS frame cannot express. Decimal window sum keeps it "
    "partitioning-independent.",
)
def events_trailing_hour_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import DEC

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("ts_s"), "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-3599, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts_s",
        dround(F.sum(F.col("value").cast(DEC)).over(w).cast("double"), 2).alias(
            "trailing_1h"
        ),
    )


_TYPE_SET_ORACLE = """
SELECT user_id,
       COUNT(DISTINCT event_type) AS n_types,
       array_to_string(list_sort(list_distinct(list(event_type))), ',') AS type_set
FROM events
GROUP BY user_id
"""


@register(
    "user_event_type_sets",
    oracle=_TYPE_SET_ORACLE,
    doc="Deterministic collect_list/array_agg: per-user distinct event "
    "types as a SORTED joined string — collect_set alone is "
    "partition-order-nondeterministic and could never hash-match; "
    "sort_array makes the aggregation order-free.",
)
def user_event_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count_distinct("event_type").alias("n_types"),
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("type_set"),
    )


_FULL_OUTER_ORACLE = """
WITH c AS (
  SELECT c_nationkey AS nk, COUNT(*) AS n_customers FROM customer GROUP BY 1
), s AS (
  SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1
)
SELECT COALESCE(c.nk, s.nk) AS nationkey,
       COALESCE(c.n_customers, 0) AS n_customers,
       COALESCE(s.n_suppliers, 0) AS n_suppliers
FROM c FULL OUTER JOIN s ON c.nk = s.nk
"""


@register(
    "nation_presence_full_outer",
    oracle=_FULL_OUTER_ORACLE,
    doc="FULL OUTER join (completes the join-type family: inner/left/semi/"
    "anti/interval/asof/stream-stream): nations present on either side of "
    "customer/supplier with zero-filled counts.",
)
def nation_presence_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        c.join(s, "nk", "full_outer")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


_ZSCORE_ORACLE = """
WITH e AS MATERIALIZED (
  SELECT event_type, (epoch_ms(ts) // 1000)::BIGINT AS ts_s, value FROM events
), w AS (
  SELECT event_type, value,
         COUNT(value) OVER fr AS n,
         CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER fr AS DOUBLE) AS s1,
         CAST(SUM(CAST(value * value AS DECIMAL(27,6))) OVER fr AS DOUBLE) AS s2
  FROM e
  WINDOW fr AS (PARTITION BY event_type ORDER BY ts_s
                RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       COUNT(*) AS n_events,
       SUM(CASE WHEN n >= 30 THEN 1 ELSE 0 END)::BIGINT AS n_evaluated,
       SUM(CASE WHEN n >= 30
                 AND (value - s1 / CAST(n AS DOUBLE)) * (value - s1 / CAST(n AS DOUBLE))
                     > 9.0 * ((s2 - s1 * s1 / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))
            THEN 1 ELSE 0 END)::BIGINT AS n_anomalies
FROM w GROUP BY event_type
"""


@register(
    "events_anomaly_zscore",
    oracle=_ZSCORE_ORACLE,
    doc="FLAT-WINDOW comparison variant (NOT the default — use "
    "events_anomaly_zscore_bucketed): trailing-window anomaly detection "
    "via one RANGE-framed window partitioned by the 5-value event_type "
    "content key — an unsplittable per-key sorted task that SCALE.md "
    "measured at 5.40x per data decade vs the bucketed decomposition's "
    "1.41x (and 2.4x slower absolute at sf1). Retained, oracle-green, as "
    "the cross-proof that the bucketed plan reproduces the textbook "
    "window's bytes (shared _ZSCORE_ORACLE; decimal-exact power sums, "
    "|z| > 3 on windows with >= 30 samples).",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import DEC

    ev = load(spark, sf_dir, "events").select(
        "event_type", F.unix_timestamp("ts").alias("ts_s"), "value"
    )
    fr = (
        Window.partitionBy("event_type")
        .orderBy("ts_s")
        .rangeBetween(-3599, Window.currentRow)
    )
    v = F.col("value")
    n = F.count("value").over(fr)
    s1 = F.sum(v.cast(DEC)).over(fr).cast("double")
    s2 = F.sum((v * v).cast(DEC)).over(fr).cast("double")
    nd = n.cast("double")
    mean = s1 / nd
    var = (s2 - s1 * s1 / nd) / (n - 1).cast("double")
    # the n>=30 gate must wrap the expression, not just the final filter:
    # ANSI mode makes the n=1 window's (n-1) divisor a runtime error, and
    # CaseWhen is the construct that short-circuits evaluation
    hit = F.when(n >= 30, (v - mean) * (v - mean) > 9.0 * var).otherwise(F.lit(False))
    flagged = ev.select("event_type", n.alias("_n"), hit.alias("_hit"))
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("_n") >= 30).cast("long")).alias("n_evaluated"),
        F.sum(((F.col("_n") >= 30) & F.col("_hit")).cast("long")).alias("n_anomalies"),
    )


@register(
    "events_anomaly_zscore_bucketed",
    oracle=_ZSCORE_ORACLE,
    doc="DEFAULT trailing-window anomaly detection (promoted r7; SCALE.md: "
    "1.41x per data decade vs the flat window's 5.40x, 2.4x faster "
    "absolute at sf1): both trailing power sums ride one bucketed "
    "decomposition (operators/windows.trailing_agg_bucketed with "
    "value_col=[value, v2]) instead of a flat RANGE window partitioned by "
    "the 5-value event_type content key. Decimal associativity makes the "
    "decomposition bit-exact, so the scale-safe plan — tail windows "
    "bounded by one bucket, middle over the per-bucket aggregate, head "
    "equi-join — reproduces the flat window's bytes, proven cross-engine "
    "by the SAME oracle the flat comparison variant keeps green.",
)
def events_anomaly_zscore_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import trailing_agg_bucketed

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.unix_timestamp("ts").alias("ts_s"),
        "value",
        (F.col("value") * F.col("value")).alias("v2"),
    )
    tr = trailing_agg_bucketed(
        ev,
        value_col=["value", "v2"],
    )
    v = F.col("value")
    # non-null value count, NOT trail_n (row count): the shared oracle and
    # the flat query use COUNT(value) OVER — identical while events.value
    # has no NULLs, divergent the day one appears
    n = F.col("trail_nn_value")
    s1 = F.col("trail_sum_value").cast("double")
    s2 = F.col("trail_sum_v2").cast("double")
    nd = n.cast("double")
    mean = s1 / nd
    var = (s2 - s1 * s1 / nd) / (n - 1).cast("double")
    # same ANSI guard as the flat query: CaseWhen short-circuits the n=1
    # divisor, a & conjunction does not
    hit = F.when(n >= 30, (v - mean) * (v - mean) > 9.0 * var).otherwise(F.lit(False))
    flagged = tr.select("event_type", n.alias("_n"), hit.alias("_hit"))
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("_n") >= 30).cast("long")).alias("n_evaluated"),
        F.sum(((F.col("_n") >= 30) & F.col("_hit")).cast("long")).alias("n_anomalies"),
    )


_HISTOGRAM_ORACLE = f"""
SELECT LEAST(FLOOR(o_totalprice / 50000.0), 11)::BIGINT AS bucket,
       COUNT(*) AS n_orders,
       {o_dsum('o_totalprice', 'total_price')}
FROM orders
GROUP BY 1
"""


@register(
    "order_price_histogram",
    oracle=_HISTOGRAM_ORACLE,
    doc="Fixed-width histogram: orders binned into 50k-wide price buckets "
    "(top bucket open-ended), with per-bucket counts and exact sums. Pure "
    "arithmetic binning — no window, no second scan for bounds — so it is "
    "one map-side-combined aggregation at any scale (vs the ntile "
    "distribution in order_price_distribution, which needs a per-partition "
    "sort).",
)
def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000.0), F.lit(11)).cast("long")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total_price"))
    )


_MEDIAN_ORACLE = """
WITH r AS (
  SELECT o_orderpriority, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
)
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       MAX(CASE WHEN rn = FLOOR((n + 1) / 2) THEN o_totalprice END) AS median_price,
       MAX(CASE WHEN rn = FLOOR((9 * n + 9) / 10) THEN o_totalprice END) AS p90_price
FROM r GROUP BY o_orderpriority
"""


@register(
    "median_price_by_priority",
    oracle=_MEDIAN_ORACLE,
    doc="EXACT distributed quantiles (percentile_disc semantics) without "
    "approx sketches: per priority, the value at integer rank floor((n+1)/2) "
    "(median) and floor((9n+9)/10) (p90). Rank positions are integer "
    "arithmetic — no 0.9*n float ceil, whose binary 0.9 can flip the index. "
    "Histogram-pruned (operators/quantiles.rank_values_pruned): 5 priority "
    "values would otherwise mean 5 unsplittable whole-group sort tasks at "
    "scale; instead splittable histogram aggs locate each rank's bucket and "
    "only that bucket's rows are ranked.",
)
def median_price_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import rank_values_pruned

    orders = load(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    out = rank_values_pruned(
        orders,
        "o_totalprice",
        "o_orderpriority",
        [("median_price", 1, 1, 2), ("p90_price", 9, 9, 10)],
        bucket_width=5000.0,
    )
    return out.select(
        "o_orderpriority",
        F.col("n_rows").alias("n_orders"),
        "median_price",
        "p90_price",
    )


_INTERARRIVAL_ORACLE = f"""
WITH g AS (
  SELECT event_type,
         (epoch_ms(ts) // 1000)::BIGINT
           - LAG((epoch_ms(ts) // 1000)::BIGINT)
               OVER (PARTITION BY event_type ORDER BY ts, event_id) AS gap_s
  FROM events
)
SELECT event_type,
       COUNT(gap_s) AS n_gaps,
       {o_davg('gap_s', 'avg_gap_s', 2)},
       MAX(gap_s)::BIGINT AS max_gap_s
FROM g WHERE gap_s IS NOT NULL
GROUP BY event_type
"""


@register(
    "event_interarrival_stats",
    oracle=_INTERARRIVAL_ORACLE,
    doc="Inter-arrival analysis (MTBF shape): per event type, count/mean/max "
    "of the gaps between consecutive events under a (ts, event_id) total "
    "order. One per-type sort window + one aggregation; decimal mean.",
)
def event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import davg

    ev = load(spark, sf_dir, "events").select(
        "event_type", "event_id", F.unix_timestamp("ts").alias("ts_s"), "ts"
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type", (F.col("ts_s") - F.lag("ts_s").over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    return g.groupBy("event_type").agg(
        F.count("gap_s").alias("n_gaps"),
        davg("gap_s", "avg_gap_s", 2),
        F.max("gap_s").alias("max_gap_s"),
    )


_REV_SHARE_ORACLE = f"""
WITH n AS (
  SELECT na.n_name,
         SUM(CAST(o.o_totalprice AS DECIMAL(27,6))) AS rev
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation na  ON c.c_nationkey = na.n_nationkey
  GROUP BY na.n_name
)
SELECT n_name,
       ROUND(rev, 2)::DOUBLE AS revenue,
       {o_dround('CAST(rev AS DOUBLE) * 100.0 / CAST(SUM(rev) OVER () AS DOUBLE)', 4)}
         AS revenue_share_pct
FROM n
"""


@register(
    "nation_revenue_share",
    oracle=_REV_SHARE_ORACLE,
    doc="Contribution analysis: each nation's share of global order revenue. "
    "The global total is an empty-frame window over the ALREADY-AGGREGATED "
    "nation rows (25 rows), not a second scan or driver collect; decimal "
    "sums make numerator and denominator partitioning-independent.",
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import DEC

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    per_nation = (
        # customer scales with SF: size-based broadcast (CBO/AQE decides)
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("_rev"))
    )
    total = F.sum("_rev").over(Window.partitionBy())
    return per_nation.select(
        "n_name",
        F.round("_rev", 2).cast("double").alias("revenue"),
        dround(
            F.col("_rev").cast("double") * 100.0 / total.cast("double"), 4
        ).alias("revenue_share_pct"),
    )


_RI_AUDIT_ORACLE = """
SELECT 'orders.o_custkey -> customer' AS fk, COUNT(*) AS n_orphans
FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'lineitem.l_orderkey -> orders', COUNT(*)
FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'customer.c_nationkey -> nation', COUNT(*)
FROM customer c WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
"""


@register(
    "referential_integrity_audit",
    oracle=_RI_AUDIT_ORACLE,
    doc="Ingest QA: orphan counts for three FK relations via LEFT ANTI joins "
    "(dimension side broadcast where small). The audit is a union of "
    "independent global counts — each branch is one scan + one anti join, "
    "no shuffle of the fact side beyond the join itself.",
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    l = load(spark, sf_dir, "lineitem")
    n = load(spark, sf_dir, "nation")

    def orphans(fact: DataFrame, dim: DataFrame, cond, label: str) -> DataFrame:
        return (
            # 'dim' here includes orders/customer (SF-scaled): size-based broadcast
            fact.join(dim, cond, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_orphans")
        )

    return (
        orphans(o, c, o.o_custkey == c.c_custkey, "orders.o_custkey -> customer")
        .unionByName(
            orphans(l, o, l.l_orderkey == o.o_orderkey, "lineitem.l_orderkey -> orders")
        )
        .unionByName(
            orphans(c, n, c.c_nationkey == n.n_nationkey, "customer.c_nationkey -> nation")
        )
    )


_CHISQ_ORACLE = f"""
WITH o AS (
  SELECT lang, source, COUNT(*)::DOUBLE AS obs FROM documents GROUP BY lang, source
), t AS (
  SELECT lang, source, obs,
         SUM(obs) OVER (PARTITION BY lang) AS row_total,
         SUM(obs) OVER (PARTITION BY source) AS col_total,
         SUM(obs) OVER () AS grand
  FROM o
)
SELECT lang, source,
       obs::BIGINT AS observed,
       {o_dround('row_total * col_total / grand', 4)} AS expected,
       {o_dround('(obs - row_total * col_total / grand) * (obs - row_total * col_total / grand)'
                 ' / (row_total * col_total / grand)', 6)} AS chi2_term
FROM t
"""


@register(
    "lang_source_chisq",
    oracle=_CHISQ_ORACLE,
    doc="Data-drift QA: chi-square contingency terms for lang x source "
    "independence — observed vs expected cell counts and per-cell "
    "contributions. Marginals come from windows over the ALREADY-AGGREGATED "
    "contingency cells (|langs| x |sources| rows), so the corpus is scanned "
    "and shuffled once; the arithmetic is pure IEEE mul/div (no p-value "
    "lookup, which would need incomplete-gamma transcendentals).",
)
def lang_source_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("double").alias("obs"))
    )
    row_total = F.sum("obs").over(Window.partitionBy("lang"))
    col_total = F.sum("obs").over(Window.partitionBy("source"))
    grand = F.sum("obs").over(Window.partitionBy())
    t = o.select("lang", "source", "obs",
                 row_total.alias("_r"), col_total.alias("_c"), grand.alias("_g"))
    exp = F.col("_r") * F.col("_c") / F.col("_g")
    return t.select(
        "lang",
        "source",
        F.col("obs").cast("long").alias("observed"),
        dround(exp, 4).alias("expected"),
        dround((F.col("obs") - exp) * (F.col("obs") - exp) / exp, 6).alias("chi2_term"),
    )


_WMEDIAN_ORACLE = """
WITH s AS (
  SELECT l_returnflag, l_extendedprice AS v,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag
                               ORDER BY l_extendedprice, l_orderkey, l_linenumber
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
  FROM lineitem
)
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       MIN(v) AS wmedian_price
FROM s WHERE cw >= tw / 2.0
GROUP BY l_returnflag
"""


@register(
    "weighted_median_price",
    oracle=_WMEDIAN_ORACLE,
    doc="Pandas GROUPED_AGG UDAF (the UDAF leg of the UDF/UDAF/UDTF "
    "surface): quantity-weighted median of line prices per return flag — "
    "one Arrow transfer per group, numpy sort+cumsum+searchsorted inside. "
    "Exact-arithmetic by construction (existing value selected by exact "
    "integer-weight comparisons), so the SQL window twin (first cumulative "
    "crossing of half the total) hash-matches. n_rows comes from the same "
    "window formulation on the Spark side to keep one code path per column.",
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udafs import weighted_median

    l = load(spark, sf_dir, "lineitem")
    med = l.groupBy("l_returnflag").agg(
        weighted_median("l_extendedprice", "l_quantity").alias("wmedian_price")
    )
    # n_rows must match the oracle's WHERE cw >= tw/2 row count — compute it
    # with the same window formulation, then join the (3-row) aggregates
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    counted = (
        l.select(
            "l_returnflag",
            F.sum("l_quantity").over(w_cum).alias("cw"),
            F.sum("l_quantity").over(w_all).alias("tw"),
        )
        .filter(F.col("cw") >= F.col("tw") / 2.0)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    return counted.join(med, "l_returnflag").select(
        "l_returnflag", "n_rows", "wmedian_price"
    )


_AFFINITY_ORACLE = f"""
WITH baskets AS (
  SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS items
  FROM lineitem GROUP BY l_orderkey
), n AS (
  SELECT COUNT(*)::BIGINT AS nb FROM baskets
), ic AS (
  SELECT p, COUNT(*)::BIGINT AS cnt
  FROM (SELECT unnest(items) AS p FROM baskets) GROUP BY p
), pc AS (
  SELECT p1, p2, COUNT(*)::BIGINT AS pair_cnt
  FROM (
    SELECT a.p AS p1, b.p AS p2
    FROM (SELECT l_orderkey, unnest(items) AS p FROM baskets) a
    JOIN (SELECT l_orderkey, unnest(items) AS p FROM baskets) b
      ON a.l_orderkey = b.l_orderkey AND a.p < b.p
  ) GROUP BY 1, 2
  HAVING COUNT(*) >= 3
)
SELECT pc.p1, pc.p2, pc.pair_cnt,
       ia.cnt AS cnt_p1, ib.cnt AS cnt_p2,
       {o_dround('CAST(pc.pair_cnt AS DOUBLE) / CAST(n.nb AS DOUBLE)', 6)} AS support,
       {o_dround('CAST(pc.pair_cnt AS DOUBLE) / CAST(ia.cnt AS DOUBLE)', 6)} AS confidence,
       {o_dround('(CAST(n.nb AS DOUBLE) * pc.pair_cnt)'
                 ' / (CAST(ia.cnt AS DOUBLE) * ib.cnt)', 6)} AS lift
FROM pc
JOIN ic ia ON pc.p1 = ia.p
JOIN ic ib ON pc.p2 = ib.p
CROSS JOIN n
ORDER BY lift DESC, pc.pair_cnt DESC, pc.p1, pc.p2
LIMIT 25
"""


@register(
    "part_affinity_rules",
    oracle=_AFFINITY_ORACLE,
    doc="Market-basket association rules (Agrawal & Srikant 1994): top-25 "
    "part pairs by lift with support/confidence, over per-order distinct-"
    "part baskets (operators/affinity.association_rules). Pairs are "
    "enumerated IN-ROW from each basket's sorted array (baskets are "
    "bounded), never via a basket self-join — one groupBy shuffle builds "
    "baskets, which are localCheckpointed and fanned out to pair counts, "
    "item counts and the basket total. All three metrics are shared-"
    "association IEEE double expressions through the decimal-detour "
    "rounding; total-order tie-break + limit plans as "
    "TakeOrderedAndProject.",
)
def part_affinity_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.affinity import association_rules

    return association_rules(load(spark, sf_dir, "lineitem"))


_COPURCHASE_PR_ITERS = 3  # copurchase_pagerank and its oracle replay the same count


def _pagerank_oracle() -> str:
    """Step-unrolled integer PageRank: every CTE repeats the engine's exact
    long arithmetic ((pr * dn) // (dd * deg), floor division of positives)."""
    iters, scale, dn, dd = _COPURCHASE_PR_ITERS, PR_SCALE, PR_DAMP_NUM, PR_DAMP_DEN
    base = scale * (dd - dn) // dd
    ctes = [
        f"""edges AS (
  SELECT DISTINCT 'c' || o_custkey AS u, 's' || l_suppkey AS v
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), bi AS (
  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
), deg AS (
  SELECT u, COUNT(*)::BIGINT AS deg FROM bi GROUP BY u
), r0 AS (
  SELECT u AS node, {scale}::BIGINT AS pr FROM deg
)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT b.v AS node,
         ({base} + SUM((r.pr * {dn}) // ({dd} * d.deg)))::BIGINT AS pr
  FROM bi b JOIN r{i - 1} r ON b.u = r.node JOIN deg d ON b.u = d.u
  GROUP BY b.v
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, pr FROM r{iters} ORDER BY pr DESC, node LIMIT 20"
    )


@register(
    "copurchase_pagerank",
    oracle=_pagerank_oracle(),
    doc="Integer-exact PageRank (Page et al. 1999; operators/graphs."
    "pagerank_integer) over the undirected customer—supplier trading "
    "graph: 3 power iterations with damping 17/20 in scaled-long floor "
    "division — bit-identical to the step-unrolled SQL oracle, no float "
    "drift across iterations. Each iteration is one shuffle join + one "
    "aggregation with localCheckpointed lineage (the k-means/BPE loop "
    "discipline); top-20 by (pr, node) total order plans as "
    "TakeOrderedAndProject.",
)
def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graphs import copurchase_edges, pagerank_integer

    edges = copurchase_edges(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem")
    )
    # iterate on packed longs; decode to the oracle's labels at the end.
    # The label order ('c…' < 's…' lexicographically) matches the oracle's
    # ORDER BY node, so ordering on the decoded column is safe.
    # shiftright, not (c/2).cast: the long->double detour rounds past 2^53
    # (CLAUDE.md argmin-decode invariant); shift stays exact at any key
    c = F.col("node")
    label = F.when(c % 2 == 0, F.concat(F.lit("c"), F.shiftright(c, 1))).otherwise(
        F.concat(F.lit("s"), F.shiftright(c, 1))
    )
    return (
        pagerank_integer(edges, iters=_COPURCHASE_PR_ITERS)
        .select(label.alias("node"), "pr")
        .orderBy(F.col("pr").desc(), "node")
        .limit(20)
    )


_TRIANGLE_ORACLE = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), pairs AS (
  SELECT a.p AS u, b.p AS v
  FROM baskets a JOIN baskets b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_PAIR_COUNT}
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM pairs e1
  JOIN pairs e2 ON e1.v = e2.u
  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT node, COUNT(*)::BIGINT AS triangles
FROM (SELECT unnest([a, b, c]) AS node FROM tri)
GROUP BY node
ORDER BY triangles DESC, node
LIMIT 15
"""


@register(
    "part_copurchase_triangles",
    oracle=_TRIANGLE_ORACLE,
    doc="Degree-oriented triangle counting (Schank 2007 / Suri & "
    "Vassilvitskii 2011; operators/graphs.triangle_counts) on the part "
    "co-purchase graph (parts sharing >= 2 order baskets; in-row pair "
    "enumeration, no basket self-join): edges oriented low->high "
    "(degree, id) bound every out-neighborhood by O(sqrt(m)), so the "
    "wedge self-join never concentrates on a hub part; SHUFFLE_HASH on "
    "all three sides. The oracle counts the same triangles from the "
    "sorted-id formulation — orientation-invariance is the correctness "
    "check. Top-15 nodes by triangle participation.",
)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graphs import part_pair_edges, triangle_counts

    return triangle_counts(
        part_pair_edges(load(spark, sf_dir, "lineitem")), top_k=15
    )


_LINKAGE_ORACLE = """
WITH vocab AS (
  SELECT p_name AS name, COUNT(*)::BIGINT AS n_rows
  FROM part GROUP BY p_name
), t AS (
  SELECT name, n_rows, string_split(name, ' ')[-1] AS block FROM vocab
)
SELECT a.name AS name_a, b.name AS name_b,
       levenshtein(a.name, b.name)::INTEGER AS dist,
       a.n_rows AS n_rows_a, b.n_rows AS n_rows_b
FROM t a JOIN t b ON a.block = b.block AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 2
"""


@register(
    "part_name_linkage",
    oracle=_LINKAGE_ORACLE,
    doc="Entity resolution at fact scale (Fellegi-Sunter blocking shape; "
    "operators/linkage.blocked_name_linkage): near-duplicate part-name "
    "spellings within edit distance 2, candidates blocked by the head "
    "noun. The quadratic levenshtein verify runs on the DISTINCT value "
    "vocabulary (with row counts carried for merge decisions), never per "
    "fact row — |vocab|²-per-block work regardless of corpus row count, "
    "with an over-sized-block cap for skewed vocabularies. Complements "
    "nation_name_fuzzy (dimension-scale broadcast) with the fact-scale "
    "shuffle-hash formulation.",
)
def part_name_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import blocked_name_linkage

    return blocked_name_linkage(load(spark, sf_dir, "part"))


_TRIPLES_ORACLE = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), n AS (
  SELECT COUNT(DISTINCT o)::BIGINT AS nb FROM baskets
), tc AS (
  SELECT a.p AS p1, b.p AS p2, c.p AS p3, COUNT(*)::BIGINT AS triple_cnt
  FROM baskets a
  JOIN baskets b ON a.o = b.o AND a.p < b.p
  JOIN baskets c ON b.o = c.o AND b.p < c.p
  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
)
SELECT p1, p2, p3, triple_cnt,
       {o_dround('CAST(triple_cnt AS DOUBLE) / CAST(n.nb AS DOUBLE)', 6)}
         AS support
FROM tc CROSS JOIN n
ORDER BY triple_cnt DESC, p1, p2, p3
LIMIT 25
"""


@register(
    "part_affinity_triples",
    oracle=_TRIPLES_ORACLE,
    doc="Apriori level-3 itemsets (operators/affinity.association_triples): "
    "top-25 part triples by basket co-occurrence with support, enumerated "
    "IN-ROW from sorted bounded baskets (cubic in basket size, never a "
    "3-way basket self-join — the oracle IS that 3-way join, proving "
    "equivalence). Completes the market-basket family with "
    "part_affinity_rules' pair metrics.",
)
def part_affinity_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.affinity import association_triples

    # min_count=2: triples are rare at driver SFs (0 rows at >=3); the
    # cap keeps the result non-trivial while the limit bounds it
    return association_triples(load(spark, sf_dir, "lineitem"), min_count=2)


# ---------------------------------------------------------------------------
# 2D Pareto frontier (skyline) — distributed prune-and-merge
# ---------------------------------------------------------------------------

_PARETO_ORACLE = """
SELECT o_orderkey, o_totalprice, o_orderdate
FROM orders p
WHERE NOT EXISTS (
  SELECT 1 FROM orders q
  WHERE q.o_totalprice >= p.o_totalprice AND q.o_orderdate >= p.o_orderdate
    AND (q.o_totalprice > p.o_totalprice OR q.o_orderdate > p.o_orderdate))
"""


@register(
    "pareto_orders",
    oracle=_PARETO_ORACLE,
    doc="2D skyline (Pareto frontier, Borzsony et al. 2001 semantics): "
    "orders not strictly dominated on (totalprice, orderdate), both "
    "maximized; exact duplicates all survive. Distributed prune-and-merge: "
    "phase 1 keeps each hash-bucket's local skyline via one cumulative-max "
    "window (bucket keys are uniform synthetic hashes, never content — no "
    "hot-key straggler; any globally dominated row is dominated by a "
    "transitive chain ending in a bucket survivor, so the prune is "
    "lossless); phase 2 resolves the ~k*ln(n/k) candidates exactly with a "
    "per-price group max + a window over the candidates' DISTINCT prices "
    "(E[skyline size] of random 2D data is H_n ~ ln n, so the final window "
    "input is logarithmic, the documented top-k-style bound). The oracle "
    "is the quadratic NOT EXISTS self-join, proving the algebraic rewrite.",
)
def pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skyline import pareto_max_2d

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    return pareto_max_2d(o, "o_totalprice", "o_orderdate", "o_orderkey").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) — duration-weighted event values
# ---------------------------------------------------------------------------

_TWAP_ORACLE = f"""
WITH g AS (
  SELECT event_type, value,
         LEAD((epoch_ms(ts) // 1000)::BIGINT)
           OVER (PARTITION BY event_type ORDER BY ts, event_id)
           - (epoch_ms(ts) // 1000)::BIGINT AS gap_s
  FROM events
)
SELECT event_type, COUNT(*)::BIGINT AS n_segments,
       SUM(gap_s)::BIGINT AS total_s,
       {o_dround('SUM(CAST(value AS DECIMAL(27,6)) * gap_s)::DOUBLE / SUM(gap_s)', 4)}
         AS twap
FROM g WHERE gap_s IS NOT NULL
GROUP BY 1
"""


@register(
    "event_value_twap",
    oracle=_TWAP_ORACLE,
    doc="Time-weighted average value per event type (the TWAP/TWA "
    "operator: each observation holds until the next one, so its weight "
    "is the duration of its segment; the last observation carries no "
    "weight). The segment lengths come from windows.lead_ts_bucketed — a "
    "flat lead() would sort each event type's ENTIRE history in one task "
    "(5 types = 5-way maximum parallelism at any cluster size, the class "
    "the bucketed z-score retired); the decomposition bounds every window "
    "partition by one time bucket's occupancy and resolves boundaries "
    "over the tiny per-bucket aggregate, EXACTLY — the oracle stays the "
    "flat window, proving it. The weighted sum is exact — decimal value "
    "x integer seconds — with the single division done once in double at "
    "the end (cancellation-free, CLAUDE.md float-parity discipline). "
    "Tie-broken total order (ts_s, ts, event_id) == the oracle's (ts, "
    "event_id) since the second-truncation is monotone — same-second gap "
    "attribution depends on it.",
)
def event_value_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import lead_ts_bucketed

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "value",
        F.unix_timestamp("ts").alias("ts_s"),
        "ts",
    )
    g = (
        lead_ts_bucketed(ev, "event_type", ["ts", "event_id"])
        .withColumn("gap_s", F.col("_next_ts") - F.col("ts_s"))
        .filter(F.col("gap_s").isNotNull())
    )
    num = F.sum(F.col("value").cast("decimal(27,6)") * F.col("gap_s"))
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("gap_s").alias("total_s"),
        dround(num.cast("double") / F.sum("gap_s"), 4).alias("twap"),
    )


# ---------------------------------------------------------------------------
# Robust outliers: median / MAD (both histogram-pruned, never a group sort)
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH r AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
), med AS (
  SELECT event_type, MAX(CASE WHEN rn = FLOOR((n+1)/2) THEN value END) AS med
  FROM r GROUP BY 1
), d AS (
  SELECT e.event_type, ABS(e.value - m.med) AS dev, m.med
  FROM events e JOIN med m USING (event_type)
), r2 AS (
  SELECT event_type, dev,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM d
), mad AS (
  SELECT event_type, MAX(CASE WHEN rn = FLOOR((n+1)/2) THEN dev END) AS mad
  FROM r2 GROUP BY 1
)
SELECT d.event_type, COUNT(*)::BIGINT AS n_events,
       MAX(d.med) AS median_value,
       MAX(mad.mad) AS mad,
       SUM(CASE WHEN d.dev > 3 * mad.mad THEN 1 ELSE 0 END)::BIGINT
         AS n_outliers
FROM d JOIN mad USING (event_type)
GROUP BY 1
"""


@register(
    "events_robust_outliers",
    oracle=_MAD_ORACLE,
    doc="Robust outlier detection per event type: median / MAD (median "
    "absolute deviation) instead of mean / stddev — the classic "
    "Hampel-style robust z-score, immune to the outliers it is hunting. "
    "Both medians are percentile_disc at integer rank floor((n+1)/2), "
    "computed via histogram pruning (quantiles.rank_values_pruned — a "
    "per-type whole-group sort would be 5 unsplittable tasks at scale; "
    "CLAUDE.md aggregate-valued-quantile invariant); the 5-row median and "
    "MAD tables broadcast back (bounded aggregates — hint allowed). "
    "Float parity: |x-m| and 3*MAD are each ONE correctly-rounded IEEE "
    "op, so the outlier threshold test is engine-exact; the oracle's "
    "quadratic-free twin is the rank-window formulation, proving the "
    "pruned decomposition.",
)
def events_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import rank_values_pruned

    ev = load(spark, sf_dir, "events").select("event_type", "value")
    # narrow buckets keep the resolve-stage windows small: values
    # concentrate near the median (heavy right tail), so a wide bucket
    # would put ~20% of each type's rows into the one resolved bucket
    med = rank_values_pruned(
        ev, "value", "event_type", [("med", 1, 1, 2)], bucket_width=5.0
    ).select("event_type", "med")
    d = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("dev")
    )
    mad = rank_values_pruned(
        d, "dev", "event_type", [("mad", 1, 1, 2)], bucket_width=2.0
    ).select("event_type", "mad")
    return (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("med").alias("median_value"),
            F.max("mad").alias("mad"),
            F.sum(
                F.when(F.col("dev") > F.lit(3.0) * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


_KCORE_K, _KCORE_ROUNDS = 4, 4  # part_copurchase_kcore and its oracle peel alike


def _kcore_oracle() -> str:
    """Round-unrolled k-core peel over the part co-purchase graph — every
    CTE repeats the engine's exact integer degree counting (the
    _pagerank_oracle discipline). The pair CTE is the quadratic basket
    self-join the Spark side replaces with in-row enumeration
    (operators/affinity), doubling as that rewrite's cross-proof."""
    k, rounds = _KCORE_K, _KCORE_ROUNDS
    ctes = [
        f"""pairs AS (
  SELECT a.l_orderkey, a.l_partkey AS p1, b.l_partkey AS p2
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), edges AS (
  SELECT p1 AS u, p2 AS v FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_PAIR_COUNT}
), bi AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
n0 AS (SELECT DISTINCT u AS node FROM bi)"""
    ]
    prev_e, prev_n = "bi", "n0"
    for i in range(1, rounds + 1):
        ctes.append(
            f"""e{i} AS (
  SELECT b.u, b.v FROM {prev_e} b
  WHERE b.u IN (SELECT node FROM {prev_n})
    AND b.v IN (SELECT node FROM {prev_n})
), n{i} AS (
  SELECT u AS node FROM e{i} GROUP BY u HAVING COUNT(*) >= {k}
)"""
        )
        prev_e, prev_n = f"e{i}", f"n{i}"
    sel = ", ".join(
        f"(SELECT COUNT(*) FROM n{i})::BIGINT AS nodes_r{i}"
        for i in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT (SELECT COUNT(*) FROM n0)::BIGINT AS n_nodes_total, {sel},
       (SELECT COUNT(*) FROM e{rounds}
        WHERE u IN (SELECT node FROM n{rounds})
          AND v IN (SELECT node FROM n{rounds}))::BIGINT AS core_arcs
"""
    )


@register(
    "part_copurchase_kcore",
    oracle=_kcore_oracle(),
    doc="k-core peeling (Seidman 1983; Batagelj-Zaversnik run as 4 "
    "synchronous distributed rounds) on the part co-purchase graph: each "
    "round keeps nodes with induced degree >= 4 (graphs.kcore_peel_counts "
    "— two semi-joins + one degree aggregate per round, integer-only, so "
    "the round-unrolled SQL oracle is bit-exact; survivor tables "
    "localCheckpointed for their count+join fan-out, semi-joins left "
    "size-based for AQE). At sf0.01 the peel is non-trivial "
    "(1880 -> 865 -> 505 -> 245 -> 74 nodes); at sf0.001 the sparser "
    "catalog makes the graph complete enough that nothing peels — "
    "degenerate but still oracle-exact (the part_affinity_triples "
    "SF-sensitivity precedent).",
)
def part_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graphs import kcore_peel_counts, part_pair_edges

    edges = part_pair_edges(load(spark, sf_dir, "lineitem"))
    return kcore_peel_counts(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)


_EWMA_ORACLE = """
WITH r AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id,
       COUNT(*)::BIGINT AS n_recent,
       SUM(CAST(value AS DECIMAL(19,2)) * (1::BIGINT << (8 - rn)))::DOUBLE
         / SUM(1::BIGINT << (8 - rn))::DOUBLE AS ewma_last
FROM r
WHERE rn <= 8
GROUP BY 1
"""


@register(
    "user_value_ewma",
    oracle=_EWMA_ORACLE,
    doc="Exponential smoothing (EWMA, alpha = 1/2) of each user's event "
    "values, truncated at 8 lags — the dyadic decay makes every weight a "
    "power of two, so the weighted sum is EXACT decimal x integer "
    "arithmetic (weights 128..1; mass below 2^-8 ignored) and the one "
    "float op is the final num/den division: engine-exact with zero "
    "libm (the CLAUDE.md no-transcendentals rule is why alpha is dyadic "
    "rather than the textbook 0.9). The 8-lag truncation turns the "
    "unbounded recursive EWMA into a bounded per-user rank + aggregate "
    "(user_id is an entity key, so the row_number window is "
    "occupancy-bounded, not a content-key straggler); ordering is the "
    "tie-broken (ts DESC, event_id DESC) total order.",
)
def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    recent = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 8)
    weight = F.expr("shiftleft(CAST(1 AS BIGINT), 8 - rn)")
    num = F.sum(F.col("value").cast("decimal(19,2)") * weight).cast("double")
    den = F.sum(weight).cast("double")
    return recent.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_recent"),
        (num / den).alias("ewma_last"),
    )


_WINSOR_ORACLE = f"""
WITH r AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
), q AS (
  SELECT event_type,
         MAX(CASE WHEN rn = (n + 19) // 20 THEN value END) AS p05,
         MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN value END) AS p95
  FROM r GROUP BY 1
), c AS (
  SELECT e.event_type, e.value, q.p05, q.p95,
         CASE WHEN e.value < q.p05 THEN q.p05
              WHEN e.value > q.p95 THEN q.p95
              ELSE e.value END AS wv
  FROM events e JOIN q USING (event_type)
)
SELECT event_type,
       COUNT(*)::BIGINT AS n_events,
       MAX(p05) AS p05,
       MAX(p95) AS p95,
       SUM(CASE WHEN value < p05 THEN 1 ELSE 0 END)::BIGINT AS n_clamped_low,
       SUM(CASE WHEN value > p95 THEN 1 ELSE 0 END)::BIGINT AS n_clamped_high,
       {o_davg('value', 'mean_value', 6)},
       {o_davg('wv', 'winsorized_mean', 6)}
FROM c
GROUP BY 1
"""


@register(
    "winsorized_value_stats",
    oracle=_WINSOR_ORACLE,
    doc="Winsorized mean per event type (clamp to the exact p05/p95 rank "
    "values, then average) — the robust-statistics sibling of "
    "events_robust_outliers' median/MAD. Both percentiles are "
    "percentile_disc at integer ranks ceil(n/20) / ceil(19n/20), located "
    "via quantiles.rank_values_pruned (histogram pruning; the rank-window "
    "formulation survives only as the oracle — CLAUDE.md aggregate-valued "
    "quantile invariant), broadcast back as a 5-row bound; the clamp is a "
    "CASE on exact data values and both means go through the decimal "
    "detour (davg), so every column is engine-exact.",
)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import davg
    from ..operators.quantiles import rank_values_pruned

    ev = load(spark, sf_dir, "events").select("event_type", "value")
    q = rank_values_pruned(
        ev,
        "value",
        "event_type",
        [("p05", 1, 19, 20), ("p95", 19, 19, 20)],
        bucket_width=5.0,
    ).select("event_type", "p05", "p95")
    c = ev.join(F.broadcast(q), "event_type")
    wv = (
        F.when(F.col("value") < F.col("p05"), F.col("p05"))
        .when(F.col("value") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("value"))
    )
    return (
        c.withColumn("wv", wv)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("p05").alias("p05"),
            F.max("p95").alias("p95"),
            F.sum(F.when(F.col("value") < F.col("p05"), 1).otherwise(0))
            .cast("long")
            .alias("n_clamped_low"),
            F.sum(F.when(F.col("value") > F.col("p95"), 1).otherwise(0))
            .cast("long")
            .alias("n_clamped_high"),
            davg("value", "mean_value", 6),
            davg("wv", "winsorized_mean", 6),
        )
    )


_THEILSEN_K = 64
_THEILSEN_ORACLE = f"""
WITH pts AS (
  SELECT user_id,
         (epoch_ms(ts) // 1000)::BIGINT AS t,
         value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY (epoch_ms(ts) // 1000)::BIGINT, event_id)
           AS rn
  FROM events
), lim AS (
  SELECT * FROM pts WHERE rn <= {_THEILSEN_K}
), base AS (
  SELECT user_id, COUNT(*)::BIGINT AS n_points FROM lim GROUP BY 1
), sl AS (
  SELECT a.user_id, (b.value - a.value) / (b.t - a.t) AS slope
  FROM lim a JOIN lim b
    ON a.user_id = b.user_id AND a.rn < b.rn AND b.t <> a.t
), ag AS (
  SELECT user_id, list(slope ORDER BY slope) AS ss FROM sl GROUP BY 1
)
SELECT base.user_id,
       base.n_points,
       COALESCE(len(ag.ss), 0)::BIGINT AS n_slopes,
       CASE WHEN ag.ss IS NULL THEN NULL
            WHEN len(ag.ss) % 2 = 1 THEN ss[len(ss) // 2 + 1] * 3600.0
            ELSE (ss[len(ss) // 2] + ss[len(ss) // 2 + 1]) / 2 * 3600.0
       END AS slope_per_hour
FROM base LEFT JOIN ag USING (user_id)
"""


@register(
    "user_value_theilsen",
    oracle=_THEILSEN_ORACLE,
    doc="Theil-Sen robust trend (Theil 1950 / Sen 1968): per user, the "
    "median of all pairwise slopes over the first 64 events — the "
    "breakdown-point-0.29 alternative to OLS that one outlier cannot "
    "drag. Points are the tie-broken (epoch-second, event_id) order; "
    "pairs are enumerated IN-ROW over the bounded sorted array (the "
    "affinity combination pattern — never a per-key self-join at scale; "
    "the SQL oracle keeps the self-join formulation, proving "
    "equivalence), same-second pairs are excluded BEFORE the division "
    "(ANSI CaseWhen discipline: the filter precedes the divide inside "
    "the HOF chain), and the median is explicit element picks on the "
    "sorted array — (s[m]+s[m+1])/2 for even counts in BOTH engines, "
    "never an engine median() whose interpolation may associate "
    "differently. Every op is IEEE + - / on identical operands, so "
    "doubles match bit-for-bit with zero libm. The 64-point cap bounds "
    "the in-row quadratic at 2016 slopes per user forever (the "
    "SemDeDup occupancy lesson: per-entity work must not grow with the "
    "corpus); slope re-derivation by the median's element_at "
    "references re-evaluates the bounded fold ~4x, measured trivial "
    "next to a shuffle.",
)
def user_value_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _THEILSEN_K
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").alias("t"),
        "event_id",
        "value",
    )
    # bound BEFORE collecting: an entity-keyed row_number window (the
    # CLAUDE.md-sanctioned kind) keeps each user's first k points, so the
    # aggregation buffer holds <= k structs per user instead of the user's
    # whole history (a straggler/OOM at corpus scale); sort_array then
    # fixes the in-array order of the bounded set
    from pyspark.sql.window import Window

    w_first = Window.partitionBy("user_id").orderBy("t", "event_id")
    pts = (
        ev.withColumn("rn", F.row_number().over(w_first))
        .where(F.col("rn") <= k)
        .groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("t", "event_id", "value"))
            ).alias("pts")
        )
    )
    slopes = (
        "array_sort(transform("
        "  filter("
        "    flatten(transform(pts, (p, i) ->"
        "      transform(slice(pts, i + 2, {k}), q ->"
        "        struct(p.t AS t1, p.value AS v1, q.t AS t2, q.value AS v2)))),"
        "    pr -> pr.t2 != pr.t1),"
        "  pr -> (pr.v2 - pr.v1) / CAST(pr.t2 - pr.t1 AS DOUBLE)))"
    ).format(k=k)
    # small-file guard, downstream of the aggregation: at sf0.1 AQE
    # coalesces the ~2 MB groupBy shuffle to ONE partition, serializing the
    # 2016-slope-per-user folds below onto one core (r16 profile: 2.8 s in
    # one task). Hash-repartition only in the small-scan regime — at corpus
    # scale the shuffle is large, AQE keeps many partitions, and the extra
    # exchange would be pure cost. The probe is scan-rooted (no exchanges
    # below ev), so .rdd is a plan conversion, not a job.
    if small_scan(ev):
        pts = pts.repartition(
            spark.sparkContext.defaultParallelism, "user_id"
        )
    # explode(array(ss)) is the one CollapseProject boundary (Generate):
    # the median's size/element_at references below otherwise inline the
    # whole pairwise-slope fold ~6x per row (the shingle_hash_stream trap;
    # the doc note claiming ~4x re-evaluation was "trivial next to a
    # shuffle" under-counted — it was most of the query's 2.8 s CPU)
    out = pts.select(
        "user_id",
        F.size("pts").cast("long").alias("n_points"),
        F.explode(F.array(F.expr(slopes))).alias("ss"),
    )
    med = F.expr(
        "CASE WHEN size(ss) = 0 THEN CAST(NULL AS DOUBLE)"
        "     WHEN size(ss) % 2 = 1 THEN"
        "       element_at(ss, CAST(size(ss) div 2 + 1 AS INT))"
        "     ELSE (element_at(ss, CAST(size(ss) div 2 AS INT))"
        "           + element_at(ss, CAST(size(ss) div 2 + 1 AS INT))) / 2 END"
    )
    return out.select(
        "user_id",
        "n_points",
        F.size("ss").cast("long").alias("n_slopes"),
        (med * F.lit(3600.0)).alias("slope_per_hour"),
    )


_SSSP_ROUNDS = 4  # part_distance_sssp and its oracle relax alike
_SSSP_BRAND = "Brand#13"  # the source parts


def _sssp_oracle() -> str:
    """Round-unrolled multi-source Bellman-Ford over the weighted part
    co-purchase graph (the _pagerank_oracle / _kcore_oracle discipline:
    every CTE repeats the engine's exact integer relaxation, and the
    quadratic basket self-join doubles as the in-row pair-enumeration
    cross-proof). MIN over BIGINT stays BIGINT in DuckDB (only SUM takes
    the HUGEINT detour), so no casts beyond dist's seed."""
    rounds = _SSSP_ROUNDS
    ctes = [
        f"""pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS cnt
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_PAIR_COUNT}
), edges AS (
  SELECT p1 AS u, p2 AS v, 11 - LEAST(cnt, 10) AS w FROM pairs
  UNION ALL
  SELECT p2, p1, 11 - LEAST(cnt, 10) FROM pairs
), d0 AS (
  SELECT p_partkey AS node, 0::BIGINT AS dist
  FROM part WHERE p_brand = '{_SSSP_BRAND}'
)"""
    ]
    prev = "d0"
    for i in range(1, rounds + 1):
        ctes.append(
            f"""d{i} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM {prev}
    UNION ALL
    SELECT e.v AS node, d.dist + e.w AS dist
    FROM {prev} d JOIN edges e ON e.u = d.node
  ) GROUP BY node
)"""
        )
        prev = f"d{i}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT dist, COUNT(*)::BIGINT AS n_parts,
       MIN(node) AS min_part, MAX(node) AS max_part
FROM d{rounds} GROUP BY 1
"""
    )


@register(
    "part_distance_sssp",
    oracle=_sssp_oracle(),
    doc="Multi-source weighted shortest paths (synchronous Bellman-Ford, "
    "4 relaxation rounds — graphs.sssp_rounds) over the part co-purchase "
    "graph: edge weight 11 - min(basket_count, 10), so strong affinities "
    "are short hops; sources are every Brand#13 part; output is the "
    "<=4-hop distance histogram with per-bucket part-key extrema. The "
    "hop bound IS the semantics (exact truncated-path minimum), so the "
    "round-unrolled integer oracle is bit-exact; each round is one "
    "frontier-edge equi-join + map-side-combinable min — the "
    "pagerank_integer Theta(E)-per-round class that flattens with "
    "executors. Parallel-path ties cost nothing: min over longs.",
)
def part_distance_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graphs import part_pair_edges, sssp_rounds

    edges = part_pair_edges(load(spark, sf_dir, "lineitem"), keep_count=True).select(
        "u",
        "v",
        (F.lit(11) - F.least("pair_cnt", F.lit(10))).cast("long").alias("w"),
    )
    sources = (
        load(spark, sf_dir, "part")
        .where(F.col("p_brand") == _SSSP_BRAND)
        .select(F.col("p_partkey").alias("node"))
    )
    dist = sssp_rounds(edges, sources, rounds=_SSSP_ROUNDS)
    return dist.groupBy("dist").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("node").alias("min_part"),
        F.max("node").alias("max_part"),
    )


def _hits_oracle() -> str:
    """Unrolled-iteration HITS replay (the pagerank_integer oracle
    discipline): same edge derivation, same max-norm integer floor
    divisions, one CTE pair per half-step."""
    from ..operators.graphs import HITS_ITERS

    iters = HITS_ITERS
    parts = [
        """
WITH e AS MATERIALIZED (
  SELECT DISTINCT doc_id % 7 AS src, (doc_id // 7) % 7 AS dst
  FROM documents
  WHERE doc_id % 7 <> (doc_id // 7) % 7
    AND (3 * (doc_id % 7) + 5 * ((doc_id // 7) % 7)) % 7 < 3
), n AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
h0 AS (SELECT node, """
        + f"{HITS_SCALE}::BIGINT AS hub FROM n)"
    ]
    prev_h = "h0"
    for i in range(1, iters + 1):
        parts.append(
            f""",
ra{i} AS MATERIALIZED (SELECT e.dst AS node, SUM({prev_h}.hub)::BIGINT AS raw
          FROM e JOIN {prev_h} ON e.src = {prev_h}.node GROUP BY 1),
a{i} AS MATERIALIZED (SELECT node,
           ((raw * {HITS_SCALE}) // (SELECT MAX(raw) FROM ra{i}))::BIGINT AS auth
         FROM ra{i}),
rh{i} AS MATERIALIZED (SELECT e.src AS node, SUM(a{i}.auth)::BIGINT AS raw
          FROM e JOIN a{i} ON e.dst = a{i}.node GROUP BY 1),
h{i} AS MATERIALIZED (SELECT node,
           ((raw * {HITS_SCALE}) // (SELECT MAX(raw) FROM rh{i}))::BIGINT AS hub
         FROM rh{i})"""
        )
        prev_h = f"h{i}"
    parts.append(
        f"""
SELECT COALESCE(h{iters}.node, a{iters}.node) AS node,
       COALESCE(h{iters}.hub, 0)::BIGINT AS hub,
       COALESCE(a{iters}.auth, 0)::BIGINT AS auth
FROM h{iters} FULL OUTER JOIN a{iters} ON h{iters}.node = a{iters}.node"""
    )
    return "".join(parts)


@register(
    "host_graph_hits",
    oracle=_hits_oracle(),
    doc="HITS hubs-and-authorities gate (operators/graphs.py "
    "hits_integer, Kleinberg 1999 — the web-graph ranking pair beside "
    "pagerank_integer): a sparse asymmetric 7-host digraph derives from "
    "doc_id arithmetic (edge kept iff (3u+5v)%7 < 3, so hub and "
    "authority rankings genuinely differ), three integer iterations "
    "renormalize by MAX-norm floor division — no sqrt, no float, zero "
    "drift across iterations — and the oracle replays every half-step "
    "as unrolled CTEs with scalar-subquery maxima. Per iteration: two "
    "content-key equi-joins + map-side-combinable sums and a 1-row "
    "broadcast of the max (the pagerank Θ(E)/round class); no-in-edge "
    "hosts carry auth 0 via the final full-outer coalesce.",
)
def host_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graphs import hits_integer
    from ..tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        (F.col("doc_id") % 7).alias("src"),
        F.expr("(doc_id div 7) % 7").alias("dst"),
    ).filter(
        (F.col("src") != F.col("dst"))
        & ((3 * F.col("src") + 5 * F.col("dst")) % 7 < 3)
    )
    return hits_integer(edges)
