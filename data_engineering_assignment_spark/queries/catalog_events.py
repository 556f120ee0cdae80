"""Event-time queries: calendar parts (reference F13 analog) and
tumbling/sliding window aggregation (streaming-in-batch, SURVEY.md 2.12)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregates import davg, o_davg, o_dsum
from ..operators.windows import SESSION_GAP_S, sessionize, sliding_agg, tumbling_agg
from ..tables import load
from . import register

_HOURLY_ORACLE = f"""
SELECT hour(ts) AS hour_of_day,
       CASE WHEN hour(ts) BETWEEN 8 AND 18 THEN 1 ELSE 0 END::BIGINT AS is_peak,
       COUNT(*) AS n_events,
       {o_davg('value', 'avg_value', 4)}
FROM events
GROUP BY 1, 2
"""


@register(
    "events_hourly",
    oracle=_HOURLY_ORACLE,
    doc="F13/F3 analog (:913-917): hour extraction from epoch timestamps, peak-hour CASE flag, grouped avg.",
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    hour = F.hour("ts").cast("long")
    return (
        ev.withColumn("hour_of_day", hour)
        .withColumn(
            "is_peak",
            F.when(F.col("hour_of_day").between(8, 18), 1).otherwise(0).cast("long"),
        )
        .groupBy("hour_of_day", "is_peak")
        .agg(F.count(F.lit(1)).alias("n_events"), davg("value", "avg_value", 4))
    )


_TUMBLING_ORACLE = f"""
SELECT (epoch_ms(time_bucket(INTERVAL '10 minutes', ts)) // 1000)::BIGINT AS win_start,
       event_type,
       COUNT(*) AS n_events,
       {o_dsum('value', 'total_value')}
FROM events
GROUP BY 1, 2
"""


@register(
    "events_tumbling_10m",
    oracle=_TUMBLING_ORACLE,
    doc="Additive streaming surface (2.12): tumbling event-time window agg via F.window.",
)
def events_tumbling_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return tumbling_agg(ev, keys=["event_type"])


_SLIDING_ORACLE = f"""
WITH offs AS (SELECT unnest([0, 1]) AS o),
 exploded AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) - o * INTERVAL '5 minutes' AS win, value
  FROM events CROSS JOIN offs
  WHERE ts >= time_bucket(INTERVAL '5 minutes', ts) - o * INTERVAL '5 minutes'
    AND ts <  time_bucket(INTERVAL '5 minutes', ts) - o * INTERVAL '5 minutes' + INTERVAL '10 minutes'
)
SELECT (epoch_ms(win) // 1000)::BIGINT AS win_start,
       COUNT(*) AS n_events,
       {o_dsum('value', 'total_value')}
FROM exploded
GROUP BY 1
"""


@register(
    "events_sliding_10m_5m",
    oracle=_SLIDING_ORACLE,
    doc="Additive streaming surface (2.12): sliding event-time window agg (10m window / 5m slide).",
)
def events_sliding_10m_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return sliding_agg(ev)


@register(
    "approx_distinct_users_rollup",
    oracle=None,  # sketch estimates are approximate; bounded-error unit test
    doc="Scale path for COUNT(DISTINCT): per-day HLL sketches "
    "(hll_sketch_agg) merged with hll_union_agg to a global estimate — "
    "mergeable sketches are the 100 TB rollup pattern (datasketches HLL).",
)
def approx_distinct_users_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("DAY", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.approx_count_distinct("user_id").alias("daily_users_est"),
    )
    return daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("daily_users_est").alias("daily_est_sum"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("total_users_est"),
    )


from ..operators.sketches import (
    HLL_ALPHA as _HLL_ALPHA,
    HLL_M as _HLL_M,
    MIX1_ROUNDS as _M1,
    MIX2_ROUNDS as _M2,
    mix_expr as _mx,
)

_o_mix1 = _mx("user_id", _M1, "//")
_o_mix2 = _mx("user_id", _M2, "//")

_KMV_K = 64
_KMV_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT (epoch_ms(date_trunc('day', ts)) // 1000)::BIGINT AS day_bucket,
                  {_o_mix1} AS hh
  FROM events
), r AS (
  SELECT day_bucket, hh,
         ROW_NUMBER() OVER (PARTITION BY day_bucket ORDER BY hh) AS rn
  FROM h
), k AS (
  SELECT day_bucket,
         MAX(CASE WHEN rn = {_KMV_K} THEN hh END)::BIGINT AS kth_hash,
         (CAST({(_KMV_K - 1) * 1_000_000_007} AS BIGINT)
            // MAX(CASE WHEN rn = {_KMV_K} THEN hh END))::BIGINT AS kmv_est
  FROM r
  GROUP BY 1
), ex AS (
  SELECT (epoch_ms(date_trunc('day', ts)) // 1000)::BIGINT AS day_bucket,
         COUNT(DISTINCT user_id)::BIGINT AS n_exact
  FROM events
  GROUP BY 1
)
SELECT k.day_bucket, ex.n_exact, k.kth_hash, k.kmv_est
FROM k JOIN ex USING (day_bucket)
"""


@register(
    "kmv_distinct_users",
    oracle=_KMV_ORACLE,
    doc="KMV / bottom-k distinct sketch (Bar-Yossef et al. 2002) with "
    "oracle-checkable INTERNALS: per-day k-th smallest portable user-id "
    "hash located via quantiles.rank_values_pruned (histogram -> locate -> "
    "resolve; no day group is ever sorted whole), estimate "
    "(k-1)*M div h_(k) in exact integer arithmetic. The TRUE exact "
    "distinct count (countDistinct on the raw user_id, not the "
    "distinct-hash count, which birthday collisions can undercount) "
    "rides along as error telemetry (the recall-telemetry discipline: "
    "the sketch is MEASURED, not assumed). Mergeability (union's "
    "bottom-k == merged per-part bottom-ks) is asserted in "
    "tests/test_sketches.py.",
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kmv_estimate, kmv_kth_hash

    ev = load(spark, sf_dir, "events").select(
        F.unix_timestamp(F.date_trunc("DAY", "ts")).alias("day_bucket"), "user_id"
    )
    kth = kmv_kth_hash(ev, "user_id", "day_bucket", _KMV_K)
    exact = ev.groupBy("day_bucket").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return kth.join(exact, "day_bucket").select(
        "day_bucket",
        "n_exact",
        F.col("kth_hash").cast("long").alias("kth_hash"),
        kmv_estimate(_KMV_K).alias("kmv_est"),
    )


_HLL_ORACLE = f"""
WITH s AS (
  SELECT event_type,
         {_o_mix1} AS hh,
         {_o_mix2} AS ww
  FROM events
), rr AS (
  SELECT event_type,
         hh % {_HLL_M} AS reg,
         CASE WHEN ww = 0 THEN 31
              ELSE LENGTH(bin(ww))
                   - LENGTH(REGEXP_REPLACE(bin(ww), '0+$', '')) + 1
         END AS rho
  FROM s
), m AS (
  SELECT event_type, reg, MAX(rho) AS m_j FROM rr GROUP BY 1, 2
), agg AS (
  SELECT event_type,
         COUNT(*)::BIGINT AS n_regs_hit,
         SUM((1::BIGINT << (32 - m_j))::BIGINT)::BIGINT AS s_hit
  FROM m GROUP BY 1
), ex AS (
  SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS n_exact FROM events GROUP BY 1
)
SELECT a.event_type, a.n_regs_hit,
       (a.s_hit + ({_HLL_M} - a.n_regs_hit) * 4294967296)::BIGINT AS reg_harmonic_scaled,
       {_HLL_ALPHA!r}::DOUBLE * {float(_HLL_M * _HLL_M)!r}::DOUBLE * 4294967296.0::DOUBLE
         / (a.s_hit + ({_HLL_M} - a.n_regs_hit) * 4294967296)::DOUBLE AS hll_raw_est,
       ex.n_exact
FROM agg a JOIN ex USING (event_type)
"""


@register(
    "hll_distinct_portable",
    oracle=_HLL_ORACLE,
    doc="Portable HLL (Flajolet et al. 2007) whose REGISTER STATE is "
    "oracle-checked bit-for-bit — the checkable twin of the Spark-native "
    "hll_sketch_agg path (approx_distinct_users_rollup, which is opaque "
    "binary and so declared no_oracle). rho = 1 + trailing zeros of the "
    "portable hash's high bits via bin()-string ops (no libm); the "
    "harmonic sum stays an EXACT scaled integer (sum 2^(32-M_j), absent "
    "registers contribute 2^32); the only float is the final "
    "alpha*m^2*2^32 / S with the alpha literal inlined into BOTH engines "
    "(projection.py literal discipline). max() is idempotent so the "
    "register build needs no distinct pass — one map-side-combinable "
    "aggregate over the raw stream, the 100 TB distinct-count shape; the "
    "exact COUNT(DISTINCT) leg is error telemetry only.",
)
def hll_distinct_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import hll_raw_estimate, hll_register_values

    ev = load(spark, sf_dir, "events")
    regs = hll_register_values(ev, "user_id", "event_type")
    est = hll_raw_estimate(regs, "event_type")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return est.join(F.broadcast(exact), "event_type")


_OVL_K = 128
_OVL_NUM = (_OVL_K - 1) * 1_000_000_007
_KMV_OVL_ORACLE = f"""
WITH d AS (
  SELECT DISTINCT event_type AS key, {_o_mix1} AS h FROM events
), r AS (
  SELECT key, h, ROW_NUMBER() OVER (PARTITION BY key ORDER BY h) AS rn FROM d
), sk AS (
  SELECT key, h FROM r WHERE rn <= {_OVL_K}
), ks AS (SELECT DISTINCT key FROM sk
), pr AS (
  SELECT a.key AS key_a, b.key AS key_b FROM ks a JOIN ks b ON a.key < b.key
), uu AS (
  SELECT key_a, key_b, h,
         ROW_NUMBER() OVER (PARTITION BY key_a, key_b ORDER BY h) AS rn
  FROM (
    SELECT DISTINCT p.key_a, p.key_b, s.h
    FROM pr p JOIN sk s ON s.key = p.key_a OR s.key = p.key_b
  )
), us AS (
  SELECT key_a, key_b, h FROM uu WHERE rn <= {_OVL_K}
), st AS (
  SELECT u.key_a, u.key_b,
         COUNT(*)::BIGINT AS n_u,
         MAX(u.h)::BIGINT AS kth_u,
         SUM(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
                  THEN 1 ELSE 0 END)::BIGINT AS n_both
  FROM us u
  LEFT JOIN sk sa ON sa.key = u.key_a AND sa.h = u.h
  LEFT JOIN sk sb ON sb.key = u.key_b AND sb.h = u.h
  GROUP BY 1, 2
), fin AS (
  SELECT key_a, key_b, n_u, n_both,
         CASE WHEN n_u < {_OVL_K} THEN n_u
              ELSE CAST({_OVL_NUM} AS BIGINT) // kth_u END AS union_est
  FROM st
)
SELECT key_a, key_b, n_u AS n_union_sample, n_both,
       union_est::BIGINT AS union_est,
       ((n_both * union_est) // n_u)::BIGINT AS inter_est,
       ((n_both * 1000) // n_u)::BIGINT AS jaccard_pm
FROM fin
"""


@register(
    "kmv_set_overlap",
    oracle=_KMV_OVL_ORACLE,
    doc="KMV bottom-k SET-OPERATION estimates (the theta-sketch shape, "
    "Dasgupta et al. 2016) — pairwise union / intersection / Jaccard "
    "of per-event-type USER sets from mergeable bottom-k samples "
    "(operators/sketches.py kmv_bottomk + kmv_pair_overlap): the k-th "
    "hash is histogram-pruned (kmv_kth_hash — no per-key sort, no "
    "content-key window), the bounded survivor join-back builds <= k "
    "element arrays, and the pair scan runs in-row over the small "
    "sketch dimension with the union sample LET-BOUND once per pair "
    "(lambda-var binding; the HOF re-derivation trap). Estimates stay "
    "exact integer arithmetic (div / Jaccard per-mille) — no float "
    "surface; a union sample smaller than k means both sketches were "
    "complete and the union estimate is EXACT by construction. The "
    "oracle replays sample selection, membership and the estimators "
    "with window row_number over the same portable hash.",
)
def kmv_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kmv_bottomk, kmv_pair_overlap

    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    sk = kmv_bottomk(ev, "user_id", "event_type", _OVL_K)
    return kmv_pair_overlap(
        sk.select(F.col("event_type"), "sketch"), "event_type", _OVL_K
    )


@register(
    "event_props_json",
    oracle="""
SELECT event_type,
       COUNT(json_extract(props, '$.k')) AS n_with_k,
       SUM(json_extract(props, '$.k')::BIGINT)::BIGINT AS k_sum,
       MAX(json_extract(props, '$.k')::BIGINT)::BIGINT AS k_max
FROM events GROUP BY event_type
""",
    doc="JSON-function surface (engine completeness — the reference only "
    "infers JSON at scan): get_json_object path extraction + typed aggregation "
    "over a JSON string column.",
)
def event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # Project the extracted value ONCE before the aggregation: embedding the
    # get_json_object call inside each aggregate would re-parse the JSON per
    # aggregate (3× per row — measured ~15% of total bench wall).
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("k_sum"),
            F.max("k").alias("k_max"),
        )
    )


_CYCLIC_ORACLE = """
WITH p AS (
  SELECT event_type,
         hour(ts)::BIGINT AS h,
         (((hour(ts) + event_id % 5 - 2) % 24) + 24) % 24 AS pred
  FROM events
)
SELECT event_type,
       COUNT(*) AS n,
       SUM(CASE WHEN pred = h THEN 1 ELSE 0 END)::BIGINT AS n_exact,
       ROUND(CAST(SUM(CAST(CASE WHEN pred = h THEN 1 ELSE 0 END AS DECIMAL(27,6)))::DOUBLE
                  / COUNT(*) AS DECIMAL(27,8)), 4)::DOUBLE AS exact_rate,
       ROUND(CAST(SUM(CAST(CASE WHEN abs(pred - h) <= 1 OR abs(pred - h) >= 23
                           THEN 1 ELSE 0 END AS DECIMAL(27,6)))::DOUBLE
                  / COUNT(*) AS DECIMAL(27,8)), 4)::DOUBLE AS within1_rate
FROM p
GROUP BY event_type
"""


@register(
    "cyclic_prediction_rates",
    oracle=_CYCLIC_ORACLE,
    doc="P15/F14 oracle gate (Assignment-python.py:962-977): the cyclic "
    "label-distance evaluator as pure column arithmetic over a deterministic "
    "mod-24 prediction (hour + event_id%5 - 2), exact and within-1-cyclic "
    "match rates per event type. Shares ml.cyclic_within with the M7 "
    "evaluator.",
)
def cyclic_prediction_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml import cyclic_within

    ev = load(spark, sf_dir, "events")
    h = F.hour("ts").cast("long")
    pred = F.pmod(h + F.col("event_id") % 5 - 2, 24)
    p = ev.select("event_type", h.alias("h"), pred.alias("pred"))
    exact = (F.col("pred") == F.col("h")).cast("int")
    within1 = cyclic_within(F.col("pred"), F.col("h"), 24).cast("int")
    return p.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(exact).alias("n_exact"),
        davg(exact, "exact_rate", 4),
        davg(within1, "within1_rate", 4),
    )


_ROLLING_ORACLE = """
SELECT event_id,
       user_id,
       LAG(value) OVER w AS prev_value,
       ROUND(CAST(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                  AS DECIMAL(27,8)), 4)::DOUBLE AS rolling_avg3
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register(
    "user_rolling_stats",
    oracle=_ROLLING_ORACLE,
    doc="Analytic frame aggregates (beyond the reference's frame-less "
    "windows): per-user lag and 3-row rolling average with an explicit "
    "ROWS BETWEEN frame.",
)
def user_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.aggregates import dround

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-2, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        dround(F.avg("value").over(frame), 4).alias("rolling_avg3"),
    )


_MULTI_ROLLUP_ORACLE = f"""
SELECT (epoch_ms(date_trunc('hour', ts)) // 1000)::BIGINT AS hour_bucket,
       (epoch_ms(date_trunc('day', ts)) // 1000)::BIGINT AS day_bucket,
       COUNT(*) AS n_events,
       {o_dsum('value', 'total_value')}
FROM events
GROUP BY GROUPING SETS (
  ((epoch_ms(date_trunc('hour', ts)) // 1000)::BIGINT),
  ((epoch_ms(date_trunc('day', ts)) // 1000)::BIGINT)
)
"""


@register(
    "events_multi_rollup",
    oracle=_MULTI_ROLLUP_ORACLE,
    doc="Hypertable-style continuous-aggregate rollup: hourly AND daily "
    "buckets in one pass via GROUPING SETS (one expand+aggregate, not two "
    "scans) — spark.sql string API surface.",
)
def events_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_v")
    return spark.sql(
        """
        SELECT unix_timestamp(date_trunc('HOUR', ts)) AS hour_bucket,
               unix_timestamp(date_trunc('DAY', ts)) AS day_bucket,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(27,6))), 2) AS DOUBLE) AS total_value
        FROM events_v
        GROUP BY GROUPING SETS (
          (unix_timestamp(date_trunc('HOUR', ts))),
          (unix_timestamp(date_trunc('DAY', ts)))
        )
        """
    )


_SESSION_ORACLE = f"""
WITH seq AS (
  SELECT user_id,
         epoch_ms(ts) // 1000 AS ts_sec,
         CASE WHEN epoch_ms(ts) // 1000
                   - LAG(epoch_ms(ts) // 1000) OVER (PARTITION BY user_id ORDER BY ts)
                   > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts_sec,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_sec
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM seq
)
SELECT user_id AS user,
       session_seq::BIGINT AS session_id,
       MIN(ts_sec)::BIGINT AS session_start,
       MAX(ts_sec)::BIGINT AS session_end,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_seq
"""


@register(
    "events_sessionize",
    oracle=_SESSION_ORACLE,
    doc="Additive stateful-streaming analog: gap-based sessionization via lag/cumsum windows.",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return sessionize(ev)


_GAPFILL_ORACLE = """
WITH b AS (
  SELECT event_type,
         (epoch_ms(time_bucket(INTERVAL '5 minutes', ts)) // 1000)::BIGINT AS bucket_start,
         COUNT(*) AS n,
         ROUND(SUM(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS tv
  FROM events GROUP BY 1, 2
), r AS (
  SELECT event_type,
         unnest(range(MIN(bucket_start), MAX(bucket_start) + 1, 300)) AS bucket_start
  FROM b GROUP BY event_type
)
SELECT r.event_type, r.bucket_start,
       COALESCE(b.n, 0)::BIGINT AS n_events,
       LAST_VALUE(b.tv IGNORE NULLS) OVER (
         PARTITION BY r.event_type ORDER BY r.bucket_start
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM r LEFT JOIN b USING (event_type, bucket_start)
"""


@register(
    "events_gapfill_5m",
    oracle=_GAPFILL_ORACLE,
    doc="Time-series gap fill + forward fill: every 5-minute slot between a "
    "type's first and last event, empty slots carrying n_events=0 and the "
    "last non-empty slot's value sum. sequence-exploded scaffold joined on "
    "(key, bucket); scaffold size is span/bucket per key, independent of "
    "event count.",
)
def events_gapfill_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import gapfill

    return gapfill(load(spark, sf_dir, "events"))


_TRANSITIONS_ORACLE = """
WITH o AS (
  SELECT event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n_transitions
FROM o WHERE next_type IS NOT NULL
GROUP BY 1, 2
"""


@register(
    "event_transitions",
    oracle=_TRANSITIONS_ORACLE,
    doc="Clickstream first-order transition matrix: consecutive event-type "
    "pairs per user (lead over a (ts, event_id)-total order), counted. One "
    "per-user window + one aggregation.",
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import transition_counts

    return transition_counts(load(spark, sf_dir, "events"))


_COHORTS_ORACLE = """
WITH u AS (
  SELECT user_id, (epoch_ms(date_trunc('week', MIN(ts))) // 1000)::BIGINT AS cohort_week
  FROM events GROUP BY user_id
), a AS (
  SELECT DISTINCT e.user_id, u.cohort_week,
         ((epoch_ms(date_trunc('week', e.ts)) // 1000)::BIGINT - u.cohort_week) // 604800
           AS week_offset
  FROM events e JOIN u USING (user_id)
)
SELECT cohort_week, week_offset, COUNT(*) AS n_users
FROM a GROUP BY 1, 2
"""


@register(
    "user_retention_cohorts",
    oracle=_COHORTS_ORACLE,
    doc="Weekly retention triangle: users cohorted by ISO week (Monday "
    "truncation) of first event; distinct active users per (cohort_week, "
    "week_offset). Integer epoch-week arithmetic — no engine week numbering.",
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import retention_cohorts

    return retention_cohorts(load(spark, sf_dir, "events"))


_VARIANT_ORACLE = """
SELECT event_type,
       COUNT(json_extract(props, '$.k')) AS n_with_k,
       SUM(json_extract(props, '$.k')::BIGINT)::BIGINT AS k_sum,
       MIN(json_extract(props, '$.k')::BIGINT)::BIGINT AS k_min,
       MAX(json_extract(props, '$.k')::BIGINT)::BIGINT AS k_max
FROM events GROUP BY event_type
"""


@register(
    "event_props_variant",
    oracle=_VARIANT_ORACLE,
    doc="Spark 4 VARIANT surface: props parsed ONCE into the binary variant "
    "encoding (parse_json), then typed path extraction via variant_get — "
    "the open-schema semi-structured column pattern (vs event_props_json's "
    "per-path string get_json_object). One parse per row, one aggregation.",
)
def event_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "long")
    typed = ev.select("event_type", k.alias("k"))
    return typed.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("k_sum"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
    )


_RANK_SUITE_ORACLE = """
SELECT event_id, user_id,
       ntile(4)        OVER w AS quartile,
       row_number()    OVER w AS rn,
       percent_rank()  OVER w AS pr,
       cume_dist()     OVER w AS cd,
       lag(value)      OVER w AS prev_value,
       lead(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register(
    "user_event_rank_suite",
    oracle=_RANK_SUITE_ORACLE,
    doc="Per-row rank-function completeness gate: ntile / percent_rank "
    "/ cume_dist / lag / lead / row_number over one per-user window — "
    "the window-function corners no other catalog query exercises. "
    "The order key (ts, event_id) is a TOTAL order (event_id unique), "
    "so ntile's tie-splitting and lag/lead neighbors are deterministic "
    "on both engines; percent_rank/cume_dist are single exact IEEE "
    "divisions of small integers (bit-identical, no dround needed). "
    "user_id is an ENTITY key (bounded per-user rows), so the one "
    "per-group sort this genuinely requires — rank-per-ROW output "
    "cannot use histogram pruning, the documented cost — is never a "
    "content-key straggler.",
)
def user_event_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.ntile(4).over(w).alias("quartile"),
        F.row_number().over(w).alias("rn"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.lag("value").over(w).alias("prev_value"),
        F.lead("event_type").over(w).alias("next_type"),
    )
