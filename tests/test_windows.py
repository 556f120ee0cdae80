"""Event-time window operator tests: tumbling, sliding, sessionize."""

from __future__ import annotations

from datetime import datetime, timezone

from data_engineering_assignment_spark.operators.windows import (
    sessionize,
    sliding_agg,
    tumbling_agg,
)


def ts(minute, second=0):
    return datetime(2024, 1, 1, 0, minute, second)


def events_df(spark, rows):
    return spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_type string, value double"
    )


def _epoch(minute):
    return int(datetime(2024, 1, 1, 0, minute, tzinfo=timezone.utc).timestamp())


def test_tumbling_counts_and_sums(spark):
    df = events_df(
        spark,
        [
            (1, ts(0), "a", 1.0),
            (1, ts(9, 59), "a", 2.0),
            (1, ts(10), "a", 4.0),   # next bucket
            (2, ts(25), "b", 8.0),
        ],
    )
    out = {r["win_start"]: (r["n_events"], r["total_value"])
           for r in tumbling_agg(df).collect()}
    assert out[_epoch(0)] == (2, 3.0)
    assert out[_epoch(10)] == (1, 4.0)
    assert out[_epoch(20)] == (1, 8.0)


def test_sliding_window_membership(spark):
    df = events_df(spark, [(1, ts(7), "a", 1.0)])
    out = sorted(r["win_start"] for r in sliding_agg(df).collect())
    # event at 00:07 belongs to windows [00:00,00:10) and [00:05,00:15)
    assert out == [_epoch(0), _epoch(5)]


def test_sessionize_gap_split(spark):
    df = events_df(
        spark,
        [
            (1, ts(0), "a", 0.0),
            (1, ts(20), "a", 0.0),   # 20m gap < 30m → same session
            (1, ts(55), "a", 0.0),   # 35m gap > 30m → new session
            (2, ts(5), "a", 0.0),    # separate user
        ],
    )
    out = sessionize(df).collect()
    u1 = sorted(
        [(r["session_start"], r["session_end"], r["n_events"]) for r in out if r["user"] == 1]
    )
    assert u1 == [(_epoch(0), _epoch(20), 2), (_epoch(55), _epoch(55), 1)]
    u2 = [r for r in out if r["user"] == 2]
    assert len(u2) == 1 and u2[0]["n_events"] == 1


def test_gapfill_forward_fills_empty_slots(spark):
    from data_engineering_assignment_spark.operators.windows import gapfill

    df = events_df(
        spark,
        [
            (1, ts(0), "a", 2.5),
            (1, ts(2), "a", 1.5),    # same slot as above
            (1, ts(21), "a", 8.0),   # two empty slots between
            (2, ts(5), "b", 3.0),    # separate key, single slot
        ],
    )
    out = {
        (r["event_type"], r["bucket_start"]): (r["n_events"], r["filled_value"])
        for r in gapfill(df).collect()
    }
    assert out[("a", _epoch(0))] == (2, 4.0)
    assert out[("a", _epoch(5))] == (0, 4.0)    # gap: carries slot-0 sum
    assert out[("a", _epoch(10))] == (0, 4.0)
    assert out[("a", _epoch(15))] == (0, 4.0)
    assert out[("a", _epoch(20))] == (1, 8.0)
    assert out[("b", _epoch(5))] == (1, 3.0)
    assert len(out) == 6  # scaffold spans min..max per key only


def test_transition_counts_orders_by_ts_then_id(spark):
    from data_engineering_assignment_spark.operators.windows import transition_counts

    df = spark.createDataFrame(
        [
            (1, ts(0), 10, "view", 0.0),
            (2, ts(1), 10, "click", 0.0),
            (3, ts(1), 10, "buy", 0.0),   # same ts as event 2 → id breaks tie
            (4, ts(0), 20, "view", 0.0),
            (5, ts(9), 20, "click", 0.0),
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
    )
    out = {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for r in transition_counts(df).collect()
    }
    assert out == {("view", "click"): 2, ("click", "buy"): 1}


def test_retention_cohorts_week_offsets(spark):
    from data_engineering_assignment_spark.operators.windows import retention_cohorts

    jan1 = datetime(2024, 1, 1)  # a Monday
    rows = [
        # user 10: first event week 0, active again weeks 0 and 2
        (1, datetime(2024, 1, 2), 10, "a", 0.0),
        (2, datetime(2024, 1, 3), 10, "a", 0.0),
        (3, datetime(2024, 1, 16), 10, "a", 0.0),
        # user 20: first event week 1
        (4, datetime(2024, 1, 10), 20, "a", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    )
    wk0 = int(jan1.replace(tzinfo=timezone.utc).timestamp())
    out = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in retention_cohorts(df).collect()
    }
    assert out == {(wk0, 0): 1, (wk0, 2): 1, (wk0 + 604800, 0): 1}


def test_gapfill_invariants_on_catalog_data(spark):
    """Structural invariants at sf0.001: per key, slots are contiguous at
    300 s spacing from min to max, slot count = span/300 + 1, and the sum of
    n_events equals the key's event count."""
    from collections import defaultdict

    from data_engineering_assignment_spark.operators.windows import gapfill
    from data_engineering_assignment_spark.tables import load

    ev = load(spark, "/root/testdata/sf0.001", "events")
    rows = gapfill(ev).collect()
    by_key = defaultdict(list)
    for r in rows:
        by_key[r["event_type"]].append(r)
    counts = {r["event_type"]: r["n"] for r in ev.groupBy("event_type").count().withColumnRenamed("count", "n").collect()}
    for k, rs in by_key.items():
        slots = sorted(r["bucket_start"] for r in rs)
        assert slots == list(range(slots[0], slots[-1] + 1, 300))
        assert sum(r["n_events"] for r in rs) == counts[k]
        assert all(r["filled_value"] is not None for r in rs)


def test_retention_cohort_week0_equals_cohort_size(spark):
    """Every user is active in their own cohort week, so the week_offset=0
    row of each cohort counts exactly the cohort's users."""
    from data_engineering_assignment_spark.operators.windows import retention_cohorts
    from data_engineering_assignment_spark.tables import load

    ev = load(spark, "/root/testdata/sf0.001", "events")
    out = {(r["cohort_week"], r["week_offset"]): r["n_users"]
           for r in retention_cohorts(ev).collect()}
    from pyspark.sql import functions as F
    week = F.unix_timestamp(F.date_trunc("week", F.col("ts")))
    cohort_sizes = {
        r["cohort_week"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
        .groupBy("cohort_week").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for cw, size in cohort_sizes.items():
        assert out[(cw, 0)] == size


def test_transition_total_is_events_minus_users(spark):
    """Each user's n-event stream yields exactly n-1 transitions."""
    from data_engineering_assignment_spark.operators.windows import transition_counts
    from data_engineering_assignment_spark.tables import load

    ev = load(spark, "/root/testdata/sf0.001", "events")
    total = sum(
        r["n_transitions"] for r in transition_counts(ev).collect()
    )
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert total == n_events - n_users


def test_trailing_agg_bucketed_matches_flat_window(spark):
    """The two-level bucketed decomposition must be BIT-identical to the
    flat rangeBetween window (decimal sums are associative), including
    tied timestamps, bucket-boundary range starts, and sparse buckets."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_engineering_assignment_spark.operators.aggregates import DEC
    from data_engineering_assignment_spark.operators.windows import (
        trailing_agg_bucketed,
    )

    rng = random.Random(11)
    rows = []
    for i in range(600):
        # clustered + sparse regions, duplicate timestamps, bucket edges
        ts = rng.choice(
            [rng.randrange(0, 4000), rng.randrange(40000, 41000), 3600, 3599, 7200]
        )
        rows.append((i, "k%d" % (i % 3), ts, round(rng.uniform(0, 100), 2)))
    df = spark.createDataFrame(rows, "event_id long, event_type string, ts_s long, value double")

    flat_w = (
        Window.partitionBy("event_type").orderBy("ts_s").rangeBetween(-3599, 0)
    )
    flat = df.select(
        "event_id",
        F.sum(F.col("value").cast(DEC)).over(flat_w).alias("trail_sum"),
        F.count(F.lit(1)).over(flat_w).alias("trail_n"),
    )
    bucketed = trailing_agg_bucketed(df).select(
        "event_id", "trail_sum", "trail_n"
    )
    a = {r["event_id"]: (r["trail_sum"], r["trail_n"]) for r in flat.collect()}
    b = {r["event_id"]: (r["trail_sum"], r["trail_n"]) for r in bucketed.collect()}
    assert a == b
    # and partitioning-independent
    c = {
        r["event_id"]: (r["trail_sum"], r["trail_n"])
        for r in trailing_agg_bucketed(df.repartition(13))
        .select("event_id", "trail_sum", "trail_n")
        .collect()
    }
    assert a == c


def test_trailing_agg_bucketed_duplicate_rows_and_negative_ts(spark):
    """Exact-duplicate input rows must each survive (one output row per
    input row, not collapsed by the head-join regroup), and negative
    timestamps must bucket by true floor division — bucket 0 must span
    [0, bsize), not (-bsize, bsize)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_engineering_assignment_spark.operators.aggregates import DEC
    from data_engineering_assignment_spark.operators.windows import (
        trailing_agg_bucketed,
    )

    rows = [
        ("k", 10, 1.0),
        ("k", 3700, 2.0),
        ("k", 3700, 2.0),  # exact duplicate — advisor's repro
        ("k", -30, 5.0),
        ("k", -3650, 7.0),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts_s long, value double")
    flat_w = Window.partitionBy("event_type").orderBy("ts_s").rangeBetween(-3599, 0)
    flat = sorted(
        (r["ts_s"], r["trail_sum"], r["trail_n"])
        for r in df.select(
            "ts_s",
            F.sum(F.col("value").cast(DEC)).over(flat_w).alias("trail_sum"),
            F.count(F.lit(1)).over(flat_w).alias("trail_n"),
        ).collect()
    )
    bucketed = sorted(
        (r["ts_s"], r["trail_sum"], r["trail_n"])
        for r in trailing_agg_bucketed(df)
        .select("ts_s", "trail_sum", "trail_n")
        .collect()
    )
    assert flat == bucketed
    assert len(bucketed) == 5  # every duplicate row kept


def test_trailing_agg_bucketed_multi_value_columns(spark):
    """The list form must equal per-column flat windows (shared
    decomposition, one accumulator per column)."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_engineering_assignment_spark.operators.aggregates import DEC
    from data_engineering_assignment_spark.operators.windows import (
        trailing_agg_bucketed,
    )

    rng = random.Random(23)
    rows = [
        (i, "k%d" % (i % 2), rng.randrange(0, 9000), round(rng.uniform(0, 9), 2))
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts_s long, value double"
    ).withColumn("v2", F.col("value") * F.col("value"))

    flat_w = Window.partitionBy("event_type").orderBy("ts_s").rangeBetween(-3599, 0)
    flat = {
        r["event_id"]: (r["s1"], r["s2"], r["n"])
        for r in df.select(
            "event_id",
            F.sum(F.col("value").cast(DEC)).over(flat_w).alias("s1"),
            F.sum(F.col("v2").cast(DEC)).over(flat_w).alias("s2"),
            F.count(F.lit(1)).over(flat_w).alias("n"),
        ).collect()
    }
    got = {
        r["event_id"]: (r["trail_sum_value"], r["trail_sum_v2"], r["trail_n"])
        for r in trailing_agg_bucketed(
            df, value_col=["value", "v2"]
        ).collect()
    }
    assert flat == got


def test_trailing_agg_bucketed_null_values(spark):
    """trail_nn must equal the flat COUNT(value) OVER (non-null values
    only) while trail_n keeps row semantics — the z-score oracle counts
    VALUES, so NULL rows must not widen its n (r6 advice: latent oracle
    divergence if events.value ever carries NULLs)."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_engineering_assignment_spark.operators.aggregates import DEC
    from data_engineering_assignment_spark.operators.windows import (
        trailing_agg_bucketed,
    )

    rng = random.Random(7)
    rows = [
        (
            i,
            "k%d" % (i % 2),
            rng.randrange(0, 9000),
            None if rng.random() < 0.3 else round(rng.uniform(0, 9), 2),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts_s long, value double"
    )
    flat_w = Window.partitionBy("event_type").orderBy("ts_s").rangeBetween(-3599, 0)
    flat = {
        r["event_id"]: (r["s"], r["n_rows"], r["n_vals"])
        for r in df.select(
            "event_id",
            F.sum(F.col("value").cast(DEC)).over(flat_w).alias("s"),
            F.count(F.lit(1)).over(flat_w).alias("n_rows"),
            F.count("value").over(flat_w).alias("n_vals"),
        ).collect()
    }
    got = {
        r["event_id"]: (r["trail_sum"], r["trail_n"], r["trail_nn"])
        for r in trailing_agg_bucketed(df).collect()
    }
    assert flat == got


def test_lead_ts_bucketed_matches_flat_lead(spark):
    """The bucketed next-event decomposition is bit-identical to the flat
    lead() window — including same-second ties (ordered by the tie cols),
    empty buckets between events, and each key's last row (NULL)."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_engineering_assignment_spark.operators.windows import (
        lead_ts_bucketed,
    )

    rng = random.Random(3)
    rows = []
    for i in range(400):
        key = rng.choice(["a", "b", "c"])
        # cluster timestamps so some buckets are dense, some empty, and
        # ties (same ts) occur within a key
        ts = rng.choice([100, 101, 5000, 5000, 86400 * 3, 90000]) + rng.randrange(50)
        rows.append((key, ts, i))
    df = spark.createDataFrame(rows, "k string, ts_s long, id long")

    w = Window.partitionBy("k").orderBy("ts_s", "id")
    flat = {
        (r.k, r.id): r.nxt
        for r in df.withColumn("nxt", F.lead("ts_s").over(w)).collect()
    }
    for nparts in (1, 7):
        got = {
            (r.k, r.id): r._next_ts
            for r in lead_ts_bucketed(
                df.repartition(nparts), "k", ["id"]
            ).collect()
        }
        assert got == flat, nparts
