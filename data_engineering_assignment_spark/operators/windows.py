"""Event-time window aggregation over a batch events table.

The reference has no streaming surface (SURVEY.md section 2.12); these
operators add tumbling/sliding event-time aggregation over an events table
using ``F.window``.

Window starts are returned as epoch seconds (bigint) so results are
timezone- and engine-representation-independent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .aggregates import dsum


def _win_start_epoch(win: Column) -> Column:
    return F.unix_timestamp(win.getField("start")).alias("win_start")


_UNIT_SECONDS = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
}


def _interval_seconds(interval: str) -> int:
    """'30 minutes' / '1 hour' → seconds (same grammar F.window accepts)."""
    parts = interval.strip().split()
    if len(parts) != 2 or parts[1].lower() not in _UNIT_SECONDS:
        raise ValueError(f"unsupported interval: {interval!r}")
    return int(parts[0]) * _UNIT_SECONDS[parts[1].lower()]


# sessionize's inactivity gap in seconds, read by its oracle
SESSION_GAP_S = _interval_seconds("30 minutes")


def tumbling_agg(events: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Tumbling-window counts + exact value sums per (window, *keys)."""
    duration = "10 minutes"
    keys = keys or []
    win = F.window(F.col("ts"), duration)
    return (
        events.groupBy(win.alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            _win_start_epoch(F.col("w")), *keys, "n_events", "total_value"
        )
    )


def sliding_agg(events: DataFrame) -> DataFrame:
    """Sliding-window (duration, slide) counts + exact value sums."""
    duration = "10 minutes"
    slide = "5 minutes"
    win = F.window(F.col("ts"), duration, slide)
    return (
        events.groupBy(win.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(_win_start_epoch(F.col("w")), "n_events", "total_value")
    )


def gapfill(events: DataFrame) -> DataFrame:
    """Time-series gap fill with forward fill: per key, every ``bucket``-sized
    slot between the key's first and last event appears in the output —
    empty slots carry ``n_events = 0`` and the most recent non-empty slot's
    value sum (the standard downsample-then-ffill shape for dashboards and
    feature pipelines over irregular event streams).

    Shuffle discipline: one aggregation keyed by (key, bucket) — the only
    pass over the raw events — then each aggregated row OWNS the empty slots
    between itself and the key's next non-empty slot (``lead`` + ``sequence``
    explode), carrying its value sum into them. No scaffold join, no fill
    window, no second scan: two exchanges total, and everything after the
    first moves only bucket-sized data (span/bucket rows per key, independent
    of event count).

    Output: (key, bucket_start epoch-sec, n_events, filled_value).
    """
    from pyspark.sql import Window as W

    bucket = "5 minutes"
    secs = _interval_seconds(bucket)
    slot = F.window(F.col("ts"), bucket)
    agg = (
        events.groupBy(slot.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "_tv"))
        .select("event_type", _win_start_epoch(F.col("w")).alias("bucket_start"),
                "n_events", "_tv")
    )
    nxt = F.lead("bucket_start").over(W.partitionBy("event_type").orderBy("bucket_start"))
    owned = F.sequence(
        F.col("bucket_start"),
        F.coalesce(F.col("_nxt") - secs, F.col("bucket_start")),
        F.lit(secs),
    )
    return (
        agg.withColumn("_nxt", nxt)
        .withColumn("_slot", F.explode(owned))
        .select(
            "event_type",
            F.col("_slot").alias("bucket_start"),
            F.when(F.col("_slot") == F.col("bucket_start"), F.col("n_events"))
            .otherwise(0)
            .cast("long")
            .alias("n_events"),
            F.col("_tv").alias("filled_value"),
        )
    )


def transition_counts(events: DataFrame) -> DataFrame:
    """First-order transition matrix of the per-user event stream: counts of
    consecutive (event_type → next event_type) pairs, the Markov-chain /
    clickstream-path primitive. One per-user window (``lead``), one count
    aggregation; the order is made total by the tie-break column so results
    are engine- and partitioning-independent.

    Output: (from_type, to_type, n_transitions)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Weekly retention cohorts: users are assigned to the ISO week (Monday
    truncation) of their first event; for each (cohort_week, week_offset) the
    output counts the distinct cohort users active that many weeks later —
    the standard cohort-retention triangle.

    Single event scan, no join: per-(user, week) distinct activity first
    (map-side-combined, so the shuffle carries user-weeks not events), then
    the per-user cohort week is an analytic ``min`` over those few rows, then
    one final count. Week arithmetic is pure integer epoch math — no
    engine-specific week numbering.

    Output: (cohort_week epoch-sec, week_offset, n_users)."""
    from pyspark.sql import Window as W

    week = F.unix_timestamp(F.date_trunc("week", F.col("ts")))
    active = events.select("user_id", week.alias("_wk")).distinct()
    cohort = F.min("_wk").over(W.partitionBy("user_id"))
    return (
        active.select(
            cohort.alias("cohort_week"),
            ((F.col("_wk") - cohort) / 604800).cast("long").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessionization via analytic windows (batch equivalent of
    ``F.session_window``): a new session starts when the previous event of the
    same user is more than :data:`SESSION_GAP_S` seconds away.

    Output: (user, session_id, session_start, session_end, n_events) with
    epoch-second bounds.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts")
    ts_sec = F.unix_timestamp(F.col("ts"))
    marked = events.withColumn(
        "new_session",
        F.when(
            ts_sec - F.lag(ts_sec, 1).over(w) > SESSION_GAP_S, 1
        ).otherwise(0),
    ).withColumn(
        "session_seq",
        F.sum(F.col("new_session")).over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return (
        marked.groupBy(F.col("user_id").alias("user"), F.col("session_seq"))
        .agg(
            F.min(ts_sec).alias("session_start"),
            F.max(ts_sec).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn("session_id", F.col("session_seq").cast("long"))
        .select("user", "session_id", "session_start", "session_end", "n_events")
    )


def trailing_agg_bucketed(df: DataFrame, value_col: str | list[str] = "value") -> DataFrame:
    """Per-row trailing-window sum/count over event time — the 100 TB
    formulation of ``rangeBetween(-(window_s-1), 0)`` windows.

    The flat range-frame window partitions by ``key_col``; with a
    low-cardinality key (the events table has 5 event types) each partition
    is the key's ENTIRE history in one unsplittable sorted task. This
    operator decomposes the trailing range exactly into three splittable
    pieces, each bounded by the bucket size ``B = window_s / n_buckets``:

      * tail — same-bucket rows at or before t: a window partitioned by
        (key, bucket), so partitions hold at most one bucket's rows;
      * middle — the n_buckets-1 full buckets before t's bucket: a range
        window over the per-(key, bucket) aggregate table, whose row count
        per key is time-span/B (tiny — it is the aggregate, not the data);
      * head — rows of bucket(t) - n_buckets newer than the range start:
        an equi-join on (key, bucket), fan-out bounded by bucket occupancy.

    Decimal sums make the decomposition EXACT (decimal addition is
    associative), so results are bit-identical to the flat window at any
    partitioning — asserted in tests. Requires ``window_s % n_buckets == 0``.

    ``value_col`` may be a list: every column shares the one decomposition
    (one bucket aggregate, one tail window, one head join — the marginal
    cost of an extra trailing sum is one more map-side accumulator, which
    is how the z-score query gets both power sums for free).

    Output: df + (trail_n bigint, trail_sum decimal, trail_nn bigint)
    columns for a string ``value_col``; for a list, one ``trail_sum_<col>``
    and one ``trail_nn_<col>`` per column. ``trail_n`` counts ROWS in the
    trailing range (the flat ``F.count(F.lit(1)).over(...)``), including
    rows whose value is NULL; ``trail_nn[_<col>]`` counts NON-NULL values
    (the flat ``F.count(col).over(...)`` / SQL ``COUNT(value) OVER``) and
    rides the same decomposition — use it wherever the consumer's oracle
    counts values, not rows (the z-score gate).
    """
    from pyspark.sql import Window

    from .aggregates import DEC

    window_s = 3600
    key_col = "event_type"
    ts_col = "ts_s"
    n_buckets = 60
    single = isinstance(value_col, str)
    vcols = [value_col] if single else list(value_col)
    sums = ["trail_sum"] if single else [f"trail_sum_{c}" for c in vcols]
    if window_s % n_buckets:
        raise ValueError("window_s must be divisible by n_buckets")
    bsize = window_s // n_buckets
    k, t = F.col(key_col), F.col(ts_col)
    # exact integer floor division: pmod's remainder is non-negative, so the
    # bucket is the true floor for negative timestamps too (t % bsize
    # truncates toward zero, which would give bucket 0 a double width
    # spanning (-bsize, bsize))
    bucket = (t - F.pmod(t, F.lit(bsize))) / bsize

    # _rid makes each input row unique for the head join's regroup below —
    # without it, exact-duplicate input rows would collapse to one output
    # row (and double-count each other's head sums)
    e = df.withColumn("_b", bucket.cast("long")).withColumn(
        "_rid", F.monotonically_increasing_id()
    )
    for j, c in enumerate(vcols):
        e = e.withColumn(f"_v{j}", F.col(c).cast(DEC))
    vr = range(len(vcols))

    # per-(key, bucket) partial aggregates — map-side combinable
    bsums = e.groupBy(key_col, "_b").agg(
        *[F.sum(f"_v{j}").alias(f"_bs{j}") for j in vr],
        *[F.count(f"_v{j}").alias(f"_bq{j}") for j in vr],
        F.count(F.lit(1)).alias("_bn"),
    )
    # middle: full buckets [b - n_buckets + 1, b - 1], range frame over the
    # AGGREGATE table so gaps in bucket ids are handled by value
    wmid = (
        Window.partitionBy(key_col)
        .orderBy("_b")
        .rangeBetween(-(n_buckets - 1), -1)
    )
    mids = bsums.select(
        key_col,
        "_b",
        *[
            F.coalesce(F.sum(f"_bs{j}").over(wmid), F.lit(0).cast(DEC)).alias(f"_ms{j}")
            for j in vr
        ],
        *[
            F.coalesce(F.sum(f"_bq{j}").over(wmid), F.lit(0)).alias(f"_mq{j}")
            for j in vr
        ],
        F.coalesce(F.sum("_bn").over(wmid), F.lit(0)).alias("_mn"),
    )
    # tail: same-bucket rows with ts <= t (range frame includes ties, same
    # as the flat window's semantics)
    wtail = (
        Window.partitionBy(key_col, "_b")
        .orderBy(ts_col)
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    tailed = e
    for j in vr:
        tailed = tailed.withColumn(f"_ts{j}", F.sum(f"_v{j}").over(wtail))
        tailed = tailed.withColumn(f"_tq{j}", F.count(f"_v{j}").over(wtail))
    tailed = tailed.withColumn("_tn", F.count(F.lit(1)).over(wtail))
    # head: rows of bucket b - n_buckets inside the range start; _hm is the
    # match marker so the count keeps row semantics even for NULL values
    head_src = e.select(
        k.alias("_hk"),
        F.col("_b").alias("_hb"),
        t.alias("_ht"),
        F.lit(1).alias("_hm"),
        *[F.col(f"_v{j}").alias(f"_hv{j}") for j in vr],
    )
    with_head = (
        tailed.join(
            head_src,
            (k == F.col("_hk"))
            & (F.col("_hb") == F.col("_b") - n_buckets)
            & (F.col("_ht") >= t - (window_s - 1)),
            "left",
        )
        .groupBy(*tailed.columns)
        .agg(
            *[
                F.coalesce(F.sum(f"_hv{j}"), F.lit(0).cast(DEC)).alias(f"_hs{j}")
                for j in vr
            ],
            *[F.count(f"_hv{j}").alias(f"_hq{j}") for j in vr],
            F.count("_hm").alias("_hn"),
        )
    )
    out = with_head.join(mids, [key_col, "_b"], "left")
    nns = ["trail_nn"] if single else [f"trail_nn_{c}" for c in vcols]
    # non-null counts first: the sums below need them for SQL skip-NULL
    # semantics (SUM over a frame is NULL only when EVERY value is NULL;
    # a NULL tail-bucket partial must not poison a frame that has values
    # in its middle/head pieces)
    for j, name in enumerate(nns):
        out = out.withColumn(
            name,
            F.col(f"_tq{j}") + F.coalesce(F.col(f"_mq{j}"), F.lit(0)) + F.col(f"_hq{j}"),
        )
    for j, name in enumerate(sums):
        total = (
            F.coalesce(F.col(f"_ts{j}"), F.lit(0).cast(DEC))
            + F.coalesce(F.col(f"_ms{j}"), F.lit(0).cast(DEC))
            + F.col(f"_hs{j}")
        )
        out = out.withColumn(name, F.when(F.col(nns[j]) > 0, total))
    out = out.withColumn(
        "trail_n",
        F.col("_tn") + F.coalesce(F.col("_mn"), F.lit(0)) + F.col("_hn"),
    )
    drop = ["_b", "_rid", "_tn", "_hn", "_mn"] + [
        f"_{p}{j}" for j in vr for p in ("v", "ts", "hs", "ms", "tq", "hq", "mq")
    ]
    return out.drop(*drop)


def lead_ts_bucketed(df: DataFrame, key_col: str, tie_cols: list[str]) -> DataFrame:
    """Per-row NEXT-event timestamp under the (ts, tie) total order — the
    100 TB formulation of ``F.lead(ts).over(partitionBy(key).orderBy(ts,
    tie))`` for LOW-CARDINALITY keys.

    The flat lead() window sorts each key's ENTIRE history in one
    unsplittable task (the events table has 5 event types — 5-way maximum
    parallelism at any cluster size, the same class the bucketed z-score
    decomposition retired). Decomposed exactly:

      * within-bucket — lead() over (key, time-bucket) partitions, each
        bounded by one bucket's occupancy;
      * boundary — the last row of each bucket takes the FIRST (min
        (ts, tie) struct) of the key's next non-empty bucket, computed by
        a lead() over the per-(key, bucket) AGGREGATE table (one row per
        non-empty bucket — empty buckets simply aren't rows, so "next
        non-empty" is just the next row) and equi-joined back.

    Exact for any bucket width: every row's successor is either in its own
    bucket or is the first row of the next non-empty bucket. Output: df +
    ``_next_ts`` (NULL for each key's last row). Ties in ``ts_col`` are
    ordered by ``tie_cols`` (pass the FULL-precision timestamp first when
    ``ts_col`` is a truncated epoch: (ts_s, ts, id) sorts identically to
    the oracle's (ts, id) because the truncation is monotone, and gap
    attribution among same-second rows depends on it), so the
    decomposition is deterministic at any partitioning (CLAUDE.md
    tie-broken-total-order invariant).
    """
    from pyspark.sql import Window

    ts_col = "ts_s"
    bucket_s = 3600
    t = F.col(ts_col)
    e = df.withColumn(
        "_lb", (t - F.pmod(t, F.lit(bucket_s))) / bucket_s
    ).withColumn("_lb", F.col("_lb").cast("long"))
    win = Window.partitionBy(key_col, "_lb").orderBy(ts_col, *tie_cols)
    within = e.withColumn("_wnext", F.lead(ts_col).over(win))
    firsts = e.groupBy(key_col, "_lb").agg(
        F.min(F.struct(ts_col, *tie_cols)).alias("_first")
    )
    wk = Window.partitionBy(key_col).orderBy("_lb")
    nexts = firsts.select(
        key_col,
        "_lb",
        F.lead(f"_first.{ts_col}").over(wk).alias("_bnext"),
    )
    return (
        within.join(nexts, [key_col, "_lb"], "left")
        .withColumn("_next_ts", F.coalesce("_wnext", "_bnext"))
        .drop("_lb", "_wnext", "_bnext")
    )
