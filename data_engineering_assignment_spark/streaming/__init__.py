"""Structured Streaming surface (additive — the reference has none,
SURVEY.md §2.12).

The batch window operators in ``operators/windows.py`` are built on
``F.window``/analytic windows, which Structured Streaming plans identically;
this module supplies the stream wiring: file-source ``readStream``,
watermarked tumbling/sliding aggregation, ``session_window`` sessionization
(the built-in streaming-safe equivalent of the batch lag/cumsum
sessionizer), and an ``availableNow`` runner used by tests and backfills.

Scale notes: watermarks bound the state store (late events beyond the
watermark are dropped); session_window state is per (user, open session) and
is evicted at watermark + gap; file sources list incrementally, so a backfill
over a petabyte of parquet proceeds file-batch by file-batch with bounded
memory.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregates import dsum
from ..session import tune
from ..sources import read_parquet


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS). With
    ``spark.sql.legacy.parquet.nanosAsLong`` pinned (session.RUNTIME_CONF,
    required for the driver's events table) Spark surfaces these as plain
    ``bigint`` nanoseconds — silently, with no conversion. Detected from one
    footer read so the stream reader can restore real timestamps."""
    import glob
    import os

    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            files = sorted(glob.glob(os.path.join(path, "*.parquet")))
            if not files:
                return []
            target = files[0]
        else:
            target = path
        schema = pq.read_schema(target)
        return [
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:
        return []  # best-effort: unknown layout streams through unchanged


def read_parquet_stream(
    spark: SparkSession, path: str, schema=None
) -> DataFrame:
    """File-source stream over a parquet directory. File streams require an
    explicit schema; by default it is inferred from the existing files
    through :func:`sources.read_parquet` (a footer-merge Spark job on the
    first read of a file version, none once the schema is memoized; no
    data scan).

    TIMESTAMP(NANOS) columns (e.g. the driver's ``events.ts``) surface as
    ``timestamp_ntz`` — natively on Spark 4, or via the nanos-long fallback
    conversion below on configurations that read them as raw ``bigint``
    (where watermark/window calls would otherwise fail or silently
    mis-window). Either way the dtype contract matches ``tables.load`` batch
    reads exactly, so stream-batch unions line up. An explicit ``schema``
    disables the conversion (the caller owns the types then)."""
    tune(spark)
    explicit = schema is not None
    if schema is None:
        schema = read_parquet(spark, path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    if not explicit:
        for c in _nanos_timestamp_cols(path):
            if dict(stream.dtypes).get(c) == "bigint":
                # integer division, exactly tables.load / DuckDB truncation
                stream = stream.withColumn(
                    c,
                    F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast(
                        "timestamp_ntz"
                    ),
                )
    return stream


def tumbling_counts(
    stream: DataFrame,
    duration: str = "10 minutes",
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window counts/sums — streaming twin of
    ``operators.windows.tumbling_agg`` (same aggregate expressions, so batch
    and streaming results agree exactly for on-time data)."""
    keys = keys or []
    win = F.window(F.col(ts_col), duration)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.unix_timestamp(F.col("w").getField("start")).alias("win_start"),
            *keys,
            "n_events",
            "total_value",
        )
    )


def session_window_agg(
    df: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
    watermark: str | None = None,
) -> DataFrame:
    """Gap-based sessions via the built-in ``session_window`` — works on both
    batch and streaming frames (streaming needs ``watermark``).

    Output: (user, session_start, last_event, n_events) with epoch-second
    instants; ``last_event`` is the max event time (the window's end is
    last_event + gap by definition — trimmed here to match the batch
    sessionizer's session_end).
    """
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    sw = F.session_window(F.col(ts_col), gap)
    return (
        df.groupBy(sw.alias("w"), F.col(user_col).alias("user"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.unix_timestamp(F.col(ts_col))).alias("last_event"),
        )
        .select(
            "user",
            F.unix_timestamp(F.col("w").getField("start")).alias("session_start"),
            "last_event",
            "n_events",
        )
    )


def dedup_within_watermark(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exactly-once dedup for at-least-once sources:
    ``dropDuplicatesWithinWatermark`` keeps the first arrival per key and
    drops re-deliveries until the watermark passes the first arrival's event
    time. State is one entry per key per watermark window — bounded, unlike
    ``dropDuplicates`` on a stream, whose state grows forever. Batch twin:
    ``operators.dedup.exact_dedup`` / ``dropDuplicates`` (same keys)."""
    keys = keys or ["event_id"]
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    user_col: str = "user_id",
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    lookback: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join: right rows match left rows of
    the same user within ``[left_ts - lookback, left_ts]`` — the streaming
    twin of ``operators.intervals.point_in_interval_join`` (the
    click→purchase attribution shape). Both sides carry a watermark and the
    join condition bounds event-time distance, so each side's buffered
    state is evicted once the other side's watermark passes the interval —
    state is O(rows within lookback + watermark), not O(stream).

    Callers rename each side's event-time column to ``left_ts`` /
    ``right_ts`` beforehand (stream-stream joins need distinct names on
    both the key and the two clocks)."""
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    return l.join(
        r.withColumnRenamed(user_col, f"_r_{user_col}"),
        F.expr(
            f"{user_col} = _r_{user_col} AND "
            f"{right_ts} >= {left_ts} - INTERVAL {lookback} AND "
            f"{right_ts} <= {left_ts}"
        ),
        "inner",
    ).drop(f"_r_{user_col}")


def stateful_user_totals(
    stream: DataFrame,
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user event count and value sum maintained across micro-batches.

    The reference has no stateful streaming; this is the north-star "custom
    stateful operator" shape — state is one (count, total) pair per user key,
    updated with a numpy sum per batch, emitted in update mode. State size is
    O(users), independent of stream length.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame({"user": [key[0]], "n_events": [n], "total_value": [total]})

    return stream.groupBy(user_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def cdc_snapshot_sink(
    changes: DataFrame,
    snapshot_path: str,
    keys: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
):
    """Maintain a parquet snapshot from a CDC change stream: every
    micro-batch folds into the snapshot via ``operators.cdc.apply_changes``
    (latest-wins upserts + deletes). The lakehouse ``MERGE INTO``-from-a-
    stream pattern without a table format.

    The merged frame is eagerly materialized (``localCheckpoint``) before
    the overwrite — the merge reads the same path it rewrites, and a lazy
    plan would scan files mid-delete. Plain parquet overwrite is not atomic
    for concurrent readers; production deployments point this at a
    transactional table format and replace the write with its MERGE. Batch
    cost is one merge-key shuffle over |snapshot| + |batch|.

    Returns a ``DataStreamWriter`` — caller adds trigger/checkpoint and
    ``.start()``."""
    from ..operators.cdc import apply_changes

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        base = spark.read.parquet(snapshot_path)
        merged = apply_changes(base, batch_df, keys, seq_col, op_col)
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(snapshot_path)

    return changes.writeStream.foreachBatch(apply_batch)


def run_available_now(
    df: DataFrame, output_mode: str = "complete", query_name: str | None = None
) -> DataFrame:
    """Execute a streaming frame over all currently-available input
    (Trigger.AvailableNow) into a memory sink; returns the result table.
    Test/backfill helper — production sinks write parquet/kafka instead."""
    name = query_name or f"q_{uuid.uuid4().hex[:8]}"
    query = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return df.sparkSession.table(name)


def transform_with_state_totals(
    stream: DataFrame,
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Running per-user totals via ``transformWithState`` (Spark 4's
    arbitrary-stateful-processing API, successor to
    ``applyInPandasWithState``): a ``StatefulProcessor`` holding one
    (count, total) ValueState per user, updated per micro-batch.

    Functionally identical to :func:`stateful_user_totals` (tested against
    it); the new API adds composable typed state (value/list/map), timers,
    TTL, and initial-state bootstrap — the recommended surface for new
    stateful operators. State size is O(users), independent of stream
    length.

    Requires ``google.protobuf`` (the transformWithState state server speaks
    protobuf to the Python worker); raises ImportError with guidance when
    absent — ``stateful_user_totals`` is the dependency-free equivalent.
    """
    try:  # the state-server protocol needs protobuf in the Python workers
        import google.protobuf  # noqa: F401
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise ImportError(
            "transformWithState requires the 'protobuf' package in the "
            "Python environment; use stateful_user_totals "
            "(applyInPandasWithState) where it is unavailable"
        ) from exc

    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )

    # type OBJECTS, not a DDL string: the state-schema validation runs in a
    # separate driver worker process where DDL parsing has no active session
    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            prev = self._totals.get() if self._totals.exists() else (0, 0.0)
            n, total = prev
            for pdf in rows:
                n += len(pdf)
                total += float(pdf[value_col].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {"user": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return stream.groupBy(user_col).transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def running_anomaly_flags(
    stream: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    min_n: int = 30,
    z: float = 3.0,
) -> DataFrame:
    """Streaming twin of the batch ``events_anomaly_zscore``: per key, each
    event is judged against the running mean/variance of all PRIOR events,
    maintained as (n, sum, sum-of-squares) state — the same sqrt-free
    power-sum formulation, O(1) state per key.

    Within a micro-batch rows are ordered by event time; prior-stats per row
    are vectorized (shifted cumulative sums), so the Python work per batch is
    one numpy pass. Emits (key, n_seen, n_anomalies) per touched key per
    batch in update mode — the last emission per key is the stream total.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("n_seen", LongType()),
            StructField("n_anomalies", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s1", DoubleType()),
            StructField("s2", DoubleType()),
            StructField("flagged", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        n0, s1_0, s2_0, flagged = (
            state.get if state.exists else (0, 0.0, 0.0, 0)
        )
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col)
            v = pdf[value_col].to_numpy(dtype=np.float64)
            cs = np.cumsum(v)
            cs2 = np.cumsum(v * v)
            n_prior = n0 + np.arange(len(v), dtype=np.int64)
            s1_prior = s1_0 + np.concatenate(([0.0], cs[:-1]))
            s2_prior = s2_0 + np.concatenate(([0.0], cs2[:-1]))
            with np.errstate(divide="ignore", invalid="ignore"):
                mean = s1_prior / n_prior
                var = (s2_prior - s1_prior * s1_prior / n_prior) / (n_prior - 1)
                hit = (n_prior >= min_n) & (
                    (v - mean) * (v - mean) > (z * z) * var
                )
            flagged += int(hit.sum())
            n0 += len(v)
            s1_0 += float(cs[-1]) if len(v) else 0.0
            s2_0 += float(cs2[-1]) if len(v) else 0.0
        state.update((n0, s1_0, s2_0, flagged))
        yield __import__("pandas").DataFrame(
            {"key": [key[0]], "n_seen": [n0], "n_anomalies": [flagged]}
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_twap(
    stream: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    value_scale: int = 100,
) -> DataFrame:
    """Streaming twin of the batch ``event_value_twap``: per key, the
    time-weighted average over all CLOSED segments seen so far (each
    observation holds until the next one arrives; the still-open last
    segment carries no weight — exactly the batch semantics, where the
    final event is excluded).

    State per key is O(1): the open segment's (ts_seconds, value-in-cents)
    plus integer accumulators (cents x seconds numerator, seconds
    denominator, segment count). Values are quantized to integers as
    ``round(value * value_scale)`` so the accumulation is EXACT — the
    float division happens once per emission, mirroring the batch decimal
    discipline. INPUT CONTRACT: exactness (and parity with the batch
    DECIMAL TWAP) holds only for values exactly representable at
    1/value_scale resolution; finer-grained inputs are silently rounded
    (numpy half-even) before accumulating — raise ``value_scale`` (e.g.
    10_000 for 4-dp inputs) to cover them. The divergence and its
    ``value_scale`` cure are pinned by
    tests/test_streaming.py::test_streaming_twap_value_scale_contract.
    Within a micro-batch rows are sorted by (ts, id); across batches
    events are assumed to arrive in event-time order (the running-totals
    twins' assumption — a late event would need watermarked reordering
    upstream).

    Emits (key, n_segments, total_s, twap) per touched key per batch in
    update mode; the last emission per key is the stream total.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("n_segments", LongType()),
            StructField("total_s", LongType()),
            StructField("twap", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_ts", LongType()),
            StructField("last_cents", LongType()),
            StructField("num", LongType()),  # cents * seconds
            StructField("den", LongType()),  # seconds
            StructField("n_seg", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            last_ts, last_cents, num, den, n_seg = state.get
        else:
            last_ts, last_cents, num, den, n_seg = None, None, 0, 0, 0
        import numpy as np

        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values([ts_col, id_col])
            ts_s = (pdf[ts_col].astype("int64") // 1_000_000_000).to_numpy()
            cents = (
                (pdf[value_col].astype("float64") * float(value_scale))
                .round()
                .astype("int64")
            ).to_numpy()
            # one vectorized pass: seed the diff with the open segment
            if last_ts is not None:
                ts_s = np.concatenate(([last_ts], ts_s))
                cents = np.concatenate(([last_cents], cents))
            if len(ts_s) >= 2:
                gaps = np.diff(ts_s)
                num += int((cents[:-1] * gaps).sum())
                den += int(gaps.sum())
                n_seg += len(gaps)
            last_ts, last_cents = int(ts_s[-1]), int(cents[-1])
        state.update((last_ts, last_cents, num, den, n_seg))
        twap = (num / float(value_scale)) / den if den else None
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_segments": [n_seg],
                "total_s": [den],
                "twap": [twap],
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def misra_gries_update(counters: dict, tokens, k: int) -> dict:
    """One Misra-Gries (1982) pass: fold ``tokens`` into the bounded
    ``counters`` summary (at most ``k`` entries). The classic guarantee:
    after n items, any token with true frequency > n/(k+1) is PRESENT,
    and every counter undercounts its token by at most n/(k+1). The
    shared scalar core of the streaming operator and its batch twin —
    one implementation, so parity is structural."""
    for t in tokens:
        if t in counters:
            counters[t] += 1
        elif len(counters) < k:
            counters[t] = 1
        else:
            for key in list(counters):
                counters[key] -= 1
                if counters[key] == 0:
                    del counters[key]
    return counters


_HH_OUT = (
    "key string, tokens array<string>, counts array<long>, n_processed long"
)


def streaming_heavy_hitters(
    stream: DataFrame,
    key_col: str = "lang",
    token_col: str = "token",
    order_col: str = "pos",
    k: int = 8,
    output_mode: str = "update",
) -> DataFrame:
    """Bounded-memory streaming heavy hitters per key: a Misra-Gries
    summary of at most ``k`` counters held in ``applyInPandasWithState``
    state — O(k) per key FOREVER, regardless of stream length or
    vocabulary size (the property a naive streaming word-count lacks).

    Rows are folded in ``order_col`` order within each micro-batch, so a
    batch replay through :func:`heavy_hitters_batch` (same core, same
    order) reproduces the summary exactly — the repo's streaming
    batch-parity discipline. Emitted tokens/counts are sorted by token
    for a deterministic output shape.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("tokens", ArrayType(StringType())),
            StructField("counts", ArrayType(LongType())),
            StructField("n_processed", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("tokens", ArrayType(StringType())),
            StructField("counts", ArrayType(LongType())),
            StructField("n", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            toks, cnts, n = state.get
            counters = dict(zip(toks, cnts))
        else:
            counters, n = {}, 0
        for pdf in pdfs:
            pdf = pdf.sort_values(order_col, kind="mergesort")
            seq = pdf[token_col].tolist()
            misra_gries_update(counters, seq, k)
            n += len(seq)
        items = sorted(counters.items())
        state.update(([t for t, _ in items], [c for _, c in items], n))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "tokens": [[t for t, _ in items]],
                "counts": [[c for _, c in items]],
                "n_processed": [n],
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, output_mode,
        GroupStateTimeout.NoTimeout,
    )


def heavy_hitters_batch(
    df: DataFrame,
    key_col: str = "lang",
    token_col: str = "token",
    order_col: str = "pos",
    k: int = 8,
) -> DataFrame:
    """Batch twin of :func:`streaming_heavy_hitters`: the same
    Misra-Gries core folded over each key's rows in ``order_col`` order
    (one applyInPandas per key). Used by the parity tests; also the
    sensible batch formulation when only the bounded summary (not exact
    counts over an unbounded vocabulary) is wanted."""

    def run(pdf):
        import pandas as pd

        pdf = pdf.sort_values(order_col, kind="mergesort")
        counters = misra_gries_update({}, pdf[token_col].tolist(), k)
        items = sorted(counters.items())
        return pd.DataFrame(
            {
                "key": [pdf[key_col].iloc[0]],
                "tokens": [[t for t, _ in items]],
                "counts": [[c for _, c in items]],
                "n_processed": [len(pdf)],
            }
        )

    return df.groupBy(key_col).applyInPandas(run, _HH_OUT)


def streaming_image_dedup(
    stream: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "phash",
    order_col: str = "pos",
    radius: int = 2,
    bands: int = 3,
    max_bucket: int = 64,
    output_mode: str = "append",
) -> DataFrame:
    """Streaming near-duplicate IMAGE detection over a fingerprint stream
    — the stateful twin of ``operators.imagehash.incremental_image_dedup``
    (which judges a delta BATCH; this judges each arrival as it lands).

    Incoming 63-bit pHashes are split into ``bands`` disjoint bit-bands
    (the exact pigeonhole decomposition shared with the batch path via
    ``operators.imagehash._band_explode`` — stateless, so it runs on the
    stream before the stateful group) and each (band, bucket) group holds
    the fingerprints it has seen in ``applyInPandasWithState`` state.
    Every arrival popcount-verifies against its bucket's stored
    fingerprints and emits one (band, doc_a, doc_b, hamming) row per
    match within ``radius`` (doc_a < doc_b; a pair agreeing in several
    bands emits once per agreeing band — ``distinct()`` on (doc_a, doc_b)
    downstream recovers the pair set, batch-parity-tested).

    State per bucket is BOUNDED at ``max_bucket`` fingerprints: while no
    bucket overflows, recall within ``radius`` is EXACT (pigeonhole);
    past the cap the newest arrivals are not ENROLLED (keep-first — the
    dedup_within_watermark bounded-state tradeoff) but still verify
    against the stored set, so matches against the standing corpus are
    never missed — only pairs between two post-cap arrivals in the same
    bucket can be. Within a micro-batch rows fold in (order_col, id)
    order, so a sequential batch replay reproduces the emission set."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ..operators.imagehash import _band_explode

    if bands < radius + 1:
        raise ValueError("bands must be >= radius + 1 for exact recall")
    banded = _band_explode(stream, 63, bands, id_col, fp_col, carry=(order_col,))

    out_schema = StructType(
        [
            StructField("band", IntegerType()),
            StructField("doc_a", LongType()),
            StructField("doc_b", LongType()),
            StructField("hamming", IntegerType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ids", ArrayType(LongType())),
            StructField("fps", ArrayType(LongType())),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        ids, fps = state.get if state.exists else ([], [])
        ids, fps = list(ids), list(fps)
        out = []
        band = int(key[0])
        for pdf in pdfs:
            pdf = pdf.sort_values([order_col, "_doc"], kind="mergesort")
            for did, fp in zip(pdf["_doc"], pdf["_fp"]):
                did, fp = int(did), int(fp)
                for sid, sfp in zip(ids, fps):
                    d = bin(fp ^ sfp).count("1")
                    if d <= radius and sid != did:
                        a, b2 = (sid, did) if sid < did else (did, sid)
                        out.append((band, a, b2, d))
                if len(ids) < max_bucket:
                    ids.append(did)
                    fps.append(fp)
        state.update((ids, fps))
        yield pd.DataFrame(out, columns=["band", "doc_a", "doc_b", "hamming"])

    return banded.groupBy("band", "bucket").applyInPandasWithState(
        update, out_schema, state_schema, output_mode,
        GroupStateTimeout.NoTimeout,
    )


def streaming_url_frontier(
    stream: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming crawl-frontier URL dedup: emit each logical page's FIRST
    arrival only. The stream is canonicalized with
    ``operators.crawl.canonical_url`` (a stateless JVM expression, so it
    runs on the stream before any state) and then deduped on the
    canonical form with :func:`dedup_within_watermark` — re-spellings of
    the same URL (case, default port, tracking params, trailing slash,
    fragment) collapse to one frontier entry; state is one key per
    canonical URL per watermark window, bounded like every streaming
    operator here.

    Malformed URLs (NULL canonical) are NOT silently dropped (the
    dead-letter discipline): they bypass the dedup state entirely — a
    frontier cannot key or fetch them — and pass through flagged
    ``frontier_ok = false``, one output row per arrival, so an operator
    fleet can count them; fetch-eligible rows carry ``frontier_ok =
    true``. Batch twin: ``distinct`` on non-NULL ``canonical_url``
    unioned with the NULL-canonical rows verbatim (parity-tested)."""
    from ..operators.crawl import canonical_url

    canon = stream.withColumn("canonical_url", canonical_url(url_col))
    ok = dedup_within_watermark(
        canon.filter(F.col("canonical_url").isNotNull()),
        keys=["canonical_url"],
        watermark=watermark,
        ts_col=ts_col,
    ).withColumn("frontier_ok", F.lit(True))
    # stateless branch: malformed arrivals flow through un-deduped (no
    # key to dedup on), each one countable downstream
    bad = canon.filter(F.col("canonical_url").isNull()).withColumn(
        "frontier_ok", F.lit(False)
    )
    return ok.unionByName(bad)


def frontier_politeness_gate(
    stream: DataFrame,
    host_col: str = "url_host",
    ts_col: str = "ts",
    interval_seconds: int = 10,
    watermark: str = "10 minutes",
    interval_col: str | None = None,
) -> DataFrame:
    """Per-host politeness for a fetch frontier: at most ONE URL per
    host per ``interval_seconds`` event-time bucket reaches the fetcher
    — the crawl-scheduling courtesy every polite crawler implements
    beside robots.txt. Implemented as dedup-within-watermark on (host,
    time bucket): state is one entry per active host per bucket inside
    the watermark horizon — bounded, hot hosts cost ONE state row per
    interval no matter how many of their URLs arrive. Emits the first
    arrival per (host, bucket) with a ``politeness_bucket`` column;
    which URL wins is arrival order (a scheduling choice, not a
    deterministic function of the set — parity tests assert the
    (host, bucket) key set and the one-per-key bound, the batch twin
    being ``distinct`` on the same key).

    ``interval_col`` names a per-row interval column (seconds) — the
    per-HOST politeness a robots ``Crawl-delay`` prescribes
    (:func:`functions.robots.crawl_delay`; join the bounded host→delay
    decision table onto the stream first, stream-static). Rows with a
    NULL or non-positive interval fall back to ``interval_seconds`` —
    a real-world ``Crawl-delay: 0`` (or junk negative) must never turn
    into a divide-by-zero that kills the streaming query; junk degrades
    to the default, it never crashes (dead-letter discipline)."""
    secs = (
        F.when(F.col(interval_col) > 0, F.col(interval_col)).otherwise(
            F.lit(interval_seconds)
        )
        if interval_col is not None
        else F.lit(interval_seconds)
    )
    bucket = (F.unix_timestamp(F.col(ts_col)) / secs).cast("long")
    keyed = stream.withColumn("politeness_bucket", bucket)
    return dedup_within_watermark(
        keyed,
        keys=[host_col, "politeness_bucket"],
        watermark=watermark,
        ts_col=ts_col,
    )


def wet_stream_sink(
    pages: DataFrame,
    out_dir: str,
    text_col: str = "text",
    uri_col: str = "uri",
    shard_col: str = "shard",
    gzip_members: bool = False,
):
    """Stream extracted page text into WET files — the streaming end of
    the crawl pipeline (continuous ingest -> continuous corpus export).
    Every micro-batch runs :func:`operators.crawl.wet_export` (one WARC
    'conversion' file per shard, deterministic record order) and appends
    the blobs as parquet rows under ``out_dir`` keyed by
    (shard, batch_id); WARC records concatenate per ISO 28500, so a
    shard's corpus is the concatenation of its batch files in batch_id
    order — no rewrite of standing output, append-only like a real
    archive sink. Exactly-once comes from the checkpoint the caller
    attaches (foreachBatch replays a failed batch id; the parquet append
    of a replayed batch overwrites nothing but duplicates rows — dedup
    on (shard, batch_id) at read time, the standard foreachBatch
    idempotence note).

    Returns a ``DataStreamWriter`` — caller adds trigger/checkpoint and
    ``.start()``."""
    from ..operators.crawl import wet_export

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        wets = wet_export(
            batch_df, text_col, uri_col, shard_col, gzip_members
        ).withColumn("batch_id", F.lit(batch_id))
        wets.write.mode("append").parquet(out_dir)

    return pages.writeStream.foreachBatch(apply_batch)
