"""Streaming-surface tests: batch/streaming parity for tumbling windows, and
session_window vs the analytic batch sessionizer."""

from __future__ import annotations

from datetime import datetime

import pytest

from data_engineering_assignment_spark import streaming as st
from data_engineering_assignment_spark.operators.windows import sessionize, tumbling_agg

try:
    import google.protobuf  # noqa: F401

    _HAS_PROTOBUF = True
except ImportError:
    _HAS_PROTOBUF = False


def ts(minute):
    return datetime(2024, 1, 1, 0, minute)


@pytest.fixture(scope="module")
def events_path(spark, tmp_path_factory):
    rows = [
        (1, ts(0), "a", 1.0),
        (1, ts(4), "b", 2.0),
        (1, ts(11), "a", 4.0),
        (2, ts(12), "a", 8.0),
        (2, ts(55), "a", 16.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_type string, value double"
    )
    path = str(tmp_path_factory.mktemp("stream") / "events")
    df.repartition(2).write.parquet(path)
    return path


def test_streaming_tumbling_matches_batch(spark, events_path):
    stream = st.read_parquet_stream(spark, events_path)
    assert stream.isStreaming
    result = st.run_available_now(st.tumbling_counts(stream, "10 minutes"))
    batch = tumbling_agg(spark.read.parquet(events_path), "10 minutes")
    got = sorted((r["win_start"], r["n_events"], r["total_value"]) for r in result.collect())
    want = sorted((r["win_start"], r["n_events"], r["total_value"]) for r in batch.collect())
    assert got == want and len(got) == 3


def test_session_window_agg_batch_matches_sessionizer(spark, events_path):
    df = spark.read.parquet(events_path)
    via_builtin = sorted(
        (r["user"], r["session_start"], r["last_event"], r["n_events"])
        for r in st.session_window_agg(df, "30 minutes").collect()
    )
    via_analytic = sorted(
        (r["user"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize(df, "30 minutes").collect()
    )
    assert via_builtin == via_analytic


def test_streaming_sessionize(spark, events_path):
    stream = st.read_parquet_stream(spark, events_path)
    out = st.run_available_now(
        st.session_window_agg(stream, "30 minutes", watermark="1 minute")
    )
    rows = sorted((r["user"], r["n_events"]) for r in out.collect())
    # user 1: one session (0,4,11); user 2: sessions (12) and (55)
    assert rows == [(1, 3), (2, 1), (2, 1)]


def test_stateful_user_totals_across_batches(spark, events_path):
    """applyInPandasWithState accumulates across micro-batches; final state
    matches a batch groupBy."""
    # maxFilesPerTrigger=1 forces multiple micro-batches over the 2 files
    src = (
        spark.readStream.schema(spark.read.parquet(events_path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_path)
    )
    out = st.run_available_now(st.stateful_user_totals(src), output_mode="update")
    # update mode emits one row per user per batch that touched it — the LAST
    # emission per user carries the final running totals
    from pyspark.sql import functions as F

    final = {
        r["user"]: (r["n_events"], r["total_value"])
        for r in out.groupBy("user")
        .agg(F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value"))
        .collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["v"])
        for r in spark.read.parquet(events_path)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert final == batch


def test_watermark_drops_late_events(spark, tmp_path):
    """Windowed aggregation must exclude events arriving after the watermark
    has passed their window.

    Exercised across TWO availableNow runs sharing one checkpoint: run 1
    processes the on-time data (watermark advances to 00:55 and is persisted
    in the commit log); the late event lands between runs, and run 2 restores
    the watermark and must drop it. A single-run variant with
    maxFilesPerTrigger=1 is inherently flaky — FileStreamSource's initial
    snapshot has no deterministic intra-run file order, so the late file can
    be scheduled before the watermark-advancing one."""
    from datetime import datetime, timezone

    schema = "user_id bigint, ts timestamp, event_type string, value double"
    d = str(tmp_path / "late")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def run_once():
        src = spark.readStream.schema(schema).parquet(d)
        agg = st.tumbling_counts(src, "10 minutes", watermark="5 minutes")
        q = (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r["win_start"]: r["total_value"]
            for r in spark.read.parquet(sink).collect()
        }

    spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 1), "a", 1.0),
         (1, datetime(2024, 1, 1, 1, 0), "a", 2.0)],  # advances watermark to 00:55
        schema,
    ).coalesce(1).write.parquet(d)
    win0 = int(datetime(2024, 1, 1, 0, 0, tzinfo=timezone.utc).timestamp())
    first = run_once()
    # watermark passed 00:10, so the 00:00 window was finalized and emitted;
    # the 01:00 window is still open and held back in state
    assert first == {win0: 1.0}
    # a late event for the long-closed 00:00 window arrives before run 2
    spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 2), "a", 100.0)], schema
    ).coalesce(1).write.mode("append").parquet(d)
    # run 2 restores watermark 00:55 from the checkpoint: 00:02 is far behind
    # it, so the event is dropped — an accepted late event would re-open win0
    # and re-emit it immediately (a duplicate win0 row with 100.0)
    second = run_once()
    assert second == {win0: 1.0}


def test_dedup_within_watermark_same_batch(spark, tmp_path):
    """Duplicate keys arriving together are collapsed to one row."""
    d = str(tmp_path / "dup")
    schema = "event_id bigint, ts timestamp, value double"
    spark.createDataFrame(
        [(1, ts(0), 1.0), (1, ts(1), 1.0), (2, ts(2), 2.0)], schema
    ).coalesce(1).write.parquet(d)
    src = spark.readStream.schema(schema).parquet(d)
    out = st.run_available_now(
        st.dedup_within_watermark(src, ["event_id"]), output_mode="append"
    )
    assert sorted(r["event_id"] for r in out.collect()) == [1, 2]


def test_dedup_within_watermark_across_restarts(spark, tmp_path):
    """A re-delivery in a later run (at-least-once source) is dropped while
    its first arrival is still within the watermark — state survives the
    restart via the checkpoint."""
    d = str(tmp_path / "dup2")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    schema = "event_id bigint, ts timestamp, value double"

    def run_once():
        src = spark.readStream.schema(schema).parquet(d)
        q = (
            st.dedup_within_watermark(src, ["event_id"], watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r["event_id"] for r in spark.read.parquet(sink).collect())

    spark.createDataFrame([(1, ts(0), 1.0)], schema).coalesce(1).write.parquet(d)
    assert run_once() == [1]
    # the same event re-delivered (same key, event time within the watermark)
    # plus one genuinely new event
    spark.createDataFrame(
        [(1, ts(0), 1.0), (2, ts(3), 2.0)], schema
    ).coalesce(1).write.mode("append").parquet(d)
    assert run_once() == [1, 2]  # no second copy of event 1


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream lookback join returns exactly the batch
    inner-join rows when all data is on time."""
    from pyspark.sql import functions as F

    purchases = [(1, ts(30)), (2, ts(40))]
    clicks = [
        (1, ts(10)),  # within 30 min of purchase(1, :30)
        (1, ts(31)),  # after the purchase → no match
        (2, ts(5)),   # 35 min before purchase(2, :40) → outside lookback
        (2, ts(39)),  # within
    ]
    pdir, cdir = str(tmp_path / "p"), str(tmp_path / "c")
    pschema = "user_id bigint, l_ts timestamp"
    cschema = "user_id bigint, r_ts timestamp"
    spark.createDataFrame(purchases, pschema).coalesce(1).write.parquet(pdir)
    spark.createDataFrame(clicks, cschema).coalesce(1).write.parquet(cdir)

    ps = spark.readStream.schema(pschema).parquet(pdir)
    cs = spark.readStream.schema(cschema).parquet(cdir)
    joined = st.stream_stream_interval_join(ps, cs, lookback="30 minutes")
    assert joined.isStreaming
    got = sorted(
        (r["user_id"], r["l_ts"].minute, r["r_ts"].minute)
        for r in st.run_available_now(joined, output_mode="append").collect()
    )
    pb = spark.read.parquet(pdir)
    cb = spark.read.parquet(cdir).withColumnRenamed("user_id", "c_user")
    want = sorted(
        (r["user_id"], r["l_ts"].minute, r["r_ts"].minute)
        for r in pb.join(
            cb,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 30 minutes"))
            & (F.col("r_ts") <= F.col("l_ts")),
        ).collect()
    )
    assert got == want and len(got) == 2


def test_stream_static_broadcast_join_matches_batch(spark, events_path):
    """Streaming enrichment with a static dimension (broadcast): the
    stream side never shuffles, and results equal the batch join."""
    from pyspark.sql import functions as F

    dim = spark.createDataFrame(
        [("a", 10.0), ("b", 100.0)], "event_type string, weight double"
    )
    stream = st.read_parquet_stream(spark, events_path)
    enriched = (
        stream.join(F.broadcast(dim), "event_type")
        .groupBy("user_id")
        .agg(F.sum(F.col("value") * F.col("weight")).alias("wsum"))
    )
    got = {
        r["user_id"]: r["wsum"]
        for r in st.run_available_now(enriched, output_mode="complete").collect()
    }
    want = {
        r["user_id"]: r["wsum"]
        for r in spark.read.parquet(events_path)
        .join(dim, "event_type")
        .groupBy("user_id")
        .agg(F.sum(F.col("value") * F.col("weight")).alias("wsum"))
        .collect()
    }
    assert got == want and len(got) == 2


def test_cdc_snapshot_sink_applies_change_stream(spark, tmp_path):
    """foreachBatch CDC: a change stream folds into a parquet snapshot with
    latest-wins semantics, across two checkpointed availableNow runs."""
    snap = str(tmp_path / "snap")
    chg = str(tmp_path / "chg")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k bigint, s string, v double"
    ).coalesce(1).write.parquet(snap)
    cschema = "k bigint, s string, v double, seq int, op string"

    def run_once():
        src = spark.readStream.schema(cschema).parquet(chg)
        q = (
            st.cdc_snapshot_sink(src, snap, ["k"])
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r["k"]: (r["s"], r["v"]) for r in spark.read.parquet(snap).collect()
        }

    spark.createDataFrame(
        [(2, "b2", 21.0, 1, "U"), (3, "c", 30.0, 2, "U")], cschema
    ).coalesce(1).write.parquet(chg)
    assert run_once() == {1: ("a", 10.0), 2: ("b2", 21.0), 3: ("c", 30.0)}
    # second batch: delete key 1, update key 3 — only NEW files are applied
    spark.createDataFrame(
        [(1, "a", 10.0, 3, "D"), (3, "c2", 31.0, 4, "U")], cschema
    ).coalesce(1).write.mode("append").parquet(chg)
    assert run_once() == {2: ("b2", 21.0), 3: ("c2", 31.0)}


def test_read_parquet_stream_converts_nanos_ts(spark, sf_dir, tmp_path):
    """The driver's events.parquet is TIMESTAMP(NANOS). The dtype contract
    is timestamp_ntz (Spark 4 reads nanos natively as NTZ; the nanos-long
    fallback path casts to NTZ too) and it must agree with tables.load's
    batch dtype exactly — a stream/batch mismatch would break stream-batch
    unions downstream."""
    import shutil

    from pyspark.sql import functions as F

    from data_engineering_assignment_spark.tables import load

    d = tmp_path / "events_nanos"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-0.parquet")
    stream = st.read_parquet_stream(spark, str(d))
    assert stream.isStreaming
    assert dict(stream.dtypes)["ts"] == "timestamp_ntz"
    assert (
        dict(stream.dtypes)["ts"]
        == dict(load(spark, sf_dir, "events").dtypes)["ts"]
    )
    got = st.run_available_now(
        stream.agg(
            F.min("ts").alias("lo"), F.max("ts").alias("hi"), F.count("*").alias("n")
        )
    ).collect()[0]
    want = (
        load(spark, sf_dir, "events")
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"), F.count("*").alias("n"))
        .collect()[0]
    )
    assert (got["lo"], got["hi"], got["n"]) == (want["lo"], want["hi"], want["n"])


def test_streaming_sliding_matches_batch(spark, events_path):
    from data_engineering_assignment_spark.operators.windows import sliding_agg
    from data_engineering_assignment_spark.operators.aggregates import dsum
    from pyspark.sql import functions as F

    stream = st.read_parquet_stream(spark, events_path)
    win = F.window(F.col("ts"), "10 minutes", "5 minutes")
    streaming = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(win.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.unix_timestamp(F.col("w").getField("start")).alias("win_start"),
            "n_events",
            "total_value",
        )
    )
    got = sorted(
        (r["win_start"], r["n_events"], r["total_value"])
        for r in st.run_available_now(streaming).collect()
    )
    want = sorted(
        (r["win_start"], r["n_events"], r["total_value"])
        for r in sliding_agg(spark.read.parquet(events_path), "10 minutes", "5 minutes").collect()
    )
    assert got == want


@pytest.mark.skipif(
    not _HAS_PROTOBUF,
    reason="transformWithState needs google.protobuf (state-server protocol); "
    "not installed in this environment",
)
def test_transform_with_state_matches_apply_in_pandas_with_state(spark, events_path):
    """Spark 4 transformWithState twin of stateful_user_totals: same final
    running totals across multi-batch execution, same as a batch groupBy."""
    from pyspark.sql import functions as F

    src = (
        spark.readStream.schema(spark.read.parquet(events_path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_path)
    )
    out = st.run_available_now(
        st.transform_with_state_totals(src), output_mode="update"
    )
    final = {
        r["user"]: (r["n_events"], r["total_value"])
        for r in out.groupBy("user")
        .agg(F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value"))
        .collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["v"])
        for r in spark.read.parquet(events_path)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert final == batch


@pytest.mark.skipif(_HAS_PROTOBUF, reason="guard only fires without protobuf")
def test_transform_with_state_guard_message(spark, events_path):
    src = spark.readStream.schema(spark.read.parquet(events_path).schema).parquet(
        events_path
    )
    with pytest.raises(ImportError, match="stateful_user_totals"):
        st.transform_with_state_totals(src)


def test_running_anomaly_flags_across_batches(spark, tmp_path):
    """Streaming z-score: baseline batch establishes state, a later outlier
    is flagged against the running mean/variance of prior events."""
    import math

    from pyspark.sql import functions as F

    d = str(tmp_path / "anom")
    base = datetime(2024, 1, 1)
    # file 0: 40 calm values alternating 9.5/10.5 (mean 10, tight variance)
    rows0 = [
        (i, datetime(2024, 1, 1, 0, i), "a", 10.0 + (0.5 if i % 2 else -0.5))
        for i in range(40)
    ]
    # file 1: one wild outlier then two calm values
    rows1 = [
        (100, datetime(2024, 1, 1, 2, 0), "a", 500.0),
        (101, datetime(2024, 1, 1, 2, 1), "a", 10.5),
        (102, datetime(2024, 1, 1, 2, 2), "a", 9.5),
    ]
    schema = "event_id bigint, ts timestamp, event_type string, value double"
    spark.createDataFrame(rows0, schema).coalesce(1).write.parquet(d)
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(d)
    src = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = st.run_available_now(
        st.running_anomaly_flags(src), output_mode="update"
    )
    final = (
        out.groupBy("key")
        .agg(F.max("n_seen").alias("n"), F.max("n_anomalies").alias("hits"))
        .collect()[0]
    )
    assert final["n"] == 43
    # exactly the 500.0 outlier is flagged: calm values stay within 3 sigma,
    # and after the outlier inflates the variance the next calm values pass
    assert final["hits"] == 1


def test_streaming_bloom_filter_matches_batch(spark, tmp_path):
    """The Bloom probe is pure narrow expressions + broadcast lookups, so
    the same operator runs unchanged under Structured Streaming: stream a
    doc batch through bloom_maybe_contains against a static filter and
    check flags equal the batch run (and no false negatives)."""
    from pyspark.sql import functions as F

    from data_engineering_assignment_spark.operators.sketches import (
        bloom_build,
        bloom_maybe_contains,
    )

    members = spark.createDataFrame(
        [("secret%d" % i,) for i in range(50)], "item string"
    )
    bloom = bloom_build(members, "item", k=4, m_bits=1 << 12).localCheckpoint(True)

    rows = [(i, "secret%d" % (i % 50) if i % 3 == 0 else "clean%d" % i)
            for i in range(90)]
    d = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, item string").write.parquet(d)
    schema = spark.read.parquet(d).schema

    src = spark.readStream.schema(schema).parquet(d)
    flagged = bloom_maybe_contains(bloom, src, "item", k=4, m_bits=1 << 12)
    out = str(tmp_path / "out")
    (
        flagged.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = {r["doc_id"]: r["bloom_hit"] for r in spark.read.parquet(out).collect()}
    batch = {
        r["doc_id"]: r["bloom_hit"]
        for r in bloom_maybe_contains(
            bloom, spark.read.parquet(d), "item", k=4, m_bits=1 << 12
        ).collect()
    }
    assert got == batch
    # no false negatives: every member item flagged
    assert all(got[i] for i in range(0, 90, 3))


def test_streaming_decontamination_probe_pipeline_matches_batch(spark, tmp_path):
    """The REAL bloom_decontaminate probe side — composed shingle-hash
    stream (project + explode, narrow) -> k broadcast Bloom probes ->
    per-doc flag aggregation — runs unchanged as an availableNow stream
    over the documents table, with the Bloom bits a static broadcast: the
    ingest-path decontamination gate closes the loop against the batch
    per-doc flags (r6 verdict stretch item)."""
    from pyspark.sql import functions as F

    from data_engineering_assignment_spark.operators.sketches import (
        bloom_build,
        bloom_maybe_contains,
    )
    from data_engineering_assignment_spark.operators.text import shingle_hash_stream
    from data_engineering_assignment_spark.tables import load

    k, m_bits = 4, 1 << 16
    docs = load(spark, "/root/testdata/sf0.001", "documents")
    # the file-stream source needs a DIRECTORY; the sf table is one file
    path = str(tmp_path / "docs_dir")
    docs.write.parquet(path)

    # static side: Bloom bits over the bench docs' 5-gram shingle hashes
    bench_sh = (
        shingle_hash_stream(docs.filter(F.col("doc_id") % 97 == 0), 5, ("doc_id",), out_col="_rh")
        .select("_rh")
        .distinct()
    )
    bloom = bloom_build(bench_sh, "_rh", k=k, m_bits=m_bits, hash_col="_rh").localCheckpoint(True)

    def probe_perdoc(df):
        train_sh = shingle_hash_stream(
            df.filter(F.col("doc_id") % 97 != 0), 5, ("doc_id", "source"), out_col="_rh"
        )
        probed = bloom_maybe_contains(
            bloom, train_sh.select("doc_id", "source", "_rh"), "_rh",
            k=k, m_bits=m_bits, hash_col="_rh",
        )
        return probed.groupBy("doc_id", "source").agg(
            F.max(F.col("bloom_hit").cast("int")).alias("flagged")
        )

    src = spark.readStream.schema(docs.schema).parquet(path)
    q = (
        probe_perdoc(src)
        .writeStream.format("memory")
        .queryName("decon_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["doc_id"], r["source"]): r["flagged"]
        for r in spark.sql("SELECT * FROM decon_stream").collect()
    }
    want = {
        (r["doc_id"], r["source"]): r["flagged"]
        for r in probe_perdoc(docs).collect()
    }
    assert got == want
    assert len(got) > 0 and any(v == 1 for v in got.values())


def test_streaming_paragraph_dedup_count_parity(spark, tmp_path):
    """Paragraph dedup in the ingest path: the stream-safe paragraph-key
    stage (operators/corpus.paragraph_stream) feeds streaming
    dropDuplicates; the deduped key count must equal the batch
    accounting's total kept paragraphs (keep-first keeps exactly one row
    per distinct key, so the SET agrees even though a stream's arrival
    order can pick a different first occurrence)."""
    from pyspark.sql import functions as F

    from data_engineering_assignment_spark.operators.corpus import (
        paragraph_dedup_stats,
        paragraph_stream,
    )
    from data_engineering_assignment_spark.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    batch_kept = (
        paragraph_dedup_stats(docs, size=16)
        .agg(F.sum("n_kept").alias("k"))
        .collect()[0]["k"]
    )
    d = str(tmp_path / "docs")
    docs.write.parquet(d)
    src = spark.readStream.schema(docs.schema).parquet(d)
    deduped = paragraph_stream(src, size=16).dropDuplicates(["key"])
    out = st.run_available_now(deduped.select("key"), output_mode="append")
    assert out.count() == batch_kept


def test_streaming_incremental_semantic_dedup_matches_batch(spark, tmp_path):
    """incremental_semantic_dedup's delta side runs as an availableNow
    stream against the standing corpus cells (the ingest path): literal-
    centroid fold assignment + stream-static left join + complete-mode
    aggregation must reproduce the batch operator's verdicts exactly —
    cells, rounded best_sim, n_dups and status (r7 verdict item)."""
    from pyspark.sql import functions as F

    from data_engineering_assignment_spark.operators.similarity import (
        incremental_semantic_dedup,
        incremental_semantic_dedup_stream,
    )
    from data_engineering_assignment_spark.tables import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0).limit(40)

    want = {
        r["vec_id"]: (r["cell"], r["best_sim"], r["n_dups"], r["status"])
        for r in incremental_semantic_dedup(corpus, delta).collect()
    }
    assert want

    path = str(tmp_path / "delta_dir")
    delta.write.parquet(path)
    src = spark.readStream.schema(delta.schema).parquet(path)
    q = (
        incremental_semantic_dedup_stream(corpus, src)
        .writeStream.format("memory")
        .queryName("inc_sem_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["vec_id"]: (r["cell"], r["best_sim"], r["n_dups"], r["status"])
        for r in spark.sql("SELECT * FROM inc_sem_stream").collect()
    }
    assert got == want


def test_streaming_twap_matches_batch_across_batches(spark, tmp_path):
    """Streaming TWAP accumulates closed segments across micro-batches and
    matches the batch lead()-window formulation exactly (integer cents x
    seconds state; the open last segment carries no weight)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    d = str(tmp_path / "twap")
    rows0 = [
        (1, datetime(2024, 1, 1, 0, 0, 0), "a", 10.00),
        (2, datetime(2024, 1, 1, 0, 0, 30), "a", 20.00),
        (3, datetime(2024, 1, 1, 0, 0, 30), "a", 30.00),  # same-second tie
        (4, datetime(2024, 1, 1, 0, 1, 0), "b", 5.50),
    ]
    rows1 = [
        (5, datetime(2024, 1, 1, 0, 2, 0), "a", 40.00),  # closes batch-0's open seg
        (6, datetime(2024, 1, 1, 0, 3, 0), "b", 7.25),
        (7, datetime(2024, 1, 1, 0, 4, 0), "b", 1.00),
    ]
    schema = "event_id bigint, ts timestamp, event_type string, value double"
    spark.createDataFrame(rows0, schema).coalesce(1).write.parquet(d)
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(d)

    # batch truth: lead() per type ordered by (ts, event_id)
    batch = spark.read.parquet(d)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = (
        batch.withColumn("ts_s", F.unix_timestamp("ts"))
        .withColumn("gap_s", F.lead("ts_s").over(w) - F.col("ts_s"))
        .filter(F.col("gap_s").isNotNull())
    )
    truth = {
        r.event_type: (r.n, r.tot, r.twap)
        for r in g.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("gap_s").alias("tot"),
            (
                F.sum(F.col("value") * F.col("gap_s")) / F.sum("gap_s")
            ).alias("twap"),
        )
        .collect()
    }

    src = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = st.run_available_now(st.streaming_twap(src), output_mode="update")
    final = {
        r.key: r
        for r in out.groupBy("key")
        .agg(
            F.max("n_segments").alias("n_segments"),
            F.max("total_s").alias("total_s"),
            F.max_by("twap", "n_segments").alias("twap"),
        )
        .collect()
    }
    assert set(final) == set(truth)
    for k, (n, tot, twap) in truth.items():
        assert final[k].n_segments == n, k
        assert final[k].total_s == tot, k
        assert abs(final[k].twap - twap) < 1e-9, k


def test_streaming_twap_value_scale_contract(spark, tmp_path):
    """The ADVICE-flagged input contract, made visible: sub-cent values
    silently quantize to cents at the default value_scale=100 (diverging
    from the exact float TWAP), and a value_scale covering the input's
    resolution restores exact parity."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "twap_subcent")
    # sub-cent values: 0.001 resolution, equal 60 s gaps
    rows = [
        (1, datetime(2024, 1, 1, 0, 0, 0), "a", 10.001),
        (2, datetime(2024, 1, 1, 0, 1, 0), "a", 10.004),
        (3, datetime(2024, 1, 1, 0, 2, 0), "a", 10.000),
    ]
    schema = "event_id bigint, ts timestamp, event_type string, value double"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
    # two closed segments, equal weights: exact TWAP = (10.001+10.004)/2
    exact = (10.001 + 10.004) / 2.0

    def run(scale):
        src = spark.readStream.schema(
            spark.read.parquet(d).schema
        ).parquet(d)
        out = st.run_available_now(
            st.streaming_twap(src, value_scale=scale), output_mode="update"
        )
        return out.agg(F.max_by("twap", "n_segments").alias("t")).collect()[0].t

    # default cents scale: both values round to 10.00 -> twap 10.0 exactly,
    # off the true mean by 2.5e-3 — the documented silent divergence
    t100 = run(100)
    assert abs(t100 - 10.0) < 1e-12
    assert abs(t100 - exact) > 2e-3
    # a scale covering the 3-dp inputs restores exactness
    t10k = run(10_000)
    assert abs(t10k - exact) < 1e-12


def test_heavy_hitters_stream_matches_batch_twin(spark, tmp_path):
    """Misra-Gries summary across micro-batches == the batch twin folded
    in the same order (files arrive in pos order; state carries between
    batches, so sequential folding IS concatenated folding)."""
    import random

    rng = random.Random(7)
    # skewed vocabulary: 'hot1'/'hot2' frequent, long tail of rares
    def rows(start, n):
        out = []
        for i in range(start, start + n):
            r = rng.random()
            tok = "hot1" if r < 0.35 else "hot2" if r < 0.6 else f"rare{rng.randint(0, 40)}"
            out.append(("en" if i % 3 else "de", tok, i))
        return out

    d = str(tmp_path / "hh")
    schema = "lang string, token string, pos bigint"
    spark.createDataFrame(rows(0, 120), schema).coalesce(1).write.parquet(d)
    spark.createDataFrame(rows(120, 80), schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(d)
    )
    out = st.run_available_now(
        st.streaming_heavy_hitters(src, k=4), output_mode="update"
    )
    # last emission per key carries the final summary
    final = {
        r["key"]: (r["tokens"], r["counts"], r["n_processed"])
        for r in sorted(out.collect(), key=lambda r: r["n_processed"])
    }
    batch = {
        r["key"]: (r["tokens"], r["counts"], r["n_processed"])
        for r in st.heavy_hitters_batch(spark.read.parquet(d), k=4).collect()
    }
    assert final == batch
    # Misra-Gries guarantee: every token with freq > n/(k+1) survives
    import collections

    full = collections.Counter()
    keyn = collections.Counter()
    data = spark.read.parquet(d).collect()
    for r in data:
        full[(r["lang"], r["token"])] += 1
        keyn[r["lang"]] += 1
    for (lang, tok), c in full.items():
        if c > keyn[lang] / 5:  # k+1 = 5
            assert tok in batch[lang][0], (lang, tok, c)


def test_heavy_hitters_survives_restart(spark, tmp_path):
    """Two availableNow runs sharing one checkpoint: run 2 resumes the
    Misra-Gries state rather than restarting it."""
    d = str(tmp_path / "hhsrc")
    ck = str(tmp_path / "hhck")
    sink = str(tmp_path / "hhsink")
    schema = "lang string, token string, pos bigint"
    spark.createDataFrame(
        [("en", t, i) for i, t in enumerate(["a", "a", "b", "c", "a"])], schema
    ).coalesce(1).write.parquet(d)

    def run():
        src = spark.readStream.schema(schema).parquet(d)
        q = (
            st.streaming_heavy_hitters(src, k=2, output_mode="append")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    spark.createDataFrame(
        [("en", t, 10 + i) for i, t in enumerate(["a", "b", "b", "b"])], schema
    ).coalesce(1).write.mode("append").parquet(d)
    run()
    rows = sorted(
        spark.read.parquet(sink).collect(), key=lambda r: r["n_processed"]
    )
    assert rows[-1]["n_processed"] == 9  # state resumed, not restarted
    final = dict(zip(rows[-1]["tokens"], rows[-1]["counts"]))
    # replay the 9 tokens through the scalar core
    from data_engineering_assignment_spark.streaming import misra_gries_update

    expect = misra_gries_update(
        {}, ["a", "a", "b", "c", "a", "a", "b", "b", "b"], 2
    )
    assert final == expect


def test_streaming_image_dedup_matches_batch_pairs(spark, tmp_path):
    """The streaming near-dup image detector's distinct (doc_a, doc_b)
    set across micro-batches == the batch banded pair set over the same
    fingerprints (exact while no bucket overflows)."""
    import itertools
    import random

    from data_engineering_assignment_spark.operators.imagehash import (
        image_phash_pairs,
    )

    rng = random.Random(13)
    fps = {}
    hid = 0
    for g in range(20):
        h = rng.getrandbits(63)
        fps[hid] = h; hid += 1
        hv = h
        for b in rng.sample(range(63), g % 3):  # planted 0/1/2-flip dups
            hv ^= 1 << b
        fps[hid] = hv; hid += 1

    d = str(tmp_path / "imgsrc")
    schema = "doc_id bigint, phash bigint, pos bigint"
    items = sorted(fps.items())
    rows = [(i, h, i) for i, h in items]
    spark.createDataFrame(rows[:25], schema).coalesce(1).write.parquet(d)
    spark.createDataFrame(rows[25:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(d)
    )
    out = st.run_available_now(
        st.streaming_image_dedup(src), output_mode="append"
    )
    got = {(r.doc_a, r.doc_b, r.hamming) for r in out.collect()}
    batch_df = spark.createDataFrame(
        [(i, h, True) for i, h in items], "doc_id long, phash long, parse_ok boolean"
    )
    want = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in image_phash_pairs(batch_df, radius=2, bands=3).collect()
    }
    assert got == want and len(want) >= 10


def test_streaming_image_dedup_state_survives_restart(spark, tmp_path):
    """Run 2 resumes the bucket state: a fingerprint arriving after
    restart still matches one enrolled before it."""
    d = str(tmp_path / "imgsrc2")
    ck = str(tmp_path / "imgck")
    sink = str(tmp_path / "imgsink")
    schema = "doc_id bigint, phash bigint, pos bigint"
    spark.createDataFrame(
        [(1, 12345, 1), (2, 999 << 30, 2)], schema
    ).coalesce(1).write.parquet(d)

    def run():
        src = spark.readStream.schema(schema).parquet(d)
        q = (
            st.streaming_image_dedup(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    spark.createDataFrame(
        [(3, 12345 ^ 1, 3)], schema  # 1 bit from doc 1, enrolled in run 1
    ).coalesce(1).write.mode("append").parquet(d)
    run()
    pairs = {(r.doc_a, r.doc_b, r.hamming) for r in spark.read.parquet(sink).collect()}
    assert (1, 3, 1) in pairs
    assert not any(a == 2 or b == 2 for a, b, _ in pairs)


def test_streaming_image_dedup_bucket_cap_keeps_corpus_matches(spark, tmp_path):
    """Past max_bucket the newest arrivals are not enrolled but still
    verify against the stored set: corpus matches survive, post-cap
    pairs among themselves are the documented loss."""
    d = str(tmp_path / "imgsrc3")
    schema = "doc_id bigint, phash bigint, pos bigint"
    base = 0x5A5A5A5A
    # doc 1 enrolls; docs 2..4 hit the cap (max_bucket=1): each still
    # matches doc 1, but 2-3, 2-4, 3-4 (identical!) are not emitted
    rows = [(i, base, i) for i in (1, 2, 3, 4)]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
    src = spark.readStream.schema(schema).parquet(d)
    out = st.run_available_now(
        st.streaming_image_dedup(src, max_bucket=1), output_mode="append"
    )
    got = {(r.doc_a, r.doc_b) for r in out.collect()}
    assert got == {(1, 2), (1, 3), (1, 4)}


def test_streaming_url_frontier_collapses_respellings(spark, tmp_path):
    """Four spellings of one logical URL arriving in-stream collapse to a
    single frontier row whose set of canonical urls matches the batch
    twin (distinct on canonical_url); malformed URLs never enter state —
    they pass through flagged frontier_ok=false, one row per arrival
    (countable dead-letter, never a silent drop)."""
    from data_engineering_assignment_spark.operators.crawl import (
        canonical_url,
    )

    d = str(tmp_path / "frontier")
    schema = "url string, ts timestamp"
    rows = [
        ("http://s3.example/p/42?b=2&a=1", ts(0)),
        ("HTTP://S3.EXAMPLE:80/p/42?a=1&b=2", ts(1)),
        ("http://s3.example//p//42?a=1&b=2&utm_source=x#frag", ts(2)),
        ("http://s3.example/p/42/?a=1&b=2", ts(3)),
        ("https://other.example/x", ts(4)),
        ("not a url", ts(5)),
    ]
    batch = spark.createDataFrame(rows, schema)
    batch.coalesce(1).write.parquet(d)
    src = spark.readStream.schema(schema).parquet(d)
    out = st.run_available_now(
        st.streaming_url_frontier(src), output_mode="append"
    )
    rows = out.collect()
    got = sorted(r["canonical_url"] for r in rows if r["frontier_ok"])
    want = sorted(
        r["c"]
        for r in batch.select(canonical_url("url").alias("c"))
        .filter("c IS NOT NULL")
        .distinct()
        .collect()
    )
    assert got == want == [
        "http://s3.example/p/42?a=1&b=2",
        "https://other.example/x",
    ]
    # the malformed arrival surfaces exactly once, flagged, un-keyed
    bad = [r for r in rows if not r["frontier_ok"]]
    assert len(bad) == 1
    assert bad[0]["url"] == "not a url"
    assert bad[0]["canonical_url"] is None


def test_streaming_crawl_ingest_pipeline(spark, tmp_path):
    """The batch crawl operators run UNMODIFIED on a stream: parquet
    archives arrive via readStream, warc_records explodes records,
    html_extract pulls text (both are stateless mapInPandas, legal in
    streaming), and the per-batch output matches the batch run."""
    from data_engineering_assignment_spark.functions.warc import build_warc
    from data_engineering_assignment_spark.operators.crawl import html_extract
    from data_engineering_assignment_spark.sources import warc_records

    d = str(tmp_path / "crawlstream")
    rows = []
    for i in range(6):
        html = f"<html><body><p>page {i} of crawl</p></body></html>".encode()
        recs = [
            (
                {
                    "WARC-Type": "response",
                    "WARC-Target-URI": f"http://st.example/{i}",
                    "Content-Type": "application/http;msgtype=response",
                },
                b"HTTP/1.1 200 OK\r\n\r\n" + html,
            )
        ]
        rows.append((i, bytearray(build_warc(recs, gzip_members=bool(i % 2)))))
    batch = spark.createDataFrame(rows, "archive_id long, content binary")
    batch.coalesce(2).write.parquet(d)

    def pipeline(df):
        recs = warc_records(df, include_body=True).filter(
            "parse_ok AND warc_type = 'response'"
        )
        from pyspark.sql import functions as F

        return html_extract(recs).select(
            "archive_id", "target_uri", F.col("page.text").alias("text")
        )

    src = spark.readStream.schema(batch.schema).parquet(d)
    got = {
        r.archive_id: (r.target_uri, r.text)
        for r in st.run_available_now(pipeline(src), output_mode="append").collect()
    }
    want = {
        r.archive_id: (r.target_uri, r.text) for r in pipeline(batch).collect()
    }
    assert got == want and len(got) == 6
    assert got[3] == ("http://st.example/3", "page 3 of crawl")


def test_wet_stream_sink_roundtrip(spark, tmp_path):
    """Streaming WET export: pages arriving over two availableNow runs
    append per-shard WET files; re-parsing the accumulated output in
    batch_id order reproduces every page exactly once."""
    from data_engineering_assignment_spark.functions.warc import parse_warc

    src_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "wet")
    ckpt = str(tmp_path / "ckpt")
    schema = "shard long, uri string, text string"

    def run_once():
        src = spark.readStream.schema(schema).parquet(src_dir)
        q = (
            st.wet_stream_sink(src, out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        [(i % 2, f"http://w.example/{i}", f"text {i}") for i in range(4)],
        schema,
    ).coalesce(1).write.parquet(src_dir)
    run_once()
    spark.createDataFrame(
        [(i % 2, f"http://w.example/{i}", f"text {i}") for i in range(4, 8)],
        schema,
    ).coalesce(1).write.mode("append").parquet(src_dir)
    run_once()  # checkpoint resumes: only the new file is processed

    rows = spark.read.parquet(out_dir).collect()
    got = {}
    for r in sorted(rows, key=lambda r: (r.shard, r.batch_id)):
        for rec in parse_warc(bytes(r.wet)):
            uri = rec["headers"]["WARC-Target-URI"]
            assert uri not in got  # exactly once across batches
            got[uri] = rec["payload"].decode()
    assert got == {f"http://w.example/{i}": f"text {i}" for i in range(8)}


def test_streaming_frontier_robots_composition(spark, tmp_path):
    """The last unchained crawl pair: streaming_url_frontier ->
    with_url_parts -> robots_filter_stream (stream-static join on the
    packed per-host rule table) -> fetch-eligible page stream. Parity
    vs the batch composition (distinct canonical -> robots_filter) and
    checkpoint restart (a re-spelling arriving in run 2 must NOT
    re-enter the frontier)."""
    from data_engineering_assignment_spark.operators.crawl import (
        canonical_url,
        robots_filter,
        robots_filter_stream,
        with_url_parts,
    )

    d = str(tmp_path / "frsrc")
    ck = str(tmp_path / "frck")
    sink = str(tmp_path / "frsink")
    schema = "url string, ts timestamp"
    robots = spark.createDataFrame(
        [("h1.example", "User-agent: *\nDisallow: /d/\nAllow: /d/a\n")],
        "url_host string, content string",
    )
    batch1 = [
        ("http://h1.example/d/a1?b=2&a=1", ts(0)),   # allowed (Allow /d/a)
        ("HTTP://H1.EXAMPLE:80/d/a1?a=1&b=2", ts(1)),  # same canonical
        ("http://h1.example/d/z", ts(2)),            # blocked (Disallow /d/)
        ("http://h2.example/anything", ts(3)),       # no robots -> allowed
        ("not a url", ts(4)),                        # dead-letter
    ]
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(d)

    def run():
        src = spark.readStream.schema(schema).parquet(d)
        frontier = st.streaming_url_frontier(src).filter("frontier_ok")
        parts = with_url_parts(frontier, url_col="canonical_url")
        gated = robots_filter_stream(parts, robots, "graftbot").select(
            "canonical_url", "url_host", "url_path", "allowed"
        )
        q = (
            gated.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    got1 = {
        (r.canonical_url, r.allowed)
        for r in spark.read.parquet(sink).collect()
    }
    batch_df = spark.createDataFrame(batch1, schema)
    canon = (
        batch_df.select(canonical_url("url").alias("canonical_url"))
        .filter("canonical_url IS NOT NULL")
        .distinct()
    )
    want1 = {
        (r.canonical_url, r.allowed)
        for r in robots_filter(
            with_url_parts(canon, url_col="canonical_url"), robots, "graftbot"
        ).collect()
    }
    assert got1 == want1 == {
        ("http://h1.example/d/a1?a=1&b=2", True),
        ("http://h1.example/d/z", False),
        ("http://h2.example/anything", True),
    }

    # run 2: one more re-spelling of the run-1 URL (must stay deduped via
    # the restored checkpoint state) + one genuinely new blocked URL
    spark.createDataFrame(
        [
            ("http://h1.example/d/a1/?a=1&b=2#frag", ts(5)),
            ("http://h1.example/d/new", ts(6)),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(d)
    run()
    got2 = {
        (r.canonical_url, r.allowed)
        for r in spark.read.parquet(sink).collect()
    }
    assert got2 == got1 | {("http://h1.example/d/new", False)}


def test_streaming_qdigest_rollup(spark, tmp_path):
    """The q-digest's streaming contract: each micro-batch builds its
    own digest (foreachBatch, appended to a digest store), and the
    rollup merge over ALL batch digests preserves exact mass and keeps
    quantile estimates inside the additive error bound vs the pooled
    exact values — continuous percentiles without corpus re-scans."""
    import random

    from data_engineering_assignment_spark.operators.sketches import (
        qdigest_build,
        qdigest_merge,
        qdigest_quantiles,
    )

    rng = random.Random(17)
    batches = [
        [rng.randrange(0, 1 << 12) for _ in range(4000)] for _ in range(3)
    ]
    d = str(tmp_path / "qdsrc")
    ck = str(tmp_path / "qdck")
    store = str(tmp_path / "qdstore")
    schema = "v long"

    def sink(batch_df, batch_id):
        from pyspark.sql import functions as SF

        qdigest_build(batch_df, "v", k=256, bits=12).withColumn(
            "batch_id", SF.lit(batch_id)
        ).write.mode("append").parquet(store)

    for i, vals in enumerate(batches):
        spark.createDataFrame([(v,) for v in vals], schema).coalesce(
            1
        ).write.mode("append").parquet(d)
        q = (
            spark.readStream.schema(schema)
            .parquet(d)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    digests = spark.read.parquet(store)
    # exactly one digest per micro-batch (checkpoint: no re-processing)
    assert digests.select("batch_id").distinct().count() == 3
    merged = qdigest_merge(
        digests.select("node", "cnt"), k=256, bits=12
    )
    pooled = sorted(v for b in batches for v in b)
    n = sum(r.cnt for r in merged.collect())
    assert n == len(pooled)
    ests = {
        r.pct: r.est
        for r in qdigest_quantiles(merged, [25, 50, 75, 99], bits=12).collect()
    }
    import bisect

    bound = 4 * 12 * (n // 256)  # 3 batch compressions + 1 merge
    for pct, est in ests.items():
        r = max(1, (pct * n + 99) // 100)
        lo_r = bisect.bisect_left(pooled, est) + 1
        hi_r = bisect.bisect_right(pooled, est)
        err = 0 if lo_r <= r <= hi_r else min(abs(r - lo_r), abs(r - hi_r))
        assert err <= bound, (pct, est, err, bound)


def test_frontier_politeness_gate(spark, tmp_path):
    """At most one URL per host per event-time bucket reaches the
    fetcher; the emitted (host, bucket) key set equals the batch twin
    (distinct on the same key) and hot hosts collapse to one row per
    interval."""
    d = str(tmp_path / "polsrc")
    schema = "url_host string, url string, ts timestamp"
    rows = []
    # hot host: 5 URLs inside one 10s bucket + 2 in the next bucket
    for i in range(5):
        rows.append(("hot.example", f"http://hot.example/{i}", ts(0)))
    rows.append(("hot.example", "http://hot.example/10", ts(11)))
    rows.append(("hot.example", "http://hot.example/11", ts(11)))
    # quiet host: one URL per bucket
    rows.append(("quiet.example", "http://quiet.example/a", ts(1)))
    rows.append(("quiet.example", "http://quiet.example/b", ts(25)))
    batch = spark.createDataFrame(rows, schema)
    batch.coalesce(1).write.parquet(d)
    src = spark.readStream.schema(schema).parquet(d)
    out = st.run_available_now(
        st.frontier_politeness_gate(src), output_mode="append"
    ).collect()
    from pyspark.sql import functions as SF

    got = [(r.url_host, r.politeness_bucket) for r in out]
    assert len(got) == len(set(got))  # one per key, never more
    want = {
        (r.url_host, r.b)
        for r in batch.select(
            "url_host",
            (SF.unix_timestamp("ts") / 10).cast("long").alias("b"),
        )
        .distinct()
        .collect()
    }
    assert set(got) == want
    assert len([1 for h, _ in got if h == "hot.example"]) == 2


def test_streaming_sitemap_frontier_seeding(spark, tmp_path):
    """Sitemap ingest runs UNMODIFIED on a stream (stateless mapInPandas)
    and composes with the frontier's stream-static LEFT ANTI dedup
    against the already-captured set: per-batch seeded URLs match the
    batch run, captured locs never surface."""
    from pyspark.sql import functions as F

    from data_engineering_assignment_spark.functions.sitemaps import (
        build_sitemap,
    )
    from data_engineering_assignment_spark.operators.crawl import (
        canonical_url,
        sitemap_entries,
    )

    d = str(tmp_path / "sitemapstream")
    rows = []
    for i in range(4):
        if i == 3:  # plain-text form rides the same operator
            blob = f"http://st.example/p/{i}/0\nhttp://st.example/p/{i}/1\n".encode()
        else:
            blob = build_sitemap(
                [
                    {"loc": f"http://st.example/p/{i}/{j}"}
                    for j in range(i + 1)
                ],
                gzipped=bool(i % 2),
            )
        rows.append((f"http://st.example/sm{i}.xml", bytearray(blob)))
    batch = spark.createDataFrame(rows, "target_uri string, content binary")
    batch.coalesce(2).write.parquet(d)

    captured = spark.createDataFrame(
        [(f"http://st.example/p/{i}/0",) for i in range(4)], "url string"
    )

    def pipeline(df):
        ent = sitemap_entries(df, content_col="content")
        return (
            ent.filter(F.col("loc").isNotNull())
            .select(canonical_url("loc").alias("url"))
            .join(captured, "url", "left_anti")
        )

    src = spark.readStream.schema(batch.schema).parquet(d)
    got = {
        r.url
        for r in st.run_available_now(
            pipeline(src), output_mode="append"
        ).collect()
    }
    want = {r.url for r in pipeline(batch).collect()}
    assert got == want
    # j=0 of every sitemap was already captured; the rest seed the frontier
    assert got == {
        "http://st.example/p/1/1",
        "http://st.example/p/2/1",
        "http://st.example/p/2/2",
        "http://st.example/p/3/1",
    }


def test_politeness_gate_per_host_crawl_delay(spark, tmp_path):
    """Crawl-delay-sized politeness: a static host->interval table
    (functions.robots.crawl_delay values) joins onto the frontier stream
    and the gate buckets each host by ITS OWN interval; hosts without a
    delay fall back to the default."""
    from pyspark.sql import functions as SF

    d = str(tmp_path / "poldelay")
    schema = "url_host string, url string, ts timestamp"
    rows = []
    # slow.example declares a 30-minute delay: URLs at minutes 0/11/25
    # land in ONE 1800s bucket; nodelay.example's 10s default puts the
    # same stamps in 3 buckets
    for i, minute in enumerate((0, 11, 25)):
        rows.append(("slow.example", f"http://slow.example/{i}", ts(minute)))
        rows.append(("nodelay.example", f"http://n.example/{i}", ts(minute)))
    batch = spark.createDataFrame(rows, schema)
    batch.coalesce(1).write.parquet(d)
    delays = spark.createDataFrame(
        [("slow.example", 1800)], "url_host string, delay_s int"
    )
    src = (
        spark.readStream.schema(batch.schema)
        .parquet(d)
        .join(delays, "url_host", "left")
    )
    out = st.run_available_now(
        st.frontier_politeness_gate(src, interval_col="delay_s"),
        output_mode="append",
    ).collect()
    got = [(r.url_host, r.politeness_bucket) for r in out]
    assert len(got) == len(set(got))
    by_host = {}
    for h, b in got:
        by_host.setdefault(h, set()).add(b)
    assert len(by_host["slow.example"]) == 1  # 1800s interval: one fetch
    assert len(by_host["nodelay.example"]) == 3  # default 10s buckets
    want = {
        (r.url_host, r.b)
        for r in batch.join(delays, "url_host", "left")
        .select(
            "url_host",
            (
                SF.unix_timestamp("ts")
                / SF.coalesce("delay_s", SF.lit(10))
            )
            .cast("long")
            .alias("b"),
        )
        .distinct()
        .collect()
    }
    assert set(got) == want


def test_politeness_gate_nonpositive_interval_falls_back(spark, tmp_path):
    """A joined interval of 0 (real-world 'Crawl-delay: 0') or a junk
    negative must NOT divide-by-zero under ANSI and kill the stream —
    non-positive intervals degrade to the default interval_seconds,
    per the junk-never-crashes dead-letter discipline (r12 advisor
    finding)."""
    from pyspark.sql import functions as SF

    d = str(tmp_path / "polzero")
    schema = "url_host string, url string, ts timestamp"
    rows = []
    for i, minute in enumerate((0, 11, 25)):
        rows.append(("zero.example", f"http://z.example/{i}", ts(minute)))
        rows.append(("neg.example", f"http://g.example/{i}", ts(minute)))
    batch = spark.createDataFrame(rows, schema)
    batch.coalesce(1).write.parquet(d)
    delays = spark.createDataFrame(
        [("zero.example", 0), ("neg.example", -5)],
        "url_host string, delay_s int",
    )
    src = (
        spark.readStream.schema(batch.schema)
        .parquet(d)
        .join(delays, "url_host", "left")
    )
    out = st.run_available_now(
        st.frontier_politeness_gate(src, interval_col="delay_s"),
        output_mode="append",
    ).collect()
    got = [(r.url_host, r.politeness_bucket) for r in out]
    assert len(got) == len(set(got))
    # both hosts bucket on the 10s DEFAULT: 3 distinct buckets each
    want = {
        (r.url_host, r.b)
        for r in batch.select(
            "url_host",
            (SF.unix_timestamp("ts") / SF.lit(10)).cast("long").alias("b"),
        )
        .distinct()
        .collect()
    }
    assert set(got) == want
    assert len(got) == 6


def test_streaming_kmv_bottomk_rollup(spark, tmp_path):
    """KMV bottom-k's streaming contract: each micro-batch builds its
    own per-key sketch (foreachBatch, appended to a sketch store), and
    the rollup merge — k smallest of the unioned per-batch samples — is
    IDENTICAL to the batch sketch over all data (the union's bottom-k
    is contained in the union of per-part bottom-ks), so set-operation
    estimates keep working without corpus re-scans."""
    from pyspark.sql import functions as SF

    from data_engineering_assignment_spark.operators.sketches import (
        kmv_bottomk,
    )

    k = 16
    batches = [
        [("A", i) for i in range(0, 30)] + [("B", i) for i in range(50, 70)],
        [("A", i) for i in range(20, 55)] + [("B", i) for i in range(60, 90)],
        [("A", i) for i in range(100, 140)],
    ]
    d = str(tmp_path / "kmvsrc")
    ck = str(tmp_path / "kmvck")
    store = str(tmp_path / "kmvstore")
    schema = "key string, item long"

    def sink(batch_df, batch_id):
        kmv_bottomk(batch_df, "item", "key", k).withColumn(
            "batch_id", SF.lit(batch_id)
        ).write.mode("append").parquet(store)

    for vals in batches:
        spark.createDataFrame(vals, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        q = (
            spark.readStream.schema(schema)
            .parquet(d)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    sketches = spark.read.parquet(store)
    assert sketches.select("batch_id").distinct().count() == 3
    merged = {
        r.key: r.merged
        for r in sketches.groupBy("key")
        .agg(
            SF.slice(
                SF.array_sort(
                    SF.array_distinct(SF.flatten(SF.collect_list("sketch")))
                ),
                1,
                k,
            ).alias("merged")
        )
        .collect()
    }
    full = spark.createDataFrame(
        [row for b in batches for row in b], schema
    )
    want = {r.key: r.sketch for r in kmv_bottomk(full, "item", "key", k).collect()}
    assert merged == want
