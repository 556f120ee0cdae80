"""Table loads and the parquet schema memo (sources.read_parquet).

A plain ``spark.read.parquet`` starts one schema-inference job on every
call. ``tables.load`` reads through ``sources.read_parquet``, which infers
once per file version and hands the memoized schema to the reader after
that. These tests pin the job counts and every way the memo must miss: a
rewritten file or directory, a flipped inference conf, a non-local path.
"""

from __future__ import annotations

import datetime
import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_engineering_assignment_spark import sources, tables

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs started)."""
    sc = spark.sparkContext
    group = f"test-tables-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _nanos_events(path):
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([0, 1], pa.int64()),
                "ts": pa.array([1_000_000_123, 2_000_001_999], pa.timestamp("ns")),
            }
        ),
        path,
    )


def test_second_load_starts_no_job(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "t.parquet")
    first, n_first = _jobs(spark, lambda: tables.load(spark, str(tmp_path), "t"))
    second, n_second = _jobs(spark, lambda: tables.load(spark, str(tmp_path), "t"))
    assert n_first >= 1
    assert n_second == 0
    assert second.schema == first.schema
    # same relation either way, so exchange reuse across loads still holds
    assert first.sameSemantics(second)
    assert sorted(r.a for r in second.collect()) == [1, 2, 3]


def test_rewritten_file_reinfers(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert tables.load(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)  # in place
    df, n = _jobs(spark, lambda: tables.load(spark, str(tmp_path), "t"))
    assert n >= 1
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_rewritten_directory_reinfers(spark, tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), d / "part-0.parquet")
    assert tables.load(spark, str(tmp_path), "t").columns == ["a"]
    (d / "part-0.parquet").unlink()
    pq.write_table(pa.table({"a": [3], "c": [2.5]}), d / "part-1.parquet")
    df = tables.load(spark, str(tmp_path), "t")
    assert df.columns == ["a", "c"]
    assert [tuple(r) for r in df.collect()] == [(3, 2.5)]


def test_events_ts_is_ntz_on_miss_and_hit(spark, tmp_path):
    _nanos_events(tmp_path / "events.parquet")
    want = [
        datetime.datetime(1970, 1, 1, 0, 0, 1),
        datetime.datetime(1970, 1, 1, 0, 0, 2, 1),
    ]
    for expect_jobs in (True, False):
        df, n = _jobs(spark, lambda: tables.load(spark, str(tmp_path), "events"))
        assert (n >= 1) is expect_jobs
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        assert [r.ts for r in df.orderBy("event_id").collect()] == want


def test_flipping_nanos_as_long_reinfers(spark, tmp_path):
    path = str(tmp_path / "n.parquet")
    _nanos_events(path)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    assert spark.conf.get(key) == "true"  # pinned by session.RUNTIME_CONF
    assert dict(sources.read_parquet(spark, path).dtypes)["ts"] == "bigint"
    spark.conf.set(key, "false")
    try:
        # a reused bigint schema would read silently; inference rejects nanos
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            sources.read_parquet(spark, path)
    finally:
        spark.conf.set(key, "true")
    df, n = _jobs(spark, lambda: sources.read_parquet(spark, path))
    assert n == 0
    assert dict(df.dtypes)["ts"] == "bigint"


def test_non_local_paths_are_not_memoized(spark, tmp_path):
    pq.write_table(pa.table({"a": [1]}), tmp_path / "t.parquet")
    for path in ("hdfs://nn/t.parquet", "s3a://bucket/t.parquet", "t.parquet"):
        assert sources._schema_memo_key(spark, path) is None
    assert sources._schema_memo_key(spark, str(tmp_path / "*.parquet")) is None
    assert sources._schema_memo_key(spark, str(tmp_path / "missing")) is None
    local = sources._schema_memo_key(spark, str(tmp_path / "t.parquet"))
    uri = sources._schema_memo_key(spark, f"file://{tmp_path}/t.parquet")
    assert local is not None and uri is not None
    assert local[2] == uri[2]  # same file, same fingerprint

