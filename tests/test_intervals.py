"""Interval-join operator tests: keyed point-in-interval."""

from __future__ import annotations

from data_engineering_assignment_spark.operators.intervals import point_in_interval_join


def test_point_in_interval_left_closed(spark):
    points = spark.createDataFrame(
        [(1, 0.0), (1, 5.0), (1, 10.0), (2, 5.0)], "k bigint, t double"
    )
    intervals = spark.createDataFrame(
        [(1, 0.0, 10.0, "a"), (2, 6.0, 8.0, "b")], "k bigint, lo double, hi double, tag string"
    )
    out = point_in_interval_join(
        points, intervals, on=["k"], point_col="t", start_col="lo", end_col="hi"
    ).collect()
    got = sorted((r["t"], r["tag"]) for r in out)
    # t=10.0 excluded (right-open); k=2 point at 5.0 not in [6,8)
    assert got == [(0.0, "a"), (5.0, "a")]
