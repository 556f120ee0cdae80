"""Advanced-4 energy pipeline tests on a synthetic learnable time series."""

from __future__ import annotations

import math

import pytest

from data_engineering_assignment_spark.pipelines import energy as en
from data_engineering_assignment_spark.schemas import ENERGY_SCHEMA


@pytest.fixture(scope="module")
def energy_df(spark):
    """Hourly rows over ~60 days; temperature strongly encodes hour-of-day,
    solar power encodes daylight — so the peak-hour runs must beat chance."""
    rows = []
    t0 = 1672531200  # 2023-01-01T00:00:00Z
    for i in range(24 * 25):
        t = t0 + i * 3600
        hour = (i % 24)
        temp = 10.0 + 8.0 * math.sin((hour - 6) * math.pi / 12) + (i % 7) * 0.01
        solar = max(0.0, 5.0 * math.sin((hour - 6) * math.pi / 12))
        rows.append(
            (t, temp, 50.0 + hour, 3.0 + (i % 5) * 0.1, 20.0 + (i % 11),
             5.0 + (i % 3), solar, 30.0 + hour * 0.5)
        )
    # one row with a null to exercise dropna
    rows.append((t0 - 3600, None, 50.0, 3.0, 20.0, 5.0, 0.0, 30.0))
    return spark.createDataFrame(rows, ENERGY_SCHEMA)


def test_prepare_labels_and_dropna(spark, energy_df):
    prepped = en.prepare(energy_df)
    assert prepped.count() == 24 * 25  # null row dropped
    row = prepped.filter(prepped.time == 1672531200).collect()[0]
    # 2023-01-01T00:00:00 UTC → month 1, hour 0, day 1, off-peak
    assert (row["month"], row["hour"], row["day_of_month"], row["is_peak_hour"]) == (
        1.0, 0.0, 1.0, 0.0,
    )
    peak = prepped.filter(prepped.hour == 12.0).collect()[0]
    assert peak["is_peak_hour"] == 1.0


def test_peak_runs_beat_chance(spark, energy_df):
    report = {
        r["run"]: r
        for r in en.run_all(energy_df).collect()
    }
    assert len(report) == 8
    # hour-encoding features → peak-hour classification must be near-perfect
    assert report["peak_weather"]["accuracy"] > 0.9
    assert report["peak_all"]["accuracy"] > 0.9
    # hour prediction from features encoding hour: cyclic ±1 should be strong
    assert report["hour_all"]["within_one"] > 0.5
    for r in report.values():
        assert 0.0 <= r["accuracy"] <= r["within_one"] <= 1.0
