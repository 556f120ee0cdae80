"""Advanced Task 4: energy time-series ML classification
(Assignment-python.py:845-1049).

Pipeline: dropna (:910) → calendar labels from the UNIX-seconds ``time``
column (:913-918) → four feature sets (:923-926) × labels → seeded
RandomForest runs through ``dea.ml`` → one report row per run, positionally
unioned and sorted (:1015-1035).

Reference quirks preserved (SURVEY.md §8): the "weekday" label is actually
day-of-month (``from_unixtime(time,"dd")``, Q5 — kept, named honestly as
``day_of_month``); ``from_unixtime`` is session-timezone-dependent (Q7 —
our sessions pin UTC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import ml

WEATHER_FEATURES = ["temperature", "humidity", "wind_speed"]
POWER_FEATURES = ["power_tenants", "power_maintenance", "power_solar_panels"]
ALL_FEATURES = WEATHER_FEATURES + POWER_FEATURES + ["electricity_price"]
WEATHER_PRICE_FEATURES = WEATHER_FEATURES + ["electricity_price"]


def prepare(energy: DataFrame) -> DataFrame:
    """dropna + calendar labels from epoch seconds (:910-918)."""
    t = F.from_unixtime(F.col("time"))
    return (
        energy.dropna()
        .withColumn("month", F.from_unixtime(F.col("time"), "MM").cast("int").cast("double"))
        .withColumn("hour", F.from_unixtime(F.col("time"), "HH").cast("int").cast("double"))
        # reference computes "dd" and calls it weekday (Q5) — honest name here
        .withColumn(
            "day_of_month", F.from_unixtime(F.col("time"), "dd").cast("int").cast("double")
        )
        .withColumn(
            "is_peak_hour",
            F.when(F.from_unixtime(F.col("time"), "HH").cast("int").between(8, 18), 1.0)
            .otherwise(0.0),
        )
    )


# (run name, feature columns, label, cyclic modulus or None) — the
# reference's 8 train/evaluate executions (:1015-1022).
RUNS: list[tuple[str, list[str], str, int | None]] = [
    ("month_weather", WEATHER_FEATURES, "month", 12),
    ("month_power", POWER_FEATURES, "month", 12),
    ("hour_all", ALL_FEATURES, "hour", 24),
    ("hour_weather_price", WEATHER_PRICE_FEATURES, "hour", 24),
    ("day_weather", WEATHER_FEATURES, "day_of_month", 31),
    ("day_power", POWER_FEATURES, "day_of_month", 31),
    ("peak_weather", WEATHER_FEATURES, "is_peak_hour", None),
    ("peak_all", ALL_FEATURES, "is_peak_hour", None),
]


def run_all(energy: DataFrame) -> DataFrame:
    """All 8 classification runs → report frame sorted by accuracy (:1025-1035)."""
    num_trees = 5
    seed = 1
    return ml.classification_report(prepare(energy), RUNS, num_trees=num_trees, seed=seed)
