"""ML classification query (rows-only check — RandomForest has no SQL
oracle; the driver records row-count/schema stability, unit tests assert
accuracy floors)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from . import register


@register(
    "ml_peak_classification",
    oracle=None,  # RF training is not SQL-expressible; gated by tests/test_ml.py
    doc="M1-M7 analog (Assignment-python.py:929-1035): VectorAssembler → "
    "seeded RF → built-in + custom evaluators, one report row per run.",
)
def ml_peak_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml import classification_report, enforce_report_floors

    ev = load(spark, sf_dir, "events")
    feats = (
        ev.withColumn("minute_of_day", (F.hour("ts") * 60 + F.minute("ts")).cast("double"))
        .withColumn("dow", F.dayofweek("ts").cast("double"))
        .withColumn(
            "is_peak", F.hour("ts").between(8, 18).cast("int").cast("double")
        )
        .withColumn("hour_of_day", F.hour("ts").cast("double"))
        .select("minute_of_day", "dow", "value", "is_peak", "hour_of_day")
    )
    runs = [
        ("peak_from_time", ["minute_of_day", "dow"], "is_peak", None),
        ("peak_from_value", ["value", "dow"], "is_peak", None),
        ("hour_cyclic", ["minute_of_day", "value"], "hour_of_day", 24),
    ]
    report = classification_report(feats, runs, num_trees=10, seed=1)
    # floors vs seeded observations at sf0.001/sf0.01: peak_from_time acc
    # .966/.972, hour_cyclic within_one .994/1.0, peak_from_value acc
    # .514/.533 (value is noise for is_peak — base-rate sanity floor only)
    return enforce_report_floors(
        report,
        [
            ("peak_from_time", "accuracy", 0.85),
            ("hour_cyclic", "within_one", 0.9),
            ("peak_from_value", "accuracy", 0.40),
        ],
    )


@register(
    "ml_energy_report",
    oracle=None,  # RF training is not SQL-expressible; floors in tests/test_energy.py
    doc="The FULL Advanced-4 report (Assignment-python.py:1015-1035): all 8 "
    "RF train/evaluate runs (month/hour/day-of-month/peak × feature sets) "
    "positionally unioned into one (run, accuracy, within_one, correct_prob) "
    "table, driven by an energy-shaped frame derived deterministically from "
    "the events table (hour-encoding features, so the peak/hour runs are "
    "learnable).",
)
def ml_energy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..pipelines.energy import run_all

    ev = load(spark, sf_dir, "events")
    # deterministic subsample bounds RF cost at higher SFs; the report's
    # schema and run set are the surface under test, not model quality
    ev = ev.filter(F.col("event_id") % 2 == 0)
    angle = (F.hour("ts") - 6) * (math.pi / 12)
    energy = ev.select(
        F.unix_timestamp("ts").alias("time"),
        (10.0 + 8.0 * F.sin(angle) + (F.col("event_id") % 7) * 0.01).alias("temperature"),
        (50.0 + F.hour("ts")).cast("double").alias("humidity"),
        (3.0 + (F.col("event_id") % 5) * 0.1).alias("wind_speed"),
        (20.0 + F.col("user_id") % 11).cast("double").alias("power_tenants"),
        (5.0 + F.col("event_id") % 3).cast("double").alias("power_maintenance"),
        F.greatest(F.lit(0.0), 5.0 * F.sin(angle)).alias("power_solar_panels"),
        (30.0 + F.col("value")).alias("electricity_price"),
    )
    from ..ml import enforce_report_floors

    # floors vs seeded observations at sf0.001/sf0.01: month/peak runs 1.0
    # exactly (fully-derivable labels), hour_all within_one .884/.958; the
    # day runs are label noise by construction — no floor.
    return enforce_report_floors(
        run_all(energy),
        [
            ("month_weather", "accuracy", 0.9),
            ("peak_weather", "accuracy", 0.9),
            ("peak_all", "accuracy", 0.9),
            ("hour_all", "within_one", 0.5),
        ],
    )


_ML_EVAL_ORACLE = """
WITH p AS (
  SELECT CASE event_type WHEN 'click' THEN 0.0 WHEN 'error' THEN 1.0
              WHEN 'purchase' THEN 2.0 WHEN 'signup' THEN 3.0 ELSE 4.0 END AS label,
         CASE WHEN value < 50 THEN 0.0 WHEN value < 150 THEN 2.0
              WHEN value < 300 THEN 4.0 ELSE 1.0 END AS prediction
  FROM events
)
SELECT 'accuracy' AS metric,
       (SUM(CASE WHEN label = prediction THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)) AS value
FROM p
UNION ALL
SELECT 'precision_label_2' AS metric,
       (SUM(CASE WHEN label = 2.0 AND prediction = 2.0 THEN 1 ELSE 0 END)::DOUBLE
        / SUM(CASE WHEN prediction = 2.0 THEN 1 ELSE 0 END)) AS value
FROM p
UNION ALL
SELECT 'recall_label_2' AS metric,
       (SUM(CASE WHEN label = 2.0 AND prediction = 2.0 THEN 1 ELSE 0 END)::DOUBLE
        / SUM(CASE WHEN label = 2.0 THEN 1 ELSE 0 END)) AS value
FROM p
"""


@register(
    "ml_eval_metrics",
    oracle=_ML_EVAL_ORACLE,
    doc="M5 oracle gate (MulticlassClassificationEvaluator, "
    "Assignment-python.py:947-952): the MLlib evaluator itself runs against "
    "deterministic rule-based predictions, and the oracle recomputes the "
    "same metrics from a SQL confusion matrix. Only single-division metrics "
    "are used (accuracy, per-label precision/recall = one ratio of exact "
    "counts), so the evaluator's result is bit-identical to the SQL — no "
    "float-accumulation slack, unlike weighted F1.",
)
def ml_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    ev = load(spark, sf_dir, "events")
    label = (
        F.when(F.col("event_type") == "click", 0.0)
        .when(F.col("event_type") == "error", 1.0)
        .when(F.col("event_type") == "purchase", 2.0)
        .when(F.col("event_type") == "signup", 3.0)
        .otherwise(4.0)
    )
    prediction = (
        F.when(F.col("value") < 50, 0.0)
        .when(F.col("value") < 150, 2.0)
        .when(F.col("value") < 300, 4.0)
        .otherwise(1.0)
    )
    # cached across the three evaluator jobs (C1 idiom), freed before return
    preds = ev.select(label.alias("label"), prediction.alias("prediction")).cache()

    def metric(name: str, **params) -> float:
        ev_ = MulticlassClassificationEvaluator(
            labelCol="label", predictionCol="prediction", metricName=name, **params
        )
        return float(ev_.evaluate(preds))

    try:
        rows = [
            ("accuracy", metric("accuracy")),
            ("precision_label_2", metric("precisionByLabel", metricLabel=2.0)),
            ("recall_label_2", metric("recallByLabel", metricLabel=2.0)),
        ]
    finally:
        preds.unpersist()
    return spark.createDataFrame(rows, "metric string, value double")
