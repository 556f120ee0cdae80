"""ML layer: the reference's Advanced-4 classification surface (SURVEY.md
§2.10, Assignment-python.py:929-1035) as reusable functions.

M1 VectorAssembler → M2 seeded randomSplit → M3 RandomForestClassifier →
M4 transform → M5/M6 built-in evaluators → M7 custom evaluators. The
reference's ``extract_prob`` row-UDF (D4, :981-982) is replaced with
``vector_to_array(probability)[label]`` — pure JVM expression, no Python
boundary.

Custom evaluators are plain DataFrame aggregates (one job each), including
the cyclic label distance the reference expresses as
``abs(month - prediction) <= 1 OR abs(month - prediction) == 11`` (:965).

Scale notes: ``fit`` distributes tree building over partitions; everything
else here is narrow column arithmetic plus one global aggregate per metric.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.aggregates import dround

try:  # pyspark.ml needs numpy at import; gate so core engine works without it
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.evaluation import (
        BinaryClassificationEvaluator,
        MulticlassClassificationEvaluator,
    )
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.functions import vector_to_array

    ML_AVAILABLE = True
except ImportError:  # pragma: no cover
    ML_AVAILABLE = False


def assemble_features(df: DataFrame, feature_cols: list[str]) -> DataFrame:
    """M1: pack numeric columns into a ``features`` vector (:933-934)."""
    return VectorAssembler(inputCols=feature_cols, outputCol="features").transform(df)


def train_random_forest(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    num_trees: int = 100,
    seed: int = 1,
):
    """M1-M4: assemble → seeded 80/20 split → RF fit → test predictions.

    Returns (model, test predictions with prediction/probability cols).
    """
    assembled = assemble_features(df, feature_cols)
    train, test = assembled.randomSplit([0.8, 0.2], seed=seed)
    clf = RandomForestClassifier(
        labelCol=label_col, featuresCol="features", numTrees=num_trees, seed=seed
    )
    model = clf.fit(train)
    return model, model.transform(test)


def multiclass_metric(
    preds: DataFrame, label_col: str, metric: str = "accuracy"
) -> float:
    """M5 (:947-952)."""
    return MulticlassClassificationEvaluator(
        labelCol=label_col, predictionCol="prediction", metricName=metric
    ).evaluate(preds)


def binary_auc(preds: DataFrame, label_col: str) -> float:
    """M6: area under ROC from rawPrediction (:988-995)."""
    return BinaryClassificationEvaluator(
        labelCol=label_col, rawPredictionCol="rawPrediction", metricName="areaUnderROC"
    ).evaluate(preds)


def exact_accuracy(preds: DataFrame, label_col: str) -> float:
    """M7: fraction of exact predictions (custom evaluator, :955-959)."""
    row = preds.agg(
        F.avg((F.col("prediction") == F.col(label_col)).cast("double")).alias("acc")
    ).collect()[0]
    return float(row["acc"])


def cyclic_within(pred, label, modulus: int):
    """P15/F14: boolean column — |pred−label| ≤ tol on the modular circle
    (months: Δ of 11 is distance 1; :962-977). Pure column arithmetic,
    shared by the ML evaluator and the oracle-gated catalog query."""
    tolerance = 1
    diff = F.abs(pred - label)
    return (diff <= tolerance) | (diff >= modulus - tolerance)


def cyclic_accuracy(preds: DataFrame, label_col: str, modulus: int) -> float:
    """M7: accuracy under cyclic label distance at most 1 (:962-977)."""
    ok = cyclic_within(F.col("prediction"), F.col(label_col), modulus)
    row = preds.agg(F.avg(ok.cast("double")).alias("acc")).collect()[0]
    return float(row["acc"])


def with_correct_probability(preds: DataFrame, label_col: str) -> DataFrame:
    """D4 replacement: probability the model assigned to the TRUE class,
    via vector_to_array indexing (1-based element_at) — no Python UDF."""
    arr = vector_to_array(F.col("probability"))
    return preds.withColumn(
        "correct_probability",
        F.element_at(arr, F.col(label_col).cast("int") + 1).cast("double"),
    )


def mean_correct_probability(preds: DataFrame, label_col: str) -> float:
    """M7: average probability given to the true class (:981-985)."""
    row = (
        with_correct_probability(preds, label_col)
        .agg(F.avg("correct_probability").alias("p"))
        .collect()[0]
    )
    return float(row["p"])


def classification_report(
    df: DataFrame,
    runs: list[tuple[str, list[str], str, int | None]],
    num_trees: int = 100,
    seed: int = 1,
) -> DataFrame:
    """The reference's result table (:1010-1035): one row per (name,
    features, label) run with accuracy metrics, positionally unioned.

    ``runs``: (run_name, feature_cols, label_col, cyclic_modulus | None).
    """
    spark = df.sparkSession
    rows = []
    for name, feature_cols, label_col, modulus in runs:
        _, preds = train_random_forest(
            df, feature_cols, label_col, num_trees=num_trees, seed=seed
        )
        preds = preds.cache()
        acc = exact_accuracy(preds, label_col)
        cyc = (
            cyclic_accuracy(preds, label_col, modulus)
            if modulus is not None
            else acc
        )
        prob = mean_correct_probability(preds, label_col)
        preds.unpersist()
        rows.append((name, round(acc, 4), round(cyc, 4), round(prob, 4)))
    result = spark.createDataFrame(
        rows, "run string, accuracy double, within_one double, correct_prob double"
    )
    return result.sort(F.desc("accuracy"))


def enforce_report_floors(
    report: DataFrame, floors: list[tuple[str, str, float]]
) -> DataFrame:
    """Raise if any (run, metric) of a classification report falls below its
    floor. The report frames are literal local rows (metrics were collected
    during construction), so the check is driver-side and free.

    Guards the rows-only driver gate: RF training has no SQL oracle, so the
    driver's CORRECTNESS row for these queries checks row shape only — a
    silently-broken model (wrong features, bad split, label drift) would
    still produce 3/8 well-shaped rows. Embedding the floors in the BUILDER
    makes such a regression fail the driver run instead of passing it.
    Floors sit well under seeded observed values (margins recorded at the
    call sites) so RF's partition-level nondeterminism can't trip them."""
    rows = {r["run"]: r.asDict() for r in report.collect()}
    for run, metric, floor in floors:
        if run not in rows:
            raise AssertionError(f"report floor: run {run!r} missing from report")
        got = rows[run][metric]
        if not got >= floor:
            raise AssertionError(
                f"report floor violated: {run}.{metric} = {got} < {floor}"
            )
    return report
