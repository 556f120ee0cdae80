"""ML layer tests: seeded determinism, accuracy floors on separable data,
custom-evaluator vs built-in correspondence, cyclic distance, and the
vector_to_array probability extraction (D4 replacement)."""

from __future__ import annotations

import random

import pytest

from data_engineering_assignment_spark import ml


@pytest.fixture(scope="module")
def blobs(spark):
    """Two well-separated gaussian blobs → any forest should score >0.9."""
    rng = random.Random(3)
    rows = [
        (rng.gauss(0, 1), rng.gauss(0, 1), 0.0) for _ in range(300)
    ] + [(rng.gauss(6, 1), rng.gauss(6, 1), 1.0) for _ in range(300)]
    return spark.createDataFrame(rows, "x double, y double, label double")


def test_rf_accuracy_floor_and_determinism(spark, blobs):
    _, preds1 = ml.train_random_forest(blobs, ["x", "y"], "label", num_trees=10)
    _, preds2 = ml.train_random_forest(blobs, ["x", "y"], "label", num_trees=10)
    acc = ml.exact_accuracy(preds1, "label")
    assert acc > 0.9
    # same seed → identical split and forest → identical metric
    assert acc == ml.exact_accuracy(preds2, "label")


def test_builtin_evaluator_matches_custom(spark, blobs):
    """Reference self-test: built-in accuracy 'should correspond' to the
    custom percentage evaluator (Assignment-python.py:884-885)."""
    _, preds = ml.train_random_forest(blobs, ["x", "y"], "label", num_trees=10)
    assert ml.multiclass_metric(preds, "label", "accuracy") == pytest.approx(
        ml.exact_accuracy(preds, "label")
    )
    assert 0.5 <= ml.binary_auc(preds, "label") <= 1.0


def test_cyclic_accuracy_hand_computed(spark):
    rows = [
        (0.0, 11.0),   # cyclic distance 1 on mod-12 → ok
        (0.0, 6.0),    # distance 6 → not ok
        (5.0, 4.0),    # distance 1 → ok
        (5.0, 5.0),    # exact → ok
    ]
    preds = spark.createDataFrame(rows, "label double, prediction double")
    assert ml.cyclic_accuracy(preds, "label", modulus=12) == 0.75
    assert ml.exact_accuracy(preds, "label") == 0.25


def test_correct_probability_column(spark, blobs):
    _, preds = ml.train_random_forest(blobs, ["x", "y"], "label", num_trees=10)
    out = ml.with_correct_probability(preds, "label")
    rows = out.select("label", "prediction", "correct_probability").collect()
    assert all(0.0 <= r["correct_probability"] <= 1.0 for r in rows)
    # on separable blobs the true-class probability should average high
    assert ml.mean_correct_probability(preds, "label") > 0.8


def test_classification_report_shape(spark, blobs):
    report = ml.classification_report(
        blobs,
        [("xy", ["x", "y"], "label", None), ("x_only", ["x"], "label", None)],
        num_trees=5,
    ).collect()
    assert [r["run"] for r in report] and len(report) == 2
    assert all(0.0 <= r["accuracy"] <= 1.0 for r in report)


def test_enforce_report_floors_raises_on_violation(spark):
    import pytest as _pytest

    from data_engineering_assignment_spark.ml import enforce_report_floors

    report = spark.createDataFrame(
        [("a", 0.95, 1.0, 0.9), ("b", 0.30, 0.5, 0.2)],
        "run string, accuracy double, within_one double, correct_prob double",
    )
    # passing floors return the frame unchanged
    assert enforce_report_floors(report, [("a", "accuracy", 0.9)]) is report
    with _pytest.raises(AssertionError, match="b.accuracy"):
        enforce_report_floors(report, [("b", "accuracy", 0.5)])
    with _pytest.raises(AssertionError, match="missing"):
        enforce_report_floors(report, [("zz", "accuracy", 0.5)])
