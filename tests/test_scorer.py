"""Scorer unit tests: c(n) formula and descent against hand-traced trees.

Mirrors the reference's score semantics (IForest.scala:119-158) with
hand-computed expectations.
"""

import math

import numpy as np
import pytest

from spark_iforest_spark.nodes import Tree, pack_forest
from spark_iforest_spark.scorer import EULER_CONSTANT, anomaly_scores, avg_length, path_lengths


def make_tree(nodes):
    """nodes: list of (featureIndex, featureValue, left, right, numInstance)."""
    return Tree(
        feature_index=np.array([n[0] for n in nodes], dtype=np.int32),
        feature_value=np.array([n[1] for n in nodes], dtype=np.float64),
        left=np.array([n[2] for n in nodes], dtype=np.int32),
        right=np.array([n[3] for n in nodes], dtype=np.int32),
        num_instance=np.array([n[4] for n in nodes], dtype=np.int64),
    )


def test_avg_length_formula():
    # reference IForest.scala:151-158
    assert avg_length(0) == 0.0
    assert avg_length(1) == 0.0
    assert avg_length(2) == 1.0
    for n in [3, 10, 256, 1000.5]:
        expected = 2 * (math.log(n - 1) + EULER_CONSTANT) - 2 * (n - 1) / n
        assert avg_length(n) == pytest.approx(expected)


def test_pack_rejects_child_pointer_loop():
    # a loaded node table is not checked for cycles; packing must stop on
    # one instead of descending forever
    tree = make_tree([(0, 0.5, 1, 2, 0), (0, 0.2, 0, 0, 0), (-1, -1.0, -1, -1, 3)])
    with pytest.raises(ValueError, match="do not form trees"):
        pack_forest([tree])


def test_single_node_tree():
    # a lone leaf with numInstance=5: every row's path length = 0 + c(5)
    tree = make_tree([(-1, -1.0, -1, -1, 5)])
    forest = pack_forest([tree])
    x = np.array([[0.0], [100.0]])
    pl = path_lengths(forest, x)
    np.testing.assert_allclose(pl, avg_length(5))


def test_two_level_descent():
    # root splits feature 0 at 0.5; left leaf has 1 instance, right leaf 3.
    tree = make_tree(
        [
            (0, 0.5, 1, 2, 0),
            (-1, -1.0, -1, -1, 1),
            (-1, -1.0, -1, -1, 3),
        ]
    )
    forest = pack_forest([tree])
    x = np.array([[0.0], [0.5], [0.9]])  # 0.5 goes RIGHT (>= comparison)
    pl = path_lengths(forest, x)
    assert pl[0] == pytest.approx(1.0 + avg_length(1))
    assert pl[1] == pytest.approx(1.0 + avg_length(3))
    assert pl[2] == pytest.approx(1.0 + avg_length(3))


def test_average_over_trees():
    t1 = make_tree([(-1, -1.0, -1, -1, 1)])  # path 0
    t2 = make_tree(
        [
            (0, 0.0, 1, 2, 0),
            (-1, -1.0, -1, -1, 1),  # left: depth 1
            (-1, -1.0, -1, -1, 1),  # right: depth 1
        ]
    )
    forest = pack_forest([t1, t2])
    x = np.array([[-1.0]])
    pl = path_lengths(forest, x)
    assert pl[0] == pytest.approx((0.0 + 1.0) / 2)


def test_anomaly_score_formula():
    tree = make_tree([(0, 0.5, 1, 2, 0), (-1, -1.0, -1, -1, 1), (-1, -1.0, -1, -1, 1)])
    forest = pack_forest([tree])
    x = np.array([[0.0]])
    psi = 256.0
    score = anomaly_scores(forest, x, psi)
    assert score[0] == pytest.approx(2 ** (-1.0 / avg_length(psi)))


def test_deeper_rows_score_lower():
    # deeper isolation path => lower anomaly score
    tree = make_tree(
        [
            (0, 10.0, 1, 2, 0),
            (-1, -1.0, -1, -1, 1),  # x < 10 isolated at depth 1
            (0, 20.0, 3, 4, 0),
            (-1, -1.0, -1, -1, 1),
            (-1, -1.0, -1, -1, 1),
        ]
    )
    forest = pack_forest([tree])
    scores = anomaly_scores(forest, np.array([[5.0], [15.0]]), 16.0)
    assert scores[0] > scores[1]


def test_anomaly_scores_rejects_rows_narrower_than_the_splits():
    # the tree splits on feature 2, so rows need at least 3 columns; wider
    # rows are scored on their first columns (no training width is kept)
    tree = make_tree([(2, 0.5, 1, 2, 0), (-1, -1.0, -1, -1, 1), (-1, -1.0, -1, -1, 3)])
    forest = pack_forest([tree])
    x = np.array([[0.0, 0.0, 0.0], [0.0, 0.0, 0.9]])
    with pytest.raises(ValueError, match="features column 'vec' has rows of width 2.* at least 3"):
        anomaly_scores(forest, x[:, :2], 16.0, "vec")
    wide = np.hstack([x, np.full((2, 4), 7.0)])
    assert np.array_equal(anomaly_scores(forest, wide, 16.0), anomaly_scores(forest, x, 16.0))
    assert anomaly_scores(forest, x[:0, :0], 16.0).shape == (0,)


def test_worker_modules_do_not_import_pyspark_ml():
    # Python workers import these to unpickle the scoring and training
    # closures; the package must not drag pyspark.ml in with them
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "import sys, spark_iforest_spark.scorer, spark_iforest_spark.trainer; "
        "print(sorted(m for m in sys.modules if m.startswith('pyspark.ml')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "[]"


def test_exact_threshold_orderstat_matches_approx_quantile(spark):
    """The order-statistic threshold plan must return EXACTLY Spark's
    approxQuantile(relErr=0) value: rank = ceil(q*n) ascending, threshold =
    min of the top (n-rank+1). Probed across sizes, contaminations, and
    heavy duplicates (3-decimal values)."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(3)
    for n, cont in [(97, 0.1), (100, 0.25), (64, 0.5), (33, 0.9), (50, 1.0), (10, 0.3), (7, 0.01)]:
        vals = np.round(rng.random(n), 3)
        df = spark.createDataFrame([(float(v),) for v in vals], "s double")
        q = 1.0 - cont
        aq = df.approxQuantile("s", [q], 0.0)[0]
        rank = math.ceil(q * n)
        k = n - rank + 1
        os_ = (
            df.orderBy(F.col("s").desc())
            .limit(int(k))
            .agg(F.min("s"))
            .collect()[0][0]
        )
        assert os_ == aq, (n, cont, os_, aq)
