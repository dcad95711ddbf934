"""Trainer unit tests: iTree induction semantics (IForest.scala:558-656)."""

import numpy as np

from spark_iforest_spark.nodes import pack_forest
from spark_iforest_spark.scorer import path_lengths
from spark_iforest_spark.trainer import (
    build_itree,
    depth_cap,
    num_sub_features,
    sample_features,
    train_tree,
)


def rng(seed=0):
    return np.random.default_rng(seed)


def test_num_sub_features():
    # reference IForest.scala:564-572 (int truncation)
    assert num_sub_features(1.0, 10) == 10
    assert num_sub_features(0.5, 10) == 5
    assert num_sub_features(0.59, 10) == 5
    assert num_sub_features(3.0, 10) == 3
    assert num_sub_features(15.0, 10) == 10  # clamped to d


def test_sample_features_identity_when_all():
    x = rng().random((8, 4))
    sub, idx = sample_features(x, 1.0, rng())
    assert sub is x
    np.testing.assert_array_equal(idx, np.arange(4))


def test_sample_features_subset():
    x = rng().random((8, 6))
    sub, idx = sample_features(x, 3.0, rng(7))
    assert sub.shape == (8, 3)
    assert len(set(idx.tolist())) == 3
    np.testing.assert_array_equal(sub, x[:, idx])


def test_depth_cap():
    # min(maxDepth, ceil(log2(max(2, n)))) — IForest.scala:523-527
    assert depth_cap(10, 256) == 8
    assert depth_cap(10, 2) == 1
    assert depth_cap(10, 1) == 1
    assert depth_cap(3, 1_000_000) == 3
    assert depth_cap(10, 257) == 9


def test_single_row_is_leaf():
    x = np.array([[1.0, 2.0]])
    tree = build_itree(x, 5, rng(), np.arange(2))
    assert tree.num_nodes == 1
    assert tree.feature_index[0] == -1
    assert tree.num_instance[0] == 1


def test_constant_features_leaf():
    x = np.ones((10, 3))
    tree = build_itree(x, 5, rng(), np.arange(3))
    assert tree.num_nodes == 1
    assert tree.num_instance[0] == 10


def test_split_partitions_data():
    # two well-separated clusters on feature 0: root must split between them
    x = np.array([[0.0], [0.1], [10.0], [10.1]])
    tree = build_itree(x, 1, rng(3), np.arange(1))
    assert tree.num_nodes == 3  # root + 2 leaves (depth cap 1)
    assert tree.feature_index[0] == 0
    assert tree.num_instance[1] + tree.num_instance[2] == 4


def test_preorder_ids_and_sentinels():
    x = rng(1).random((32, 4))
    tree = build_itree(x, 4, rng(2), np.arange(4))
    internal = tree.feature_index >= 0
    # internal nodes: children in range, numInstance 0; leaves: -1 sentinels
    assert (tree.left[internal] > np.flatnonzero(internal)).all()
    assert (tree.num_instance[internal] == 0).all()
    leaves = ~internal
    assert (tree.left[leaves] == -1).all()
    assert (tree.right[leaves] == -1).all()
    assert (tree.feature_value[leaves] == -1.0).all()
    # pre-order: left child id is parent id + 1
    parents = np.flatnonzero(internal)
    np.testing.assert_array_equal(tree.left[parents], parents + 1)
    # leaf instance counts sum to n
    assert tree.num_instance[leaves].sum() == 32


def test_depth_respects_cap():
    x = rng(5).random((256, 2))
    tree = build_itree(x, 4, rng(6), np.arange(2))
    forest = pack_forest([tree])
    # descend every training row; path length (pre-normalizer) <= cap
    depths = path_lengths(forest, x)
    # path_lengths adds c(numInstance); raw depth component is <= 4
    assert tree.num_nodes <= 2 ** 5 - 1


def test_train_tree_deterministic():
    x = rng(9).random((64, 5))
    t1 = train_tree(x, 10, 1.0, seed=42, tree_id=3)
    t2 = train_tree(x, 10, 1.0, seed=42, tree_id=3)
    t3 = train_tree(x, 10, 1.0, seed=42, tree_id=4)
    assert t1 == t2
    assert t1 != t3


def test_original_feature_indices_stored():
    x = np.zeros((16, 6))
    x[:, 4] = np.arange(16, dtype=float)  # only feature 4 is non-constant
    tree = train_tree(x, 10, 1.0, seed=0, tree_id=0)
    internal = tree.feature_index >= 0
    assert internal.any()
    assert set(tree.feature_index[internal].tolist()) == {4}


def test_pandas_to_forest_matches_rows_to_forest():
    """The columnar decode of a shuffled node table and the dict-row
    adapter both rebuild exactly the trees that were encoded."""
    import numpy as np
    import pandas as pd

    from spark_iforest_spark.nodes import pandas_to_forest, rows_to_forest, tree_to_rows
    from spark_iforest_spark.trainer import train_tree

    rng = np.random.default_rng(3)
    rows = []
    trees = []
    for tid in range(5):
        t = train_tree(rng.standard_normal((64, 4)), 8, 4, 11, tid)
        trees.append(t)
        rows.extend(tree_to_rows(tid, t))
    cols = ["treeID", "id", "featureIndex", "featureValue",
            "leftChild", "rightChild", "numInstance"]
    pdf = pd.DataFrame(rows, columns=cols).sample(frac=1.0, random_state=0)  # shuffle
    a = rows_to_forest([dict(zip(cols, r)) for r in pdf.itertuples(index=False)])
    b = pandas_to_forest(pdf)
    assert a == b == trees
