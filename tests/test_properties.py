"""Property-based tests (hypothesis) for the pure-numpy core.

These don't need a SparkSession — they pin the algebraic invariants the
distributed operators rely on.
"""

import math

import numpy as np
from hypothesis import given, settings, strategies as st

from spark_iforest_spark.nodes import Tree, pack_forest, rows_to_forest, tree_to_rows
from spark_iforest_spark.scorer import EULER_CONSTANT, anomaly_scores, avg_length, path_lengths
from spark_iforest_spark.trainer import build_itree, depth_cap, train_tree

matrices = st.integers(2, 64).flatmap(
    lambda n: st.integers(1, 6).flatmap(
        lambda d: st.integers(0, 2**32 - 1).map(
            lambda seed: np.random.default_rng(seed).random((n, d))
        )
    )
)


@given(matrices, st.integers(1, 12), st.integers(0, 2**31 - 1))
@settings(max_examples=40, deadline=None)
def test_tree_invariants(x, max_depth, seed):
    tree = train_tree(x, max_depth, 1.0, seed=seed, tree_id=0)
    leaves = tree.feature_index < 0
    internal = ~leaves
    # leaf instance counts partition the sample
    assert tree.num_instance[leaves].sum() == len(x)
    assert (tree.num_instance[internal] == 0).all()
    # pre-order: left child = parent+1; children ids > parent
    parents = np.flatnonzero(internal)
    np.testing.assert_array_equal(tree.left[parents], parents + 1)
    assert (tree.right[parents] > parents).all()
    # split features within dimensionality
    assert (tree.feature_index[internal] < x.shape[1]).all()
    # node count bound: full binary tree of capped depth
    cap = depth_cap(max_depth, len(x))
    assert tree.num_nodes <= 2 ** (cap + 1) - 1


@given(matrices, st.integers(1, 10), st.integers(0, 2**31 - 1))
@settings(max_examples=25, deadline=None)
def test_roundtrip_and_scores(x, max_depth, seed):
    trees = [train_tree(x, max_depth, 1.0, seed=seed, tree_id=i) for i in range(3)]
    # persistence roundtrip is lossless
    rows = [dict(zip(
        ["treeID", "id", "featureIndex", "featureValue", "leftChild", "rightChild", "numInstance"],
        r)) for t, tree in enumerate(trees) for r in tree_to_rows(t, tree)]
    rebuilt = rows_to_forest(rows)
    assert all(a == b for a, b in zip(trees, rebuilt))
    # scores are in (0, 1] and deterministic
    forest = pack_forest(trees)
    s1 = anomaly_scores(forest, x, 256.0)
    s2 = anomaly_scores(forest, x, 256.0)
    np.testing.assert_array_equal(s1, s2)
    assert ((s1 > 0) & (s1 <= 1)).all()


def _walk_path_length(trees, row):
    """Mean path length of one row by walking each unpacked Tree."""
    total = 0.0
    for t in trees:
        node = depth = 0
        while t.feature_index[node] >= 0:
            if row[t.feature_index[node]] < t.feature_value[node]:
                node = t.left[node]
            else:
                node = t.right[node]
            depth += 1
        total += depth + avg_length(float(t.num_instance[node]))
    return total / len(trees)


@given(matrices, st.integers(0, 8), st.integers(1, 10), st.integers(0, 2**31 - 1))
@settings(max_examples=40, deadline=None)
def test_kernel_matches_per_row_walk(x, n_rows, max_depth, seed):
    rng = np.random.default_rng(seed)
    trees = [train_tree(x, max_depth, 1.0, seed=seed, tree_id=i) for i in range(3)]
    trees.append(train_tree(x[:1], max_depth, 1.0, seed=seed, tree_id=3))  # one leaf
    assert trees[-1].num_nodes == 1
    # training rows, fresh rows, and rows sitting exactly on split values
    # (a tie goes right)
    splits = trees[0].feature_value[trees[0].feature_index >= 0][: n_rows // 3]
    batch = np.vstack([
        x[: n_rows // 3],
        rng.normal(0.5, 0.5, (n_rows - n_rows // 3 - len(splits), x.shape[1])),
        np.repeat(splits[:, None], x.shape[1], axis=1),
    ])
    psi = float(len(x))
    want = np.array([2.0 ** (-_walk_path_length(trees, r) / avg_length(psi)) for r in batch])
    forest = pack_forest(trees)
    got = anomaly_scores(forest, batch, psi)
    assert got.shape == (len(batch),)
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=0)
    assert anomaly_scores(forest, batch[:0], psi).shape == (0,)

    # past 16,384 rows the kernel descends in row blocks: every row still
    # scores as it does in a small batch, and as the walk does
    big = np.vstack([batch, rng.normal(0.5, 0.5, (16_384 + 5, x.shape[1]))])
    got_big = anomaly_scores(forest, big, psi)
    small = [anomaly_scores(forest, big[lo : lo + 5_000], psi) for lo in range(0, len(big), 5_000)]
    np.testing.assert_array_equal(got_big, np.concatenate(small))
    np.testing.assert_array_equal(got_big[: len(batch)], got)
    tail = big[-3:]
    np.testing.assert_allclose(
        got_big[-3:],
        [2.0 ** (-_walk_path_length(trees, r) / avg_length(psi)) for r in tail],
        rtol=1e-12,
        atol=0,
    )

    # NaN compares False against every split, so an all-NaN row takes the
    # right child at every internal node
    right_most = 0.0
    for t in trees:
        node = depth = 0
        while t.feature_index[node] >= 0:
            node, depth = t.right[node], depth + 1
        right_most += depth + avg_length(float(t.num_instance[node]))
    nan_row = np.full((1, x.shape[1]), np.nan)
    np.testing.assert_allclose(
        path_lengths(forest, nan_row), [right_most / len(trees)], rtol=1e-12, atol=0
    )


@given(st.floats(0, 1e9, allow_nan=False))
def test_avg_length_nonnegative_monotone_pieces(n):
    c = avg_length(n)
    assert c >= 0
    if n > 2:
        expected = 2 * (math.log(n - 1) + EULER_CONSTANT) - 2 * (n - 1) / n
        assert c == expected


@given(matrices)
@settings(max_examples=20, deadline=None)
def test_path_lengths_bounded_by_tree_depth(x):
    trees = [train_tree(x, 8, 1.0, seed=7, tree_id=i) for i in range(4)]
    forest = pack_forest(trees)
    pl = path_lengths(forest, x)
    # path length <= max depth + max leaf adjustment
    max_adj = forest.leaf_adjust.max() if len(forest.leaf_adjust) else 0
    assert (pl <= forest.max_depth + max_adj + 1e-9).all()
    assert (pl >= 0).all()


@given(st.integers(2, 10_000), st.integers(1, 30))
def test_depth_cap_bounds(n, md):
    cap = depth_cap(md, n)
    assert 1 <= cap <= md
    assert cap <= math.ceil(math.log2(max(2, n)))
