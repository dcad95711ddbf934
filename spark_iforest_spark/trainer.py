"""Isolation-tree induction (runs inside ``mapInArrow`` tasks, a share of
the trees per task, or one grouped ``applyInArrow`` call per tree when the
sample pool is too large to collect).

Reproduces the reference's iTree semantics (IForest.scala:558-656):

* feature subsample: k = maxFeatures<=1 ? int(maxFeatures*d) : min(int, d);
  all-features path keeps identity index map (IForest.scala:564-577)
* leaf when depth >= maxDepth, <= 1 row, or all candidate features constant
* split feature drawn uniformly among not-yet-known-constant features;
  split value uniform in [min, max); partition `<` / `>=`
* node stores the ORIGINAL feature index (featureIdxArr mapping)
* depth cap: min(maxDepth, ceil(log2(max(2, n)))) computed per tree from its
  actual sample size (IForest.scala:523-527)

The reference tracks constant features with an in-place index-swap array —
an artifact of row-major scanning (SURVEY.md §4); we recompute a
min==max mask per partition with numpy instead (same leaf conditions,
different bookkeeping).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa

from spark_iforest_spark.nodes import Tree, TreeBuilder, tree_to_batch
from spark_iforest_spark.scorer import _features_matrix


def num_sub_features(max_features: float, d: int) -> int:
    """Reference IForest.scala:564-572 (int truncation included)."""
    if max_features <= 1:
        return int(max_features * d)
    return min(int(max_features), d)


def sample_features(
    x: np.ndarray, max_features: float, rng: np.random.Generator
) -> tuple[np.ndarray, np.ndarray]:
    """Column-subsample a (n, d) matrix; returns (submatrix, original indices).

    Mirrors sampleFeatures (IForest.scala:558-588): identity map when k == d.
    """
    d = x.shape[1]
    k = num_sub_features(max_features, d)
    if k == d:
        return x, np.arange(d, dtype=np.int64)
    idx = rng.permutation(d)[:k]
    return x[:, idx], idx


def depth_cap(max_depth: int, n: int) -> int:
    """min(maxDepth, ceil(log2(max(2, n)))) — IForest.scala:523-527."""
    longest = int(math.ceil(math.log2(max(2, n))))
    return min(max_depth, longest)


def build_itree(
    x: np.ndarray,
    max_depth: int,
    rng: np.random.Generator,
    feature_idx: np.ndarray,
) -> Tree:
    """Build one isolation tree over the (already feature-sampled) matrix x.

    feature_idx maps sampled column -> original column; stored in nodes so
    the scorer descends on the full feature vector (IForest.scala:645-648).
    """
    builder = TreeBuilder()
    d = x.shape[1]

    def grow(rows: np.ndarray, depth: int) -> int:
        n = len(rows)
        if depth >= max_depth or n <= 1 or d == 0:
            return builder.add_leaf(n)
        sub = x[rows]
        mins = sub.min(axis=0)
        maxs = sub.max(axis=0)
        candidates = np.flatnonzero(mins < maxs)
        if len(candidates) == 0:
            return builder.add_leaf(n)
        attr = candidates[rng.integers(0, len(candidates))]
        lo, hi = mins[attr], maxs[attr]
        split = rng.random() * (hi - lo) + lo
        mask = sub[:, attr] < split
        nid = builder.add_internal(feature_idx[attr], split)
        left = grow(rows[mask], depth + 1)
        right = grow(rows[~mask], depth + 1)
        builder.set_children(nid, left, right)
        return nid

    grow(np.arange(len(x)), 0)
    return builder.build()


def train_tree(
    x: np.ndarray,
    max_depth_param: int,
    max_features: float,
    seed: int,
    tree_id: int,
) -> Tree:
    """Full per-tree training path: derive RNG, subsample features, cap depth,
    induce. Deterministic in (seed, tree_id) regardless of partitioning —
    unlike the reference, whose per-tree Random depends on driver RNG call
    order (IForest.scala:517)."""
    rng = np.random.default_rng(np.random.SeedSequence([seed & 0x7FFFFFFF, tree_id]))
    sub, feature_idx = sample_features(x, max_features, rng)
    cap = depth_cap(max_depth_param, len(x))
    return build_itree(sub, cap, rng, feature_idx)


def make_build_fn(bc, max_depth_param: int, max_features: float, seed: int):
    """Build a ``mapInArrow`` function from batches of tree ids to one
    ``FLAT_NODE_SCHEMA`` batch per tree.

    ``bc`` is a broadcast of ``(pool, plan)``: the hash-ordered pool as an
    (m, d) float64 matrix, and per tree the pool rows it trains on as a
    (numTrees, psi) index matrix (a row index repeats once per bootstrap
    copy), or None when every tree trains on the whole pool.
    """

    def build(batches):
        pool, plan = bc.value
        for batch in batches:
            for tree_id in batch.column(0).to_pylist():
                x = pool if plan is None else pool[plan[tree_id]]
                tree = train_tree(x, max_depth_param, max_features, seed, tree_id)
                yield tree_to_batch(tree_id, tree)

    return build


def make_group_build_fn(max_depth_param: int, max_features: float, seed: int, features_col: str):
    """Build a grouped ``applyInArrow`` function from one tree's sample
    rows (columns ``treeId`` and ``features``) to that tree's
    ``FLAT_NODE_SCHEMA`` table. ``features_col`` names the input column in
    the errors raised for null or uneven rows."""

    def build(table: pa.Table) -> pa.Table:
        tree_id = table.column("treeId")[0].as_py()
        x = _features_matrix(table.column("features").combine_chunks(), features_col)
        tree = train_tree(x, max_depth_param, max_features, seed, tree_id)
        return pa.Table.from_batches([tree_to_batch(tree_id, tree)])

    return build
