"""Vectorized anomaly scoring.

Reference semantics (IForest.scala:85-158): per row,
``score = 2 ** (-avgPathLength / c(psi))`` where psi is the effective
maxSamples, avgPathLength averages over trees the root-to-leaf descent
(go left iff ``features[featureIndex] < featureValue``), and a leaf at
depth d contributes ``d + c(numInstance)``.

The reference scores row-at-a-time inside a boxed-Vector UDF — its own
published bottleneck (prediction 86 s vs training 34 s on "http",
README.md:233-249). Here one ``arrow_udf`` turns each Arrow batch of B rows
into a (B, d) matrix without a per-row pass, and the descent is numpy
index-chasing over the packed flat arrays (``nodes.PackedForest``): per
tree, B rows step down together, one child gather per level, so a batch
costs O(Σ tree depth) vectorized steps instead of B×T Python calls.
"""

# NOTE: no `from __future__ import annotations` here — arrow_udf infers its
# eval type from *resolved* type hints on the scoring closure.
import math

import numpy as np
import pyarrow as pa

from spark_iforest_spark.nodes import PackedForest

EULER_CONSTANT = 0.5772156649  # same literal as IForest.scala:171


def avg_length(size: float) -> float:
    """Expected path length c(n) of an unsuccessful BST search.

    Reference IForest.scala:151-158; n may be fractional (psi =
    maxSamples*count when maxSamples <= 1, IForest.scala:88-89).
    """
    if size > 2:
        h = math.log(size - 1) + EULER_CONSTANT
        return 2 * h - 2 * (size - 1) / size
    if size == 2:
        return 1.0
    return 0.0


def _avg_length_vec(sizes: np.ndarray) -> np.ndarray:
    """Vectorized c(n) over leaf instance counts (int array)."""
    out = np.zeros(sizes.shape, dtype=np.float64)
    big = sizes > 2
    if big.any():
        s = sizes[big].astype(np.float64)
        out[big] = 2.0 * (np.log(s - 1.0) + EULER_CONSTANT) - 2.0 * (s - 1.0) / s
    out[sizes == 2] = 1.0
    return out


def path_lengths(forest: PackedForest, x: np.ndarray) -> np.ndarray:
    """Average root-to-leaf path length over all trees for each row of x.

    x: (B, d) float64. Returns (B,) float64.

    One tree at a time, all B rows advance one level per step for that
    tree's ``tree_depth`` steps (leaves self-loop, so no active-set
    bookkeeping). A step is one child gather over the interleaved
    ``kids``: ``node = kids[2*node + (x < fv[node])]``; a NaN feature
    compares False and goes right, as in the reference. The leaf reached
    adds its precomputed ``path_value`` (depth + c(numInstance)).
    """
    b = x.shape[0]
    t = forest.num_trees
    fv, kids, path_value = forest.feature_value, forest.kids, forest.path_value

    # B-sized working arrays, one tree at a time: a (T,B) matrix
    # formulation makes fewer Python calls but allocates T*B*8 bytes of
    # fresh pages per step, which collapsed under 32 concurrent workers
    # (measured 27x slowdown); ~128 KB arrays stay L2-resident.
    flat = np.ascontiguousarray(x.T).reshape(-1)  # x[row, f] == flat[f*B + row]
    fib = forest.feature_index * b
    cols = np.arange(b, dtype=np.int64)
    total = np.zeros(b, dtype=np.float64)
    for ti in range(t):
        node = np.full(b, forest.offsets[ti], dtype=np.int64)
        for _ in range(forest.tree_depth[ti]):
            go_left = flat[fib[node] + cols] < fv[node]
            node = kids[2 * node + go_left]
        total += path_value[node]
    return total / t


def anomaly_scores(
    forest: PackedForest, x: np.ndarray, psi: float, features_col: str = "features"
) -> np.ndarray:
    """score = 2^(-avgPathLength / c(psi)) (IForest.scala:92-99).

    Rows narrower than ``forest.num_features`` raise a ``ValueError``
    naming ``features_col`` and both widths. When the forest knows its
    training width (``forest.width``), so do rows of any other width;
    otherwise (a model written without it, such as the reference's) wider
    rows are scored on their first columns.
    """
    if len(x) and x.shape[1] < forest.num_features:
        raise ValueError(
            f"features column '{features_col}' has rows of width {x.shape[1]}, but the "
            f"forest splits on feature index {forest.num_features - 1}; rows need a "
            f"width of at least {forest.num_features}"
        )
    if len(x) and forest.width is not None and x.shape[1] != forest.width:
        raise ValueError(
            f"features column '{features_col}' has rows of width {x.shape[1]}, but the "
            f"model was trained on rows of width {forest.width}"
        )
    norm = avg_length(psi)
    apl = path_lengths(forest, x)
    if norm == 0.0:
        # psi < 2: degenerate normalizer; reference would divide by zero.
        # Guard with the standard convention score=1 for apl=0 else 0 exponent.
        return np.where(apl > 0, 0.0, 1.0)
    return np.power(2.0, -apl / norm)


def _features_matrix(features: pa.Array, features_col: str) -> np.ndarray:
    """A list<double> Arrow array as a (B, d) float64 matrix without a
    per-row Python pass. ``flatten`` silently drops null lists, so null
    and uneven rows are rejected before it rather than mis-aligning every
    row after them. A null element inside a row becomes NaN."""
    if features.null_count:
        raise ValueError(
            f"features column '{features_col}' has {features.null_count} null "
            "row(s); every row needs a feature vector"
        )
    b = len(features)
    lengths = np.diff(features.offsets.to_numpy())
    if b and (lengths != lengths[0]).any():
        raise ValueError(
            f"features column '{features_col}' has rows of different lengths "
            f"({lengths.min()}..{lengths.max()}); every row needs the same dimension"
        )
    d = int(lengths[0]) if b else 0
    return features.flatten().to_numpy(zero_copy_only=False).reshape(b, d)


def make_score_udf(bc, psi: float, features_col: str):
    """Build an arrow_udf(array<double> -> double) scoring closure.

    ``bc`` is a sparkContext.broadcast of the PackedForest (one copy per
    executor, torrent transfer), the way the reference broadcasts its model
    (IForest.scala:90); IForestModel reuses one per application. The
    closure holds only the broadcast handle, so tasks do not also carry the
    forest. ``features_col`` names the input column in the errors raised
    for null, uneven or too narrow rows.
    """
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("double")
    def score_udf(features: pa.Array) -> pa.Array:
        x = _features_matrix(features, features_col)
        return pa.array(anomaly_scores(bc.value, x, psi, features_col))

    return score_udf
