"""Correctness checks that share no code with the package.

The reference scorer is a per-row walk over ``model.trees`` written here
from the published iForest definition: a row goes left while
``x[featureIndex] < featureValue``, and a leaf at depth ``k`` holding ``m``
training rows adds ``k + c(m)`` to the row's path length.
"""

from __future__ import annotations

import math

import numpy as np

# The normalizer constant of the reference implementation (IForest.scala),
# truncated as it is there; scores compare at 1e-12, so the literal matters.
EULER = 0.5772156649
SCORE_RTOL = 1e-12


def c_norm(m: float) -> float:
    """Average path length of an unsuccessful BST search over m keys."""
    if m > 2:
        return 2.0 * (math.log(m - 1.0) + EULER) - 2.0 * (m - 1.0) / m
    return 1.0 if m == 2 else 0.0


def walk_score(trees, row: np.ndarray, psi: float) -> float:
    """Anomaly score of one row by walking each tree node by node."""
    total = 0.0
    for t in trees:
        node, depth = 0, 0
        while t.feature_index[node] >= 0:
            if row[t.feature_index[node]] < t.feature_value[node]:
                node = t.left[node]
            else:
                node = t.right[node]
            depth += 1
        total += depth + c_norm(float(t.num_instance[node]))
    return 2.0 ** (-(total / len(trees)) / c_norm(psi))


def score_mismatches(trees, x: np.ndarray, scores: np.ndarray, psi: float) -> list[str]:
    """Rows whose score differs from the tree walk by more than SCORE_RTOL."""
    bad = []
    for i, (row, got) in enumerate(zip(x, scores)):
        want = walk_score(trees, row, psi)
        if not abs(got - want) <= SCORE_RTOL * abs(want):
            bad.append(f"row {i}: score {got!r} != walk {want!r}")
    return bad


def max_anomalies(contamination: float, n: int) -> int:
    return math.ceil(contamination * n)


def trees_equal(a, b) -> bool:
    return len(a) == len(b) and all(x == y for x, y in zip(a, b))


def auc(scores: np.ndarray, labels: np.ndarray) -> float:
    """Area under the ROC curve by the rank-sum formula, ties averaged."""
    order = np.argsort(scores, kind="mergesort")
    s = scores[order]
    first = np.r_[True, s[1:] != s[:-1]]
    starts = np.flatnonzero(first)
    ends = np.r_[starts[1:], len(s)]
    ranks = ((starts + ends + 1) / 2.0)[np.cumsum(first) - 1]
    pos = labels[order] == 1
    p, n = int(pos.sum()), int((~pos).sum())
    return float((ranks[pos].sum() - p * (p + 1) / 2.0) / (p * n))
