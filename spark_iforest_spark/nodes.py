"""Flat-array isolation-tree encoding.

The reference stores trees as an object graph of ``IFNode``s
(IFNode.scala:3-22) and flattens them to pre-order ``NodeData`` rows for
persistence (IForest.scala:189-217). We use the flat encoding *everywhere*
— in memory, on the wire, and on disk — because numpy index-chasing over
flat arrays is how the scorer vectorizes (SURVEY.md §2.1 O15).

Encoding (one ``Tree`` = parallel numpy arrays indexed by pre-order node id):
    feature_index[i]  int32   — split feature (ORIGINAL column index), -1 for leaf
    feature_value[i]  float64 — split threshold, -1.0 for leaf
    left[i]/right[i]  int32   — child node ids, -1 for leaf
    num_instance[i]   int64   — leaf row count, 0 for internal nodes

Matches the reference's persisted ``NodeData`` sentinel conventions
(IForest.scala:189-196) so a model round-trips bit-identically.

One columnar codec moves the node table everywhere: ``tree_to_batch``
encodes a tree as a ``FLAT_NODE_SCHEMA`` Arrow batch (training wire, model
save, segmented fit) and ``pandas_to_forest`` decodes such a table (fit,
model load, segmented scoring), checking the load invariants once.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

# The node table: one row per node. Flat on the Arrow wire; the model
# writer nests every column after treeID into the reference's nodeData
# struct at the persistence boundary (EnsembleNodeData,
# IForest.scala:189-196,225-228).
FLAT_NODE_SCHEMA = (
    "treeID INT, id INT, featureIndex INT, featureValue DOUBLE, "
    "leftChild INT, rightChild INT, numInstance BIGINT"
)
_FLAT_NODE_COLS = [c.split()[0] for c in FLAT_NODE_SCHEMA.split(", ")]
# The persisted layout, declared so the model reader skips Spark's schema
# inference over the parquet footers. A field missing from a file reads
# as null, which ``pandas_to_forest`` rejects.
_TREE_ID_COL, _NODE_DATA_COLS = FLAT_NODE_SCHEMA.split(", ", 1)
NESTED_NODE_SCHEMA = f"{_TREE_ID_COL}, nodeData STRUCT<{_NODE_DATA_COLS}>"


@dataclass
class Tree:
    """One isolation tree as parallel pre-order flat arrays."""

    feature_index: np.ndarray  # int32
    feature_value: np.ndarray  # float64
    left: np.ndarray  # int32
    right: np.ndarray  # int32
    num_instance: np.ndarray  # int64

    @property
    def num_nodes(self) -> int:
        return len(self.feature_index)

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, Tree):
            return NotImplemented
        return (
            np.array_equal(self.feature_index, other.feature_index)
            and np.array_equal(self.feature_value, other.feature_value)
            and np.array_equal(self.left, other.left)
            and np.array_equal(self.right, other.right)
            and np.array_equal(self.num_instance, other.num_instance)
        )


class TreeBuilder:
    """Accumulates nodes in pre-order during induction; emits a Tree."""

    def __init__(self) -> None:
        self.feature_index: list[int] = []
        self.feature_value: list[float] = []
        self.left: list[int] = []
        self.right: list[int] = []
        self.num_instance: list[int] = []

    def add_leaf(self, num_instance: int) -> int:
        nid = len(self.feature_index)
        self.feature_index.append(-1)
        self.feature_value.append(-1.0)
        self.left.append(-1)
        self.right.append(-1)
        self.num_instance.append(int(num_instance))
        return nid

    def add_internal(self, feature_index: int, feature_value: float) -> int:
        """Reserve an internal node; children are patched in later (pre-order)."""
        nid = len(self.feature_index)
        self.feature_index.append(int(feature_index))
        self.feature_value.append(float(feature_value))
        self.left.append(-1)
        self.right.append(-1)
        self.num_instance.append(0)
        return nid

    def set_children(self, nid: int, left: int, right: int) -> None:
        self.left[nid] = left
        self.right[nid] = right

    def build(self) -> Tree:
        return Tree(
            feature_index=np.asarray(self.feature_index, dtype=np.int32),
            feature_value=np.asarray(self.feature_value, dtype=np.float64),
            left=np.asarray(self.left, dtype=np.int32),
            right=np.asarray(self.right, dtype=np.int32),
            num_instance=np.asarray(self.num_instance, dtype=np.int64),
        )


def tree_to_rows(tree_id: int, tree: Tree) -> list[tuple]:
    """Flatten one tree to (treeID, id, featureIndex, featureValue, leftChild,
    rightChild, numInstance) tuples. Node ids are already pre-order.

    The package encodes with ``tree_to_batch``; this per-node form is kept
    for the benchmark's codec probe."""
    return [
        (
            int(tree_id),
            int(i),
            int(tree.feature_index[i]),
            float(tree.feature_value[i]),
            int(tree.left[i]),
            int(tree.right[i]),
            int(tree.num_instance[i]),
        )
        for i in range(tree.num_nodes)
    ]


def tree_to_batch(tree_id: int, tree: Tree) -> pa.RecordBatch:
    """One tree as a ``FLAT_NODE_SCHEMA`` Arrow batch, column by column."""
    n = tree.num_nodes
    cols = [
        np.full(n, tree_id, dtype=np.int32),
        np.arange(n, dtype=np.int32),
        tree.feature_index,
        tree.feature_value,
        tree.left,
        tree.right,
        tree.num_instance,
    ]
    return pa.RecordBatch.from_arrays([pa.array(c) for c in cols], names=_FLAT_NODE_COLS)


def rows_to_forest(rows) -> list[Tree]:
    """``pandas_to_forest`` over an iterable of node-row dicts (the
    ``FLAT_NODE_SCHEMA`` fields)."""
    import pandas as pd

    return pandas_to_forest(pd.DataFrame(list(rows), columns=_FLAT_NODE_COLS))


def pandas_to_forest(table) -> list[Tree]:
    """Rebuild a forest from a node table, a pandas DataFrame or a pyarrow
    Table with the ``FLAT_NODE_SCHEMA`` columns in any row order.

    The node table may come from outside the program (a loaded model), so
    the reference's load invariants (IForest.scala:259-281) are checked
    here, column-wise, and a bad table raises a ``ValueError``: no null
    (or NaN) field, tree ids dense 0..T-1, node ids dense 0..n-1 per tree
    (root 0), and every internal node's children inside its tree."""
    cols = {c: table[c].to_numpy() for c in _FLAT_NODE_COLS}
    for name, v in cols.items():
        # Arrow and pandas both hand a null integer back as a NaN float
        if v.dtype.kind == "f" and np.isnan(v).any():
            raise ValueError(f"tree {cols['treeID'][np.isnan(v)][0]:g}: null or NaN {name}")
    order = np.lexsort((cols["id"], cols["treeID"]))
    tid = cols["treeID"][order]
    nid = cols["id"][order]
    fi = cols["featureIndex"][order].astype(np.int32)
    fv = cols["featureValue"][order].astype(np.float64)
    lc = cols["leftChild"][order].astype(np.int32)
    rc = cols["rightChild"][order].astype(np.int32)
    ni = cols["numInstance"][order].astype(np.int64)
    uniq, starts = np.unique(tid, return_index=True)
    if not np.array_equal(uniq, np.arange(len(uniq))):
        raise ValueError(
            f"tree ids must be dense 0..{len(uniq) - 1}, got {uniq.tolist()}"
        )
    sizes = np.diff(np.append(starts, len(tid)))
    bad = nid != np.arange(len(tid)) - np.repeat(starts, sizes)
    if bad.any():
        t = int(tid[bad][0])
        raise ValueError(f"tree {t}: node ids must be dense 0..{sizes[t] - 1}")
    size = np.repeat(sizes, sizes)
    bad = (fi >= 0) & ((np.minimum(lc, rc) < 0) | (np.maximum(lc, rc) >= size))
    if bad.any():
        t = int(tid[bad][0])
        raise ValueError(
            f"tree {t}: an internal node has a child outside 0..{sizes[t] - 1}"
        )
    return [
        Tree(
            feature_index=fi[a:b].copy(),
            feature_value=fv[a:b].copy(),
            left=lc[a:b].copy(),
            right=rc[a:b].copy(),
            num_instance=ni[a:b].copy(),
        )
        for a, b in zip(starts.tolist(), (starts + sizes).tolist())
    ]


@dataclass
class PackedForest:
    """All trees concatenated into single arrays for the batch scorer.

    ``offsets[t]`` is the index of tree t's root. Children are ABSOLUTE
    indices, interleaved as ``kids[2*i] = right``, ``kids[2*i+1] = left``
    so that a descent step is ``kids[2*i + (x < feature_value[i])]``.
    Leaves self-loop (both kids = own id), so the descent is branchless —
    rows already at a leaf just stay put. ``path_value`` holds each leaf's
    whole contribution, depth + c(numInstance), and ``feature_index`` is
    clamped to 0 at leaves (never used, keeps gathers in-bounds). One
    contiguous allocation → one broadcast payload.
    """

    offsets: np.ndarray  # int64, len T+1
    feature_index: np.ndarray  # int64, clamped >= 0 (int64 keeps every
    #   fancy-index in the descent on numpy's same-dtype fast path)
    feature_value: np.ndarray  # float64
    kids: np.ndarray  # int64 absolute, len 2n: [2i] right, [2i+1] left
    path_value: np.ndarray  # float64: depth + c(numInstance) at leaves, else 0
    leaf_adjust: np.ndarray  # float64: c(numInstance) at leaves, else 0
    num_features: int  # 1 + the largest split feature index: the row
    #   width the descent reads (0 for a forest of single leaves)
    max_depth: int  # deepest leaf across the forest
    tree_depth: np.ndarray  # int32, per-tree deepest leaf
    width: int | None = None  # the training row width, when the model
    #   knows it: rows must then have exactly this width

    @property
    def num_trees(self) -> int:
        return len(self.offsets) - 1


def pack_forest(trees: list[Tree]) -> PackedForest:
    from spark_iforest_spark.scorer import _avg_length_vec

    sizes = np.array([t.num_nodes for t in trees], dtype=np.int64)
    offsets = np.concatenate([[0], np.cumsum(sizes)])
    fi = np.concatenate([t.feature_index for t in trees]).astype(np.int32)
    fv = np.concatenate([t.feature_value for t in trees])
    ni = np.concatenate([t.num_instance for t in trees])
    is_leaf = fi < 0
    n = len(fi)
    kids = np.empty(2 * n, dtype=np.int64)
    kids[0::2] = np.concatenate([t.right.astype(np.int64) + off for t, off in zip(trees, offsets)])
    kids[1::2] = np.concatenate([t.left.astype(np.int64) + off for t, off in zip(trees, offsets)])
    leaves = np.flatnonzero(is_leaf)
    kids[2 * leaves] = kids[2 * leaves + 1] = leaves
    leaf_adjust = np.zeros(n, dtype=np.float64)
    leaf_adjust[leaves] = _avg_length_vec(ni[leaves])
    # node depths, one vectorized step per level: the children of one
    # level's internal nodes are the next level. A tree visits each node
    # once; counting visits stops a loaded model whose pointers loop.
    depth = np.zeros(n, dtype=np.int32)
    level = offsets[:-1][sizes > 0]
    visited = d = 0
    while len(level):
        visited += len(level)
        if visited > n:
            raise ValueError("child pointers do not form trees: a node is reached twice")
        depth[level] = d
        level = level[~is_leaf[level]]
        level = np.concatenate([kids[2 * level], kids[2 * level + 1]])
        d += 1
    tree_depth = np.zeros(len(trees), dtype=np.int32)
    if n:
        tree_depth[sizes > 0] = np.maximum.reduceat(depth, offsets[:-1][sizes > 0])
    return PackedForest(
        offsets=offsets,
        feature_index=np.where(is_leaf, 0, fi).astype(np.int64),
        feature_value=fv,
        kids=kids,
        path_value=np.where(is_leaf, depth + leaf_adjust, 0.0),
        leaf_adjust=leaf_adjust,
        num_features=int(fi.max()) + 1 if n else 0,
        max_depth=int(depth[is_leaf].max()) if n else 0,
        tree_depth=tree_depth,
    )
