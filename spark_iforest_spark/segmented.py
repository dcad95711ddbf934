"""Segmented (per-group) isolation forests: one independent model per key.

Multi-tenant anomaly detection — "is this event anomalous FOR THIS user /
event type / tenant" — needs a forest per segment, not one global model
whose scores conflate segments with different base distributions. The
reference has no per-group mode; this module adds it Spark-first:

* ONE ``groupBy(key).applyInArrow`` pass — each task fits its segment's
  forest with the exact same pure-numpy kernels the flagship uses
  (``trainer.train_tree``, ``nodes.pack_forest``,
  ``scorer.anomaly_scores``) and scores the segment in place. No nested
  Spark jobs, no driver loop over keys: at 100 TB this is a single
  shuffle keyed by segment, with every segment training in parallel.
  Rows, keys and node tables stay Arrow values end to end; features
  become a numpy matrix through ``scorer._features_matrix``, the
  flagship's one conversion.
* Determinism: the per-segment RNG seeds from
  ``SeedSequence([seed, md5(key)])`` — a pure function of (data, params,
  key), independent of partition layout or segment arrival order
  (pytest-pinned), matching the engine's reproducibility discipline.
* Per-segment threshold: the exact ``ceil((1-contamination) * n)``-th
  smallest score (same order-statistic definition as the flagship's
  relErr=0 path), computed in-task; prediction = score > threshold.
* Keys group as Spark groups them: a NULL key is one segment and a NaN
  key another, and both come back with the key they were fitted under.

Bad rows: in a segment that is fitted (or being fitted), a null or uneven
features row raises ``_features_matrix``'s ``ValueError`` naming the
features column; when scoring, rows of a segment with no fitted model
are never read and come back with a NULL score and prediction.

Bounds: a segment must fit one task (same contract as every grouped
Arrow stage in the repo — the assignment shuffle carries the segment's
rows once). For segments beyond task memory, fall back to the global
``IForest`` on that segment's slice; ``max_rows_per_group`` makes the
failure explicit instead of an executor OOM.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from spark_iforest_spark.nodes import (
    FLAT_NODE_SCHEMA,
    pack_forest,
    pandas_to_forest,
    tree_to_batch,
)
from spark_iforest_spark.scorer import _features_matrix, anomaly_scores
from spark_iforest_spark.trainer import train_tree

# transform_broadcast buffers incoming Arrow batches to this many rows
# before scoring, so per-segment kernel batches stay large even when many
# segments are mixed in the input (~64k rows × (7-double feature array +
# key + id) ≈ 10 MB per Python worker — L2/L3-friendly, far under the
# executor budget).
_SCORE_BUFFER_ROWS = 65_536


def _group_seed(seed: int, key) -> np.random.SeedSequence:
    # canonicalize numpy scalars BEFORE repr (round-8 advice fix): a
    # caller may pass a numpy scalar where another passes the Python
    # value — repr() agrees on numpy<2.0 ('3' == '3') but numpy>=2.0
    # reprs np.int32(3) as 'np.int32(3)', which would silently break the
    # pure-function-of-(rows, params, key) determinism contract. The
    # Spark stages pass the Arrow key's ``as_py()``.
    if hasattr(key, "item"):
        key = key.item()
    h = int(hashlib.md5(repr(key).encode("utf-8")).hexdigest()[:8], 16)
    return np.random.SeedSequence([seed & 0x7FFFFFFF, h])


def _canonical_key(table: pa.Table) -> pa.Table:
    """``table`` with its ``_key`` as Spark groups it. A TIMESTAMP key is
    cast to UTC, the same instants: Spark hands such keys to a UDF in the
    session time zone but accepts them back only in UTC, and a UTC key
    seeds its segment the same way whatever the session time zone. A
    floating key's -0.0 becomes 0.0 (adding 0.0 keeps NaN and NULL), since
    Spark groups the two together and Arrow's ``index_in`` would not."""
    i = table.schema.get_field_index("_key")
    t = table.schema.types[i]
    key = table.column(i)
    if pa.types.is_timestamp(t) and t.tz is not None:
        key = key.cast(pa.timestamp(t.unit, "UTC"))
    elif pa.types.is_floating(t):
        key = pc.add(key, pa.scalar(0.0, t))
    else:
        return table
    return table.set_column(i, "_key", key)


def _segment_forest(
    x: np.ndarray,
    key,
    num_trees: int,
    max_samples: int,
    max_depth: int,
    max_features: float,
    seed: int,
):
    """(trees, psi) for one segment — the SHARED per-segment fit kernel:
    the in-place ``fit_score_groups`` task, the persistable ``fit_groups``
    task, and the correctness gate's driver-side recompute all call this
    one function, so their forests are bit-identical by construction."""
    n = len(x)
    psi = min(max_samples, n)
    ss = _group_seed(seed, key)
    # one child seed per tree for sampling; train_tree derives its own
    # split RNG from (tree_seed, tree_id) exactly like the flagship
    tree_seed = int(ss.generate_state(1, dtype=np.uint32)[0])
    rng = np.random.default_rng(ss)
    if psi < n:
        # sampled positions must not depend on the group's ARRIVAL order
        # (a shuffle artifact): canonicalize the pool by row content first
        # (lexicographic over feature columns), so the fitted forest is a
        # pure function of the segment's row SET on any partition layout.
        # train_tree itself is order-independent (splits from set min/max),
        # so the psi == n path needs no sort. Round-7 fix: previously the
        # psi < n path sampled arrival positions directly — deterministic
        # only per-layout, which the layout-invariance test (psi == n)
        # could not see.
        pool = x[np.lexsort(x.T[::-1])]
    else:
        pool = x
    trees = []
    for tree_id in range(num_trees):
        idx = (
            rng.choice(n, size=psi, replace=False) if psi < n else np.arange(n)
        )
        trees.append(train_tree(pool[idx], max_depth, max_features, tree_seed, tree_id))
    return trees, psi


def _fit_segment(
    table: pa.Table,
    features_col: str,
    num_trees: int,
    max_samples: int,
    max_depth: int,
    max_features: float,
    contamination: float,
    seed: int,
    max_rows_per_group: int,
):
    """(trees, psi, scores, threshold) for the one segment in ``table``
    (``_key``, ``_feat`` columns): the task body of ``fit_score_groups``
    and ``fit_groups``, which score the training rows the same way."""
    key = table.column("_key")[0].as_py()
    n = table.num_rows
    if n > max_rows_per_group:
        raise ValueError(
            f"segment {key!r} has {n} rows > max_rows_per_group="
            f"{max_rows_per_group}; fit the global IForest on this "
            "segment instead"
        )
    x = _features_matrix(table.column("_feat").combine_chunks(), features_col)
    trees, psi = _segment_forest(
        x, key, num_trees, max_samples, max_depth, max_features, seed
    )
    scores = anomaly_scores(pack_forest(trees), x, float(psi), features_col)
    return trees, psi, scores, _order_stat_threshold(scores, contamination)


def _group_positions(seg: np.ndarray) -> list:
    """(segment number, row positions in ascending order) for each
    distinct value of ``seg``, in increasing segment order."""
    order = np.argsort(seg, kind="stable")
    cuts = np.flatnonzero(np.diff(seg[order])) + 1
    return [(int(seg[idx[0]]), idx) for idx in np.split(order, cuts) if len(idx)]


def _score_segments(rows: pa.Table, seg: np.ndarray, models: list, features_col: str) -> pa.Table:
    """``rows``' ``_key`` [``_id``] with the anomalyScore and prediction
    of row i under ``models[seg[i]]`` (forest, psi, threshold). A row with
    ``seg`` -1 has no fitted segment: its features are never read, and its
    score and prediction are NULL."""
    n = rows.num_rows
    scores = np.zeros(n, dtype=np.float64)
    preds = np.zeros(n, dtype=np.int32)
    feat = rows.column("_feat").combine_chunks()
    for g, idx in _group_positions(seg):
        if g < 0:
            continue
        forest, psi, thr = models[g]
        x = _features_matrix(feat.take(idx), features_col)
        s = anomaly_scores(forest, x, psi, features_col)
        scores[idx] = s
        preds[idx] = s > thr
    return _with_scores(rows, scores, preds, unfitted=seg < 0)


def _with_scores(rows: pa.Table, scores, preds, unfitted=None) -> pa.Table:
    """``rows`` with ``_feat`` replaced by the anomalyScore and prediction
    columns, NULL where ``unfitted`` is set."""
    return (
        rows.drop_columns(["_feat"])
        .append_column("anomalyScore", pa.array(scores, mask=unfitted))
        .append_column("prediction", pa.array(preds, mask=unfitted))
    )


def _scoring_io(df: DataFrame, key_col: str, features_col: str, id_col: str | None):
    """(src, out_schema, rename) for a segmented scoring stage: the
    ``_key`` [``_id``] ``_feat`` projection it reads, the Spark schema of
    its ``_key`` [``_id``] anomalyScore prediction output, and the
    function that gives that output the caller's column names back."""
    sel = [F.col(key_col).alias("_key"), F.col(features_col).cast("array<double>").alias("_feat")]
    id_part = ""
    if id_col is not None:
        sel.insert(1, F.col(id_col).alias("_id"))
        id_part = f"_id {df.schema[id_col].dataType.simpleString()}, "
    key_type = df.schema[key_col].dataType.simpleString()
    out_schema = f"_key {key_type}, {id_part}anomalyScore double, prediction int"

    def rename(result: DataFrame) -> DataFrame:
        cols = [F.col("_key").alias(key_col)]
        if id_col is not None:
            cols.append(F.col("_id").alias(id_col))
        return result.select(*cols, "anomalyScore", "prediction")

    return df.select(*sel), out_schema, rename


def _cluster_by_key(src: DataFrame) -> DataFrame:
    """Hash-cluster on ``_key`` with an EXPLICIT partition count before a
    grouped Arrow stage. Without this, AQE's size-based coalescing sees a
    few MB of shuffle data and folds the whole groupBy into ONE partition
    — correct for IO-bound aggregates, catastrophic for a compute-bound
    grouped map (measured: 32 segments fitting serially in one Python
    worker, 6.2 s where 8-way parallel takes ~1 s). An explicit
    ``repartition(n, key)`` satisfies the grouped distribution requirement
    (no second exchange) and AQE leaves user-specified counts alone."""
    from spark_iforest_spark.functions import shuffle_partitions

    return src.repartition(shuffle_partitions(src.sparkSession), "_key")


def _order_stat_threshold(scores: np.ndarray, contamination: float) -> float:
    """The exact ``ceil((1-contamination) * n)``-th smallest score (same
    order-statistic definition as the flagship's relErr=0 path)."""
    n = len(scores)
    rank = math.ceil((1.0 - contamination) * n)
    if 0 < rank <= n:
        return float(np.partition(scores, rank - 1)[rank - 1])
    return float("-inf") if rank <= 0 else float("inf")


def fit_score_groups(
    df: DataFrame,
    key_col: str,
    features_col: str = "features",
    id_col: str | None = None,
    num_trees: int = 50,
    max_samples: int = 256,
    max_depth: int = 10,
    max_features: float = 1.0,
    contamination: float = 0.01,
    seed: int = 0,
    max_rows_per_group: int = 5_000_000,
) -> DataFrame:
    """(key, [id], anomalyScore, prediction) with an independent isolation
    forest per ``key_col`` segment.

    ``features_col`` must be array<numeric>; ``id_col`` (optional) is
    carried through for joining back to the source table. ``max_samples``
    is the absolute per-tree sample size ψ (capped at the segment size);
    segments larger than ``max_rows_per_group`` raise rather than OOM a
    task. Scores are the standard ``2^(-E[path]/c(ψ))`` with ψ = the
    segment's effective sample size, so scores are comparable WITHIN a
    segment (the point of segmentation), not across segments with
    different ψ.
    """
    src, out_schema, rename = _scoring_io(df, key_col, features_col, id_col)

    def fit_score(table):
        table = _canonical_key(table)
        _, _, scores, thr = _fit_segment(
            table, features_col, num_trees, max_samples, max_depth,
            max_features, contamination, seed, max_rows_per_group,
        )
        # prediction = score > the segment's order-statistic threshold
        return _with_scores(table, scores, (scores > thr).astype(np.int32))

    return rename(
        _cluster_by_key(src).groupBy("_key").applyInArrow(fit_score, schema=out_schema)
    )


# ------------------------------------------------------- model lifecycle
#
# fit_groups -> SegmentedIForestModel -> transform(new rows) / save / load:
# the reference's Estimator→Model→persist contract (IForest.scala:283-310)
# at segment granularity, which is what makes per-tenant forests reusable —
# score tomorrow's events against today's fitted segments without refitting.

_META_COLS = "psi double, threshold double, n_rows long"


def _segment_model(nodes: pa.Table) -> tuple:
    """(packed forest, psi, threshold) of one segment's node rows."""
    return (
        pack_forest(pandas_to_forest(nodes)),
        nodes.column("psi")[0].as_py(),
        nodes.column("threshold")[0].as_py(),
    )


class SegmentedIForestModel:
    """Per-segment isolation forests as a persistable RELATION.

    ``nodes`` holds one row per tree node keyed by segment — the same
    pre-order flat NodeData encoding as the flagship's model sink
    (``nodes.FLAT_NODE_SCHEMA``, reference IForestModel at
    IForest.scala:283-310) with the per-segment scalars (psi, threshold,
    n_rows) denormalized onto every row, so the whole model is ONE
    parquet-writable DataFrame.
    Scoring new rows is a cogroup of (rows, nodes) by segment: one shuffle
    of the rows + one of the (small) model relation, every segment scored
    in parallel with the flagship's numpy kernels."""

    def __init__(self, key_col: str, features_col: str, params: dict, nodes: DataFrame):
        self.key_col = key_col
        self.features_col = features_col
        self.params = dict(params)
        self.nodes = nodes

    def segments(self) -> DataFrame:
        """(key, psi, threshold, n_rows, n_trees, n_nodes) summary."""
        return self.nodes.groupBy(self.key_col).agg(
            F.first("psi").alias("psi"),
            F.first("threshold").alias("threshold"),
            F.first("n_rows").alias("n_rows"),
            (F.max("treeID") + 1).alias("n_trees"),
            F.count(F.lit(1)).alias("n_nodes"),
        )

    def transform(
        self,
        df: DataFrame,
        features_col: str | None = None,
        id_col: str | None = None,
    ) -> DataFrame:
        """Score NEW rows against the fitted segment models: (key, [id],
        anomalyScore, prediction). Rows whose segment has no fitted model
        come back with NULL score and prediction — the caller decides
        whether an unseen segment is an error or a fit-later case.

        On the training slice this reproduces ``fit_score_groups``
        bit-exactly (pytest-pinned): same packed forest (float64 survives
        the parquet round-trip losslessly), same psi, same stored
        threshold."""
        fcol = features_col or self.features_col
        src, out_schema, rename = _scoring_io(df, self.key_col, fcol, id_col)
        nodes = self.nodes.withColumnRenamed(self.key_col, "_key")

        def score(rows, model):
            # the cogroup holds one segment: its model, or none if unfitted
            models = [_segment_model(model)] if model.num_rows else []
            seg = np.full(rows.num_rows, 0 if models else -1)
            return _score_segments(_canonical_key(rows), seg, models, fcol)

        return rename(
            _cluster_by_key(src)
            .groupby("_key")
            .cogroup(_cluster_by_key(nodes).groupby("_key"))
            .applyInArrow(score, schema=out_schema)
        )

    def transform_broadcast(
        self,
        df: DataFrame,
        features_col: str | None = None,
        id_col: str | None = None,
        max_nodes: int = 20_000_000,
    ) -> DataFrame:
        """Stateless scoring of new rows — batch OR streaming.

        The cogroup path (:meth:`transform`) shuffles rows by segment,
        which Structured Streaming's micro-batch planner cannot host; this
        variant instead collects the (small by design — O(segments ·
        num_trees · psi) rows, guarded by ``max_nodes``) node relation to
        the driver once with ``toArrow``, packs one forest per segment, and
        ships them inside a ``mapInArrow`` closure: zero shuffle, rows
        scored in place, the same plan shape as the flagship's broadcast
        scorer. Rows find their segment with Arrow's ``index_in``, which
        matches keys as Spark's groupBy does (NULL = NULL, NaN = NaN,
        NaN ≠ NULL). Output is bit-equal to :meth:`transform`
        (pytest-pinned) — same packed forests, psi, thresholds.

        Prefer :meth:`transform` for huge batch scoring jobs with MANY
        segments (the model never leaves the cluster); use this for
        streams and for modest model sizes."""
        n_nodes = self.nodes.count()
        if n_nodes > max_nodes:
            raise ValueError(
                f"model has {n_nodes} node rows > max_nodes={max_nodes}: "
                "too large to broadcast — score with transform() (batch) "
                "or raise max_nodes if the driver/executors have headroom"
            )
        node_table = _canonical_key(self.nodes.withColumnRenamed(self.key_col, "_key").toArrow())
        node_keys = node_table.column("_key")
        model_keys = pc.unique(node_keys)
        models = [
            _segment_model(node_table.take(idx))
            for _, idx in _group_positions(
                pc.index_in(node_keys, value_set=model_keys, skip_nulls=False).to_numpy()
            )
        ]
        fcol = features_col or self.features_col
        src, out_schema, rename = _scoring_io(df, self.key_col, fcol, id_col)

        def score_chunk(rows):
            rows = _canonical_key(rows)
            seg = pc.fill_null(
                pc.index_in(rows.column("_key"), value_set=model_keys, skip_nulls=False), -1
            )
            return _score_segments(rows, seg.to_numpy(), models, fcol).to_batches()

        def score_batches(it):
            # Buffer incoming Arrow batches to ~_SCORE_BUFFER_ROWS before
            # scoring: with K segments mixed in the input, a raw 10k-row
            # Arrow batch fragments into K tiny kernel calls — far off the
            # level-synchronous descent's efficient batch regime (measured
            # at sf2.5, 15M rows / 32 segments: fragmented vs buffered in
            # SCALE.md round 8). Concat in arrival order preserves row
            # order, so output stays bit-equal to the cogroup path; worker
            # memory is bounded by the buffer target, not the partition.
            buf = []
            buffered = 0
            for batch in it:
                if not batch.num_rows:
                    continue
                buf.append(batch)
                buffered += batch.num_rows
                if buffered >= _SCORE_BUFFER_ROWS:
                    yield from score_chunk(pa.Table.from_batches(buf).combine_chunks())
                    buf, buffered = [], 0
            if buf:
                yield from score_chunk(pa.Table.from_batches(buf).combine_chunks())

        return rename(src.mapInArrow(score_batches, schema=out_schema))

    def save(self, path: str) -> None:
        """Persist to ``path`` on ANY Hadoop filesystem: the node relation
        as parquet at ``path/data`` (same layout discipline as the
        flagship's S2 sink) plus a JSON params sidecar."""
        from spark_iforest_spark import fs

        spark = self.nodes.sparkSession
        self.nodes.write.mode("overwrite").parquet(path.rstrip("/") + "/data")
        fs.save_json(
            spark,
            path.rstrip("/") + "/metadata.json",
            {
                "key_col": self.key_col,
                "features_col": self.features_col,
                "params": self.params,
            },
        )

    @staticmethod
    def load(spark, path: str) -> "SegmentedIForestModel":
        from spark_iforest_spark import fs

        meta = fs.load_json(spark, path.rstrip("/") + "/metadata.json")
        nodes = spark.read.parquet(path.rstrip("/") + "/data")
        return SegmentedIForestModel(
            meta["key_col"], meta["features_col"], meta["params"], nodes
        )


def fit_groups(
    df: DataFrame,
    key_col: str,
    features_col: str = "features",
    num_trees: int = 50,
    max_samples: int = 256,
    max_depth: int = 10,
    max_features: float = 1.0,
    contamination: float = 0.01,
    seed: int = 0,
    max_rows_per_group: int = 5_000_000,
) -> SegmentedIForestModel:
    """Fit one isolation forest per ``key_col`` segment and return a
    persistable :class:`SegmentedIForestModel` (contrast
    :func:`fit_score_groups`, which scores in place and keeps nothing).

    Same determinism contract: the per-segment forest is a pure function
    of (segment rows, params, key) via ``SeedSequence([seed, md5(key)])``,
    so refitting on any partition layout reproduces the model bit-exactly.
    The per-segment threshold is fixed at fit time from the training
    scores (the reference's fit-scores-training-set semantics,
    IForest.scala:208-239), so transform on new data is a stateless map.

    ONE ``groupBy(key).applyInArrow`` shuffle; each task emits its
    segment's ``nodes.tree_to_batch`` node table with the key and the
    per-segment scalars appended — O(num_trees · psi) rows per segment,
    independent of segment size, so the model relation stays small even
    when segments are huge."""
    src, _, _ = _scoring_io(df, key_col, features_col, None)
    key_type = df.schema[key_col].dataType.simpleString()
    out_schema = f"_key {key_type}, {FLAT_NODE_SCHEMA}, {_META_COLS}"

    def fit(table):
        table = _canonical_key(table)
        trees, psi, _, thr = _fit_segment(
            table, features_col, num_trees, max_samples, max_depth,
            max_features, contamination, seed, max_rows_per_group,
        )
        out = pa.Table.from_batches([tree_to_batch(t, tree) for t, tree in enumerate(trees)])
        m = out.num_rows
        return (
            out.add_column(0, "_key", pa.repeat(table.column("_key")[0], m))
            .append_column("psi", pa.repeat(pa.scalar(float(psi)), m))
            .append_column("threshold", pa.repeat(pa.scalar(thr), m))
            .append_column("n_rows", pa.repeat(pa.scalar(table.num_rows, pa.int64()), m))
        )

    nodes = (
        _cluster_by_key(src)
        .groupBy("_key")
        .applyInArrow(fit, schema=out_schema)
        .withColumnRenamed("_key", key_col)
    )
    params = {
        "num_trees": num_trees,
        "max_samples": max_samples,
        "max_depth": max_depth,
        "max_features": max_features,
        "contamination": contamination,
        "seed": seed,
    }
    return SegmentedIForestModel(key_col, features_col, params, nodes)


def recalibrate_groups(
    model: SegmentedIForestModel,
    df: DataFrame,
    contamination: float,
) -> SegmentedIForestModel:
    """New per-segment thresholds from a calibration snapshot WITHOUT
    refitting any forest — the cheap knob when the alert budget changes
    (contamination is an operating point, not a property of the trees).

    Scores ``df`` with the existing segment forests (cogroup — the model
    stays cluster-side), takes each segment's exact
    ``ceil((1-contamination)·n)``-th smallest score (the same
    order-statistic definition fit uses, computed per segment in ONE
    ``applyInArrow`` pass over the scored rows), and returns a model
    with only the ``threshold`` column replaced. Segments of the model
    absent from ``df`` keep their old threshold. Recalibrating on the
    ORIGINAL training slice with the original contamination reproduces
    the fitted thresholds exactly (pytest-pinned)."""
    key_col = model.key_col
    scored = model.transform(df).where(F.col("anomalyScore").isNotNull())

    def thr(table):
        table = _canonical_key(table)
        scores = table.column("anomalyScore").to_numpy()
        return pa.table(
            {
                "_key": table.column("_key").slice(0, 1),
                "_new_thr": [_order_stat_threshold(scores, contamination)],
            }
        )

    key_type = model.nodes.schema[key_col].dataType.simpleString()
    new_thr = (
        _cluster_by_key(scored.select(F.col(key_col).alias("_key"), "anomalyScore"))
        .groupBy("_key")
        .applyInArrow(thr, schema=f"_key {key_type}, _new_thr double")
        .withColumnRenamed("_key", key_col)
    )
    # null-SAFE splice: a NULL-key segment's new threshold must attach to
    # its node rows (a plain equi-join drops NULL matches)
    nt = new_thr.withColumnRenamed(key_col, "_k")
    nodes = (
        model.nodes.join(nt, F.col(key_col).eqNullSafe(F.col("_k")), "left")
        .withColumn("threshold", F.coalesce("_new_thr", "threshold"))
        .drop("_k", "_new_thr")
    )
    params = dict(model.params, contamination=contamination)
    return SegmentedIForestModel(key_col, model.features_col, params, nodes)


def update_groups(
    model: SegmentedIForestModel,
    df: DataFrame,
    changed_keys: list,
    max_rows_per_group: int = 5_000_000,
) -> SegmentedIForestModel:
    """Refit ONLY the segments in ``changed_keys`` against the current
    snapshot and splice them into ``model`` — the incremental maintenance
    mode for per-tenant forests (daily: most tenants' data is unchanged;
    refitting a million stable segments to update ten is the kind of
    full-recompute the incremental dedup family already refuses).

    Unchanged segments keep their node rows VERBATIM (no recompute, no
    re-read of their data); changed segments refit with the model's own
    params through the shared kernel, so the result is bit-identical to a
    full ``fit_groups`` over the same snapshot whenever the unchanged
    segments' data really is unchanged (pytest-pinned — determinism of
    the kernel is what makes splice == refit). New keys in
    ``changed_keys`` simply add segments; keys absent from ``df`` are
    dropped from the model.

    Plan: one batch-sized IN-filter on the (small) node relation + one
    ``fit_groups`` over only the changed segments' rows — per-update cost
    scales with the changed slice, never the tenant count."""
    if not changed_keys:
        return model
    key_col = model.key_col
    keys = list(changed_keys)
    # NULL-safe membership (round-7 review fix): a bare ~isin() is NULL —
    # not True — for a NULL key, which would silently DROP a null-key
    # segment from `kept`; None in changed_keys likewise needs an
    # explicit isNull branch on the refit side
    non_null = [k for k in keys if k is not None]
    changed = F.col(key_col).isin(non_null) if non_null else F.lit(False)
    if any(k is None for k in keys):
        changed = changed | F.col(key_col).isNull()
    changed = F.coalesce(changed, F.lit(False))
    kept = model.nodes.where(~changed)
    refit = fit_groups(
        df.where(changed),
        key_col,
        model.features_col,
        max_rows_per_group=max_rows_per_group,
        **model.params,
    )
    return SegmentedIForestModel(
        key_col,
        model.features_col,
        model.params,
        kept.unionByName(refit.nodes),
    )
