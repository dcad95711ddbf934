"""Segmented (per-group) isolation forests: one independent model per key.

Multi-tenant anomaly detection — "is this event anomalous FOR THIS user /
event type / tenant" — needs a forest per segment, not one global model
whose scores conflate segments with different base distributions. The
reference has no per-group mode; this module adds it Spark-first:

* ONE ``groupBy(key).applyInPandas`` pass — each task fits its segment's
  forest with the exact same pure-numpy kernels the flagship uses
  (``trainer.train_tree``, ``nodes.pack_forest``,
  ``scorer.anomaly_scores``) and scores the segment in place. No nested
  Spark jobs, no driver loop over keys: at 100 TB this is a single
  shuffle keyed by segment, with every segment training in parallel.
* Determinism: the per-segment RNG seeds from
  ``SeedSequence([seed, md5(key)])`` — a pure function of (data, params,
  key), independent of partition layout or segment arrival order
  (pytest-pinned), matching the engine's reproducibility discipline.
* Per-segment threshold: the exact ``ceil((1-contamination) * n)``-th
  smallest score (same order-statistic definition as the flagship's
  relErr=0 path), computed in-task; prediction = score > threshold.

Bounds: a segment must fit one task (same contract as every
``applyInPandas`` group in the repo — the assignment shuffle carries the
segment's rows once). For segments beyond task memory, fall back to the
global ``IForest`` on that segment's slice; ``max_rows_per_group`` makes
the failure explicit instead of an executor OOM.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from spark_iforest_spark.nodes import (
    FLAT_NODE_SCHEMA,
    pack_forest,
    pandas_to_forest,
    tree_to_batch,
)
from spark_iforest_spark.scorer import anomaly_scores
from spark_iforest_spark.trainer import train_tree

# transform_broadcast buffers incoming Arrow batches to this many rows
# before scoring, so per-segment kernel batches stay large even when many
# segments are mixed in the input (~64k rows × (7-double feature array +
# key + id) ≈ 10 MB per Python worker — L2/L3-friendly, far under the
# executor budget).
_SCORE_BUFFER_ROWS = 65_536

# whole-segment kernel calls cap their row-block size here: the descent's
# B-sized working arrays (scorer.path_lengths) must stay cache-resident —
# a 500k-row segment scored in one call streams multi-MB arrays through
# every numpy op, which collapses under many concurrent workers exactly
# like the (T,B) formulation the scorer rejects. 16k rows ≈ 128 KB per
# working array. Scores are bit-identical (row-independent kernel).
_SCORE_BLOCK_ROWS = 16_384


def _blocked_scores(forest, x: np.ndarray, psi: float) -> np.ndarray:
    """anomaly_scores over row blocks of ``_SCORE_BLOCK_ROWS`` — same
    values (each row's descent is independent), bounded working set."""
    n = len(x)
    if n <= _SCORE_BLOCK_ROWS:
        return anomaly_scores(forest, x, psi)
    out = np.empty(n, dtype=np.float64)
    for lo in range(0, n, _SCORE_BLOCK_ROWS):
        hi = min(lo + _SCORE_BLOCK_ROWS, n)
        out[lo:hi] = anomaly_scores(forest, x[lo:hi], psi)
    return out


def _group_seed(seed: int, key) -> np.random.SeedSequence:
    # canonicalize numpy scalars BEFORE repr (round-8 advice fix):
    # executor-side keys arrive as numpy scalars (pdf["_key"].iloc[0])
    # while driver recomputes pass Python ints — repr() agrees on
    # numpy<2.0 ('3' == '3') but numpy>=2.0 reprs np.int32(3) as
    # 'np.int32(3)', which would silently break the pure-function-of-
    # (rows, params, key) determinism contract. .item() is bit-neutral
    # on the current pin (same repr), so fitted forests are unchanged.
    if hasattr(key, "item"):
        key = key.item()
    h = int(hashlib.md5(repr(key).encode("utf-8")).hexdigest()[:8], 16)
    return np.random.SeedSequence([seed & 0x7FFFFFFF, h])


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


def _norm_key(key):
    """Canonical missing-key form for driver-side dicts: None and NaN
    both map to None (NaN is not equal to itself, so it cannot be a
    reliable dict key)."""
    if key is None or (isinstance(key, float) and key != key):
        return None
    return key


def _cluster_by_key(src: DataFrame) -> DataFrame:
    """Hash-cluster on ``_key`` with an EXPLICIT partition count before a
    grouped Pandas stage. Without this, AQE's size-based coalescing sees a
    few MB of shuffle data and folds the whole groupBy into ONE partition
    — correct for IO-bound aggregates, catastrophic for a compute-bound
    applyInPandas (measured: 32 segments fitting serially in one Python
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
    sel = [F.col(key_col).alias("_key"), F.col(features_col).cast("array<double>").alias("_feat")]
    if id_col is not None:
        sel.insert(1, F.col(id_col).alias("_id"))
    src = df.select(*sel)
    key_type = df.schema[key_col].dataType.simpleString()
    id_part = f"_id {df.schema[id_col].dataType.simpleString()}, " if id_col else ""
    out_schema = (
        f"_key {key_type}, {id_part}anomalyScore double, prediction int"
    )

    def fit_score(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf["_key"].iloc[0]
        n = len(pdf)
        if n > max_rows_per_group:
            raise ValueError(
                f"segment {key!r} has {n} rows > max_rows_per_group="
                f"{max_rows_per_group}; fit the global IForest on this "
                "segment instead"
            )
        x = np.asarray(pdf["_feat"].to_list(), dtype=np.float64)
        trees, psi = _segment_forest(
            x, key, num_trees, max_samples, max_depth, max_features, seed
        )
        forest = pack_forest(trees)
        scores = _blocked_scores(forest, x, float(psi))
        # threshold = the ceil((1-contamination)*n)-th smallest score,
        # prediction = score > threshold
        thr = _order_stat_threshold(scores, contamination)
        out = {"_key": pdf["_key"]}
        if id_col is not None:
            out["_id"] = pdf["_id"]
        out["anomalyScore"] = scores
        out["prediction"] = (scores > thr).astype(np.int32)
        return pd.DataFrame(out)

    result = _cluster_by_key(src).groupBy("_key").applyInPandas(
        fit_score, schema=out_schema
    )
    renames = [F.col("_key").alias(key_col)]
    if id_col is not None:
        renames.append(F.col("_id").alias(id_col))
    return result.select(*renames, "anomalyScore", "prediction")


# ------------------------------------------------------- model lifecycle
#
# fit_groups -> SegmentedIForestModel -> transform(new rows) / save / load:
# the reference's Estimator→Model→persist contract (IForest.scala:283-310)
# at segment granularity, which is what makes per-tenant forests reusable —
# score tomorrow's events against today's fitted segments without refitting.

_META_COLS = "psi double, threshold double, n_rows long"


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
        key_col = self.key_col
        sel = [F.col(key_col).alias("_key"), F.col(fcol).cast("array<double>").alias("_feat")]
        if id_col is not None:
            sel.insert(1, F.col(id_col).alias("_id"))
        src = df.select(*sel)
        key_type = df.schema[key_col].dataType.simpleString()
        id_part = f"_id {df.schema[id_col].dataType.simpleString()}, " if id_col else ""
        out_schema = f"_key {key_type}, {id_part}anomalyScore double, prediction int"
        nodes = self.nodes.withColumnRenamed(key_col, "_key")

        def score(rows: pd.DataFrame, model: pd.DataFrame) -> pd.DataFrame:
            if not len(rows):
                return pd.DataFrame(
                    {c: [] for c in ["_key", *(["_id"] if id_col else []), "anomalyScore", "prediction"]}
                )
            out = {"_key": rows["_key"]}
            if id_col is not None:
                out["_id"] = rows["_id"]
            if not len(model):
                # unfitted segment: true SQL NULLs (nullable pandas dtypes
                # — a float NaN would survive as NaN, not NULL)
                out["anomalyScore"] = pd.array([None] * len(rows), dtype="Float64")
                out["prediction"] = pd.array([None] * len(rows), dtype="Int32")
                return pd.DataFrame(out)
            forest = pack_forest(pandas_to_forest(model))
            x = np.asarray(rows["_feat"].to_list(), dtype=np.float64)
            scores = _blocked_scores(forest, x, float(model["psi"].iloc[0]))
            thr = float(model["threshold"].iloc[0])
            out["anomalyScore"] = scores
            out["prediction"] = (scores > thr).astype(np.int32)
            return pd.DataFrame(out)

        result = (
            _cluster_by_key(src)
            .groupby("_key")
            .cogroup(_cluster_by_key(nodes).groupby("_key"))
            .applyInPandas(score, schema=out_schema)
        )
        renames = [F.col("_key").alias(key_col)]
        if id_col is not None:
            renames.append(F.col("_id").alias(id_col))
        return result.select(*renames, "anomalyScore", "prediction")

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
        the driver once, packs one forest per segment, and ships the dict
        inside an Arrow ``mapInPandas`` closure: zero shuffle, rows scored
        in place, the same plan shape as the flagship's broadcast scorer
        (scorer.py:97-195). Output is bit-equal to :meth:`transform`
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
        key_col = self.key_col
        node_pdf = self.nodes.toPandas()
        forests = {}
        # dropna=False + key normalization (round-7 review fix): pandas
        # groupby silently DROPS None/NaN keys by default, which would
        # make a fitted NULL-key segment score NULL here while
        # transform() scores it — and NaN keys don't equal themselves, so
        # both build and lookup go through _norm_key
        for key, g in node_pdf.groupby(key_col, sort=False, dropna=False):
            forests[_norm_key(key)] = (
                pack_forest(pandas_to_forest(g)),
                float(g["psi"].iloc[0]),
                float(g["threshold"].iloc[0]),
            )
        fcol = features_col or self.features_col
        sel = [F.col(key_col).alias("_key"), F.col(fcol).cast("array<double>").alias("_feat")]
        if id_col is not None:
            sel.insert(1, F.col(id_col).alias("_id"))
        src = df.select(*sel)
        key_type = df.schema[key_col].dataType.simpleString()
        id_part = f"_id {df.schema[id_col].dataType.simpleString()}, " if id_col else ""
        out_schema = f"_key {key_type}, {id_part}anomalyScore double, prediction int"

        def score_chunk(pdf):
            pdf = pdf.reset_index(drop=True)  # positions == labels
            n = len(pdf)
            groups = [
                (g, forests.get(_norm_key(key)))
                for key, g in pdf.groupby("_key", sort=False, dropna=False)
            ]
            scores_np = np.full(n, np.nan)
            preds_np = np.zeros(n, dtype=np.int32)
            covered = sum(len(g) for g, hit in groups if hit is not None)
            if covered == n:
                # every segment fitted (the steady state): ONE Arrow->numpy
                # conversion for the whole chunk, groups score from
                # row-index slices (the flagship scorer's conversion
                # pattern, scorer.py:189) — per-group to_list()
                # re-conversion was a measured ~20% of scoring wall at
                # sf2.5
                try:
                    x_all = np.asarray(pdf["_feat"].to_list(), dtype=np.float64)
                except ValueError:
                    # segments are fitted independently, so one model may
                    # legitimately carry different feature dims per
                    # segment (review-caught): a ragged chunk can't
                    # convert in one shot — score per group instead
                    # (bit-equal, just the pre-batching conversion cost)
                    x_all = None
                for g, (forest, psi, thr) in groups:
                    idx = g.index.to_numpy()
                    x = (
                        x_all[idx]
                        if x_all is not None
                        else np.asarray(g["_feat"].to_list(), dtype=np.float64)
                    )
                    s = _blocked_scores(forest, x, psi)
                    scores_np[idx] = s
                    preds_np[idx] = s > thr
            else:
                # unfitted segments present: convert ONLY fitted groups'
                # rows — an unfitted segment's rows may carry NULL/ragged
                # feature arrays (nothing was ever fitted on them), and a
                # whole-chunk conversion would crash on rows the contract
                # says must come back as NULL score/prediction
                for g, hit in groups:
                    if hit is None:
                        continue
                    forest, psi, thr = hit
                    x = np.asarray(g["_feat"].to_list(), dtype=np.float64)
                    idx = g.index.to_numpy()
                    s = _blocked_scores(forest, x, psi)
                    scores_np[idx] = s
                    preds_np[idx] = s > thr
            out = {"_key": pdf["_key"]}
            if id_col is not None:
                out["_id"] = pdf["_id"]
            if covered == n:
                # every segment fitted (the steady state): plain numpy
                # columns, no masked-array write amplification
                out["anomalyScore"] = scores_np
                out["prediction"] = preds_np
            else:
                # unfitted segments must come back as true SQL NULLs, not
                # NaN — fitted scores are never NaN (2^x > 0), so NaN
                # marks exactly the uncovered rows
                miss = np.isnan(scores_np)
                sc = pd.array(scores_np, dtype="Float64")
                sc[miss] = None
                pr = pd.array(preds_np, dtype="Int32")
                pr[miss] = None
                out["anomalyScore"] = sc
                out["prediction"] = pr
            return pd.DataFrame(out)

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
            for pdf in it:
                if not len(pdf):
                    continue
                buf.append(pdf)
                buffered += len(pdf)
                if buffered >= _SCORE_BUFFER_ROWS:
                    yield score_chunk(
                        pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
                    )
                    buf, buffered = [], 0
            if buf:
                yield score_chunk(
                    pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
                )

        result = src.mapInPandas(score_batches, schema=out_schema)
        renames = [F.col("_key").alias(key_col)]
        if id_col is not None:
            renames.append(F.col("_id").alias(id_col))
        return result.select(*renames, "anomalyScore", "prediction")

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

    ONE ``groupBy(key).applyInPandas`` shuffle; each task emits its
    segment's flat node rows — O(num_trees · psi) rows per segment,
    independent of segment size, so the model relation stays small even
    when segments are huge."""
    src = df.select(
        F.col(key_col).alias("_key"),
        F.col(features_col).cast("array<double>").alias("_feat"),
    )
    key_type = df.schema[key_col].dataType.simpleString()
    out_schema = f"_key {key_type}, {FLAT_NODE_SCHEMA}, {_META_COLS}"

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf["_key"].iloc[0]
        n = len(pdf)
        if n > max_rows_per_group:
            raise ValueError(
                f"segment {key!r} has {n} rows > max_rows_per_group="
                f"{max_rows_per_group}; fit the global IForest on this "
                "segment instead"
            )
        x = np.asarray(pdf["_feat"].to_list(), dtype=np.float64)
        trees, psi = _segment_forest(
            x, key, num_trees, max_samples, max_depth, max_features, seed
        )
        scores = _blocked_scores(pack_forest(trees), x, float(psi))
        thr = _order_stat_threshold(scores, contamination)
        out = pa.Table.from_batches(
            [tree_to_batch(t, tree) for t, tree in enumerate(trees)]
        ).to_pandas()
        out.insert(0, "_key", [key] * len(out))
        return out.assign(psi=float(psi), threshold=thr, n_rows=n)

    nodes = (
        _cluster_by_key(src)
        .groupBy("_key")
        .applyInPandas(fit, schema=out_schema)
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
    ``applyInPandas`` pass over the scored rows), and returns a model
    with only the ``threshold`` column replaced. Segments of the model
    absent from ``df`` keep their old threshold. Recalibrating on the
    ORIGINAL training slice with the original contamination reproduces
    the fitted thresholds exactly (pytest-pinned)."""
    key_col = model.key_col
    scored = model.transform(df).where(F.col("anomalyScore").isNotNull())

    def thr(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "_key": [pdf["_key"].iloc[0]],
                "_new_thr": [
                    _order_stat_threshold(
                        pdf["anomalyScore"].to_numpy(dtype=np.float64),
                        contamination,
                    )
                ],
            }
        )

    key_type = model.nodes.schema[key_col].dataType.simpleString()
    new_thr = (
        _cluster_by_key(scored.select(F.col(key_col).alias("_key"), "anomalyScore"))
        .groupBy("_key")
        .applyInPandas(thr, schema=f"_key {key_type}, _new_thr double")
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
