"""Isolation Forest as a pure-Python ``pyspark.ml`` Estimator/Model.

Capability-parity rebuild of the reference Scala implementation
(/root/reference/src/main/scala/org/apache/spark/ml/iforest/IForest.scala)
with an idiomatic-Spark execution plan:

* training: a hash-based Bernoulli candidate pool → driver-side per-tree
  index plan → trees built model-wise in parallel (same as reference
  IForest.scala:324-330) → collect the flat node table. A pool small
  enough to collect goes to the driver with one ``toArrow``, is ordered
  there by hash and broadcast with the plan, and ``mapInArrow`` over the
  tree ids trains a share of the trees per task. A larger pool stays on
  the executors: hash-ordered row ids, a broadcast join with the plan and
  one shuffle keyed by treeId into a grouped ``applyInArrow`` build.
* scoring: one ``arrow_udf`` (numpy per-tree level-synchronous descent)
  — replaces the reference's per-row boxed-Vector UDF, its
  published bottleneck
* threshold: ``DataFrame.approxQuantile`` (identical built-in the reference
  calls, IForest.scala:101-105)
* prediction: pure Catalyst ``when()`` expression — stays in whole-stage
  codegen, no Python (reference uses a UDF, IForest.scala:107-111)

Scale notes (100 TB / 1000 executors): when maxSamples is an absolute count
(the practical setting, e.g. 256), the candidate pool is O(numTrees *
maxSamples) rows regardless of input size — one Bernoulli-filtered scan
(filter pushed to the parquet reader's output) whose output is collected,
sorted on the driver and broadcast; no shuffle. Scoring is embarrassingly
data-parallel with the forest broadcast once per executor. With
maxSamples <= 1 (a *fraction* of the input) the reference semantics make
the pool min(n, ~1.1*numTrees*fraction*n) rows; past
``_POOL_COLLECT_MAX_BYTES`` it stays on the executors and numTrees*psi rows
converge on numTrees tasks — inherently unscalable for large fractions; we
preserve the semantics and document the cliff.
"""

from __future__ import annotations

from dataclasses import replace

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.ml import Estimator, Model
from pyspark.ml.param import Params
from pyspark.ml.util import (
    DefaultParamsReadable,
    DefaultParamsReader,
    DefaultParamsWritable,
    DefaultParamsWriter,
    MLReadable,
    MLReader,
    MLWritable,
    MLWriter,
)
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, NumericType
from pyspark.sql.window import Window

from spark_iforest_spark.checkpoint import snapshot

from spark_iforest_spark.nodes import (
    FLAT_NODE_SCHEMA,
    PackedForest,
    Tree,
    pack_forest,
    pandas_to_forest,
    rows_to_forest,  # unused here: perfbench/tracing.py wraps iforest.rows_to_forest
    tree_to_batch,
)
from spark_iforest_spark.params import IForestParams
from spark_iforest_spark.scorer import _features_matrix, make_score_udf
from spark_iforest_spark.trainer import make_build_fn, make_group_build_fn

_POOL_OVERSAMPLE = 1.1
_POOL_SLACK = 1024
# a pool plus plan estimated above this many bytes stays on the executors
# instead of being collected (Spark's default spark.driver.maxResultSize
# is 1 GiB)
_POOL_COLLECT_MAX_BYTES = 128 << 20
# above this pool size, executor-side rid assignment switches from one
# global sort to partition-local row numbers + driver offsets (distributed
# zipWithIndex)
_POOL_GLOBAL_SORT_MAX = 20_000_000


def _features_as_array(df: DataFrame, features_col: str) -> F.Column:
    """Normalize the features column to array<double>.

    Accepts ml VectorUDT (reference's only input type, IForest.scala:845-847)
    or array<numeric> (our native representation — Arrow-friendly,
    SURVEY.md §7 risk list)."""
    dtype = df.schema[features_col].dataType
    if isinstance(dtype, ArrayType):
        return F.col(features_col).cast("array<double>")
    # VectorUDT
    from pyspark.ml.functions import vector_to_array

    return vector_to_array(F.col(features_col)).cast("array<double>")


def _validate_features_schema(df: DataFrame, features_col: str) -> None:
    if features_col not in df.columns:
        raise ValueError(f"features column '{features_col}' not found in {df.columns}")
    dtype = df.schema[features_col].dataType
    if isinstance(dtype, ArrayType) and isinstance(dtype.elementType, NumericType):
        return
    if type(dtype).__name__ == "VectorUDT":
        return
    raise TypeError(
        f"features column '{features_col}' must be VectorUDT or array<numeric>, got {dtype}"
    )


class IForest(Estimator, IForestParams, DefaultParamsWritable, DefaultParamsReadable):
    """Isolation Forest estimator (reference: IForest.scala:317-670)."""

    def __init__(self, **kwargs):
        super().__init__()
        self._set_default_params()
        bad = set(kwargs) - {p.name for p in self.params}
        if bad:
            raise TypeError(f"unknown params: {sorted(bad)}")
        self._set(**kwargs)
        self._validate_params()

    # ---- setters (validate eagerly, like the reference's ParamValidators) --
    def _checked_set(self, **kwargs) -> "IForest":
        self._set(**kwargs)
        self._validate_params()
        return self

    def setParams(self, **kwargs) -> "IForest":
        """Bulk re-set, the reference wrapper's surface
        (pyspark_iforest/ml/iforest.py:256-264): accepts the same keyword
        set as the constructor, validates, returns self."""
        bad = set(kwargs) - {p.name for p in self.params}
        if bad:
            raise TypeError(f"unknown params: {sorted(bad)}")
        return self._checked_set(**kwargs)

    def setNumTrees(self, value: int) -> "IForest":
        return self._checked_set(numTrees=value)

    def setMaxSamples(self, value: float) -> "IForest":
        return self._checked_set(maxSamples=value)

    def setMaxFeatures(self, value: float) -> "IForest":
        return self._checked_set(maxFeatures=value)

    def setMaxDepth(self, value: int) -> "IForest":
        return self._checked_set(maxDepth=value)

    def setContamination(self, value: float) -> "IForest":
        return self._checked_set(contamination=value)

    def setApproxQuantileRelativeError(self, value: float) -> "IForest":
        return self._checked_set(approxQuantileRelativeError=value)

    def setBootstrap(self, value: bool) -> "IForest":
        return self._checked_set(bootstrap=value)

    def setSeed(self, value: int) -> "IForest":
        return self._checked_set(seed=value)

    def setFeaturesCol(self, value: str) -> "IForest":
        return self._checked_set(featuresCol=value)

    def setLabelCol(self, value: str) -> "IForest":
        return self._checked_set(labelCol=value)

    def setPredictionCol(self, value: str) -> "IForest":
        return self._checked_set(predictionCol=value)

    def setAnomalyScoreCol(self, value: str) -> "IForest":
        return self._checked_set(anomalyScoreCol=value)

    # ------------------------------------------------------------------ fit
    def _fit(self, dataset: DataFrame) -> "IForestModel":
        self._validate_params()
        features_col = self.getFeaturesCol()
        _validate_features_schema(dataset, features_col)
        num_trees = self.getNumTrees()
        max_samples = self.getMaxSamples()
        seed = self.getSeed()
        spark = dataset.sparkSession
        sc = spark.sparkContext

        feats = dataset.select(_features_as_array(dataset, features_col).alias("features"))

        n = feats.count()
        if n == 0:
            raise ValueError("cannot fit on an empty dataset")
        fraction = max_samples / n if max_samples > 1 else max_samples
        if fraction > 1.0:
            # reference: require(fraction <= 1.0, ...) IForest.scala:410
            raise ValueError("The max samples must be less then total number of the input data")
        psi = int(fraction * n)  # possibleMaxSamples, IForest.scala:412
        psi = max(psi, 1)

        # Size the pool and plan before anything reaches the driver: about
        # min(n, target_pool) rows of one row's width in doubles plus the
        # hash, and numTrees x psi int64 row indices.
        target_pool = int(_POOL_OVERSAMPLE * num_trees * psi) + _POOL_SLACK
        width = feats.select(F.size("features").alias("d")).head()["d"] or 0
        pool_bytes = min(n, target_pool) * 8 * (max(width, 0) + 1)
        plan_bytes = 0 if psi == n and not self.getBootstrap() else num_trees * psi * 8
        collect = pool_bytes + plan_bytes <= _POOL_COLLECT_MAX_BYTES

        # driver-memory guard: the arithmetic of IForest.scala:507-511 plus
        # the plan, and the pool when it is collected
        driver_bytes = num_trees * 2 * psi * 32 + plan_bytes + (pool_bytes if collect else 0)
        if driver_bytes > 256 * 1024 * 1024:
            import warnings

            warnings.warn(
                "The isolation forest stored on the driver will exceed 256M memory. "
                "If your machine can not bear memory consuming, please try small "
                "numTrees or maxSamples."
            )

        pool, plan = self._sample_assign(feats, n, psi, num_trees, target_pool, collect)
        max_depth, max_features = self.getMaxDepth(), self.getMaxFeatures()
        if collect:
            # Model-wise parallel build (reference IForest.scala:324-330):
            # the pool and plan ship once as a broadcast, each task of a
            # tree-id range trains its share of the trees and returns their
            # node arrays as Arrow batches. No shuffle, so AQE cannot
            # coalesce the build into one task.
            bc = sc.broadcast((pool, plan))
            del pool, plan
            try:
                build = make_build_fn(bc, max_depth, max_features, seed)
                nodes = (
                    spark.range(num_trees, numPartitions=min(num_trees, sc.defaultParallelism))
                    .mapInArrow(build, FLAT_NODE_SCHEMA)
                    .toArrow()
                )
            finally:
                bc.destroy()
        else:
            if plan is None:
                # every tree trains on all rows (reference reservoir k=n of
                # n): broadcast-cross-join the tree-id table
                tree_ids = spark.range(num_trees).select(F.col("id").cast("int").alias("treeId"))
                joined = pool.crossJoin(F.broadcast(tree_ids))
            else:
                # one (rid, treeId) row per draw: a bootstrap copy repeats
                # its row, so the join emits the pool row once per copy
                assign = spark.createDataFrame(
                    pd.DataFrame(
                        {
                            "rid": plan.ravel(),
                            "treeId": np.repeat(np.arange(num_trees, dtype=np.int32), psi),
                        }
                    ),
                    schema="rid long, treeId int",
                )
                joined = pool.join(F.broadcast(assign), "rid")
            del plan
            # A user-specified partition count is exempt from AQE
            # coalescing, so the tree builds stay spread over
            # min(numTrees, shuffle partitions) tasks.
            from spark_iforest_spark.functions import shuffle_partitions

            nodes = (
                joined.select("treeId", "features")
                .repartition(min(num_trees, shuffle_partitions(spark)), "treeId")
                .groupBy("treeId")
                .applyInArrow(
                    make_group_build_fn(max_depth, max_features, seed, features_col),
                    FLAT_NODE_SCHEMA,
                )
                .toArrow()
            )
        trees = pandas_to_forest(nodes)
        if len(trees) != num_trees:
            raise RuntimeError(f"expected {num_trees} trees, built {len(trees)}")

        model = IForestModel(trees=trees)
        model._num_features = width
        model._resetUid(self.uid + "_model")
        self._copyValues(model)
        model._set_parent_estimator(self)

        # Reference fit eagerly transforms the training set, fixing the
        # model threshold from training-score quantiles (IForest.scala:542-548).
        # Fit already counted the input — hand the size to transform so the
        # exact-threshold path can use the order-statistic plan without a
        # second count job (consumed once, see _transform).
        model._threshold_n_hint = n
        predictions = model.transform(dataset)
        model._summary = IForestSummary(
            predictions,
            features_col,
            self.getPredictionCol(),
            self.getAnomalyScoreCol(),
        )
        return model

    def _sample_assign(
        self,
        feats: DataFrame,
        n: int,
        psi: int,
        num_trees: int,
        target_pool: int,
        collect: bool,
    ) -> tuple[np.ndarray | DataFrame, np.ndarray | None]:
        """Per-tree samples as a candidate pool plus a driver-side plan.

        Uniform k-of-n sampling composes: a Bernoulli-sampled pool of the
        input is a uniform subset, and a uniform psi-of-pool draw is then a
        uniform psi-of-n draw. This keeps the pool at O(numTrees * psi)
        rows no matter how large the input is, instead of zipWithIndex-ing
        the whole dataset like the reference (IForest.scala:471-483). Pool
        rows are indexed in the order of the 64-bit hash of each feature
        vector, so the plan is deterministic for a given (data, seed)
        regardless of partition layout (up to _POOL_GLOBAL_SORT_MAX rows).

        Returns ``(pool, plan)``. With ``collect`` the pool is collected
        with one ``toArrow`` and returned as the (m, d) matrix in hash
        order; otherwise it stays a DataFrame of ``features`` and row id
        ``rid``. ``plan`` is the (numTrees, psi) pool row indices each tree
        trains on, or None when every tree trains on the whole input (psi
        == n without bootstrap, the reference's reservoir k=n of n). Both
        pool forms give the same plan, hence the same forest.

        For bootstrap, draws-with-replacement from the pool only
        approximate draws-with-replacement from the full input (duplicate
        multiplicity differs in O(psi/n)); exact when the pool is the whole
        input (small n), which is where anyone would notice.

        Joint-distribution caveat (PARITY.md deviation 2): all trees draw
        from the SAME pool, so while each tree's sample is exactly uniform
        psi-of-n, pairwise tree-sample overlap at n >> pool size is
        ~psi/(1.1*numTrees) instead of the reference's psi^2/n — trees are
        mildly positively correlated, a slightly smaller effective
        ensemble. AUC parity is pinned in test_reference_parity.
        """
        seed = self.getSeed()
        bootstrap = self.getBootstrap()
        every_row = psi == n and not bootstrap
        if every_row and not collect:
            return feats, None
        pool_fraction = min(1.0, target_pool / n)

        # u (30-bit hash scaled to [0,1)) drives the Bernoulli pool filter;
        # the pool ORDER uses the full 64-bit hash — 30 bits collide between
        # distinct vectors at pool sizes >~ 2^15. Full-64-bit ties happen
        # only for identical feature vectors, which are interchangeable for
        # training, so the tie order does not matter.
        denom = 1 << 30
        h = F.xxhash64(F.col("features"), F.lit(seed))
        pool = feats.select("features", h.alias("h"))
        if pool_fraction < 1.0:
            pool = pool.where(F.pmod(h, F.lit(denom)) / denom < pool_fraction)
        if collect:
            table = pool.toArrow()
            if table.num_rows < psi:
                # Bernoulli undershoot (possible only on tiny inputs): use all rows
                table = feats.select("features", h.alias("h")).toArrow()
            order = np.argsort(table["h"].to_numpy(), kind="stable")
            pool = _features_matrix(
                table["features"].combine_chunks(), self.getFeaturesCol()
            )[order]
            m = len(pool)
        else:
            pool, m = self._pool_row_ids(pool, target_pool)
            if m < psi:
                pool = feats.select(
                    "features", (F.row_number().over(Window.orderBy(h)) - F.lit(1)).alias("rid")
                )
                m = n
        if every_row:
            return pool, None

        # Driver-side sampling plan (reference O2-O4, IForest.scala:414-462).
        rng = np.random.default_rng(seed & 0x7FFFFFFF)
        draws = [
            rng.integers(0, m, size=psi) if bootstrap else rng.choice(m, size=psi, replace=False)
            for _ in range(num_trees)
        ]
        return pool, np.stack(draws)

    @staticmethod
    def _pool_row_ids(pool: DataFrame, target_pool: int) -> tuple[DataFrame, int]:
        """Number an executor-side pool 0..m-1 in hash order; returns the
        pool with a ``rid`` column and m.

        The pool is localCheckpoint'd, not cache()d: same one-pass
        materialization, but the lineage truncation freezes the partition
        layout (no silent recompute after cache eviction) and Spark's
        ContextCleaner reclaims the blocks once the fit drops its
        reference. TRADEOFF: localCheckpoint blocks are NOT fault-tolerant
        — losing an executor mid-fit fails the job instead of recomputing
        as cache() would. For clusters where executor loss is routine, set
        spark.spark_iforest.reliableCheckpoint=true + a checkpoint dir
        (checkpoint.snapshot) at the cost of a distributed-FS round-trip.
        """
        if target_pool <= _POOL_GLOBAL_SORT_MAX:
            # one single-task sort; rids (hence the whole forest) are
            # independent of partition layout and equal the collected
            # pool's hash order
            pool = snapshot(
                pool.withColumn("rid", F.row_number().over(Window.orderBy("h")) - F.lit(1)),
                eager=False,
            )
            return pool, pool.count()
        # fractional-maxSamples regime at large n: psi scales with the
        # input, a global sort would bottleneck — partition-local
        # row_numbers + driver-computed partition offsets. rids then depend
        # on the partition layout; the sampling DISTRIBUTION is unchanged,
        # only bitwise run-to-run reproducibility narrows to fixed layouts.
        part_pool = snapshot(pool.withColumn("part", F.spark_partition_id()), eager=False)
        counts = {
            r["part"]: r["cnt"]
            for r in part_pool.groupBy("part").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        offsets, acc = {}, 0
        for p in sorted(counts):
            offsets[p] = acc
            acc += counts[p]
        offset_col = F.element_at(
            F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]), F.col("part")
        )
        w = Window.partitionBy("part").orderBy(F.col("h"))
        pool = part_pool.withColumn("rid", F.row_number().over(w) - F.lit(1) + offset_col)
        return pool.drop("part"), acc

    # Params.copy default (shallow copy + param re-copy) is sufficient.


class IForestModel(Model, IForestParams, MLWritable, MLReadable):
    """Fitted forest (reference: IForest.scala:39-315).

    Mutable non-Param ``threshold`` state matches the reference
    (IForest.scala:49-75): −1 until the first transform computes it from
    ``contamination`` via approxQuantile; NOT persisted — a loaded model
    recomputes it on first transform (IForest.scala:283-296).

    Non-Param ``_num_features`` is the training row width, set by fit and
    persisted as ``numFeatures``; transform rejects rows of another width.
    It is None for a model written without it (by the reference or an
    older version), which rejects only rows too narrow for its splits.
    """

    def __init__(self, trees: list[Tree] | None = None):
        super().__init__()
        self._set_default_params()
        self._trees: list[Tree] = trees or []
        self._num_features: int | None = None
        self._packed: PackedForest | None = None
        self._forest_bc = None
        self._forest_bc_app: str | None = None
        self._threshold: float = -1.0
        self._threshold_n_hint: int | None = None
        self._summary: IForestSummary | None = None
        self._parent_estimator = None

    def _set_parent_estimator(self, est) -> None:
        self._parent_estimator = est

    # ------------------------------------------------------------- access
    @property
    def trees(self) -> list[Tree]:
        return self._trees

    def getThreshold(self) -> float:
        return self._threshold

    def setThreshold(self, value: float) -> "IForestModel":
        self._threshold = float(value)
        return self

    @property
    def hasSummary(self) -> bool:
        return self._summary is not None

    @property
    def summary(self) -> "IForestSummary":
        if self._summary is None:
            raise RuntimeError(
                "No training summary available for this IForestModel (e.g. a loaded model)"
            )
        return self._summary

    def _packed_forest(self) -> PackedForest:
        if self._packed is None:
            if not self._trees:
                raise RuntimeError("model has no trees")
            self._packed = replace(pack_forest(self._trees), width=self._num_features)
        return self._packed

    def _forest_broadcast(self, spark):
        """One sparkContext.broadcast of the packed forest per model per
        application, reused across transform() calls — repeated transforms
        on a long-lived session must not accrue executor copies. The
        broadcast is destroyed by Spark's ContextCleaner once the model is
        garbage collected."""
        sc = spark.sparkContext
        if self._forest_bc is None or self._forest_bc_app != sc.applicationId:
            self._forest_bc = sc.broadcast(self._packed_forest())
            self._forest_bc_app = sc.applicationId
        return self._forest_bc

    # ---------------------------------------------------------- transform
    def _transform(self, dataset: DataFrame) -> DataFrame:
        features_col = self.getFeaturesCol()
        _validate_features_schema(dataset, features_col)
        score_col = self.getAnomalyScoreCol()
        pred_col = self.getPredictionCol()
        max_samples = self.getMaxSamples()

        if max_samples > 1.0:
            psi = float(max_samples)
        else:
            if dataset.isStreaming:
                raise ValueError(
                    "streaming transform requires an absolute maxSamples (> 1); "
                    "a fractional maxSamples needs a count() of the input "
                    "(reference semantics, IForest.scala:87-89)"
                )
            # Reference recomputes the normalizer from the *scored* dataset's
            # size — same row can score differently on different-sized inputs
            # (README.md:56). Preserved.
            psi = max_samples * dataset.count()

        score_udf = make_score_udf(
            self._forest_broadcast(dataset.sparkSession), psi, features_col
        )
        scored = dataset.withColumn(
            score_col, score_udf(_features_as_array(dataset, features_col))
        )

        if self._threshold < 0:
            if dataset.isStreaming:
                raise ValueError(
                    "streaming transform requires setThreshold(...); the "
                    "contamination-quantile threshold needs a batch pass"
                )
            self._threshold = self._compute_threshold(dataset, scored, score_col)

        # Catalyst expression instead of the reference's predict UDF — stays
        # inside whole-stage codegen.
        return scored.withColumn(
            pred_col,
            F.when(F.col(score_col) > F.lit(self._threshold), 1.0).otherwise(0.0),
        )

    # The exact-threshold order-statistic path funnels the top
    # contamination·n scores into one task; beyond this many rows fall back
    # to the GK sketch (still exact at relErr=0, just slower) rather than
    # single-task-sort an unbounded set.
    _EXACT_TOPK_MAX = 10_000_000

    def _compute_threshold(self, dataset: DataFrame, scored: DataFrame, score_col: str) -> float:
        """Contamination-quantile threshold over the scored dataset.

        relErr == 0 asks for the EXACT quantile. Spark's approxQuantile at
        relErr=0 answers it with a zero-error Greenwald-Khanna sketch whose
        per-partition summaries hold every sample — measured 4-6 s of the
        5.8 s sf0.1 fit, dominating training. The same value is the
        ceil(q·n)-th smallest score (verified empirically against
        approxQuantile and pinned by a property test), i.e. the MIN of the
        top (n − ceil(q·n) + 1) scores — which Spark computes as a
        per-partition partial top-k (TakeOrdered shape): one scoring pass,
        k rows into one final task, ~15× faster at sf0.1. Used whenever k
        is bounded (k ≤ _EXACT_TOPK_MAX); the mergeable-sketch path remains
        for relErr > 0 (the 100 TB configuration, gated separately) and for
        unbounded k. The input size n reuses fit's count via
        _threshold_n_hint (consumed once); a standalone transform pays one
        count job — metadata-cheap on file-backed input.
        """
        import math

        q = 1.0 - self.getContamination()
        rel_err = self.getApproxQuantileRelativeError()
        if rel_err == 0.0:
            n = self._threshold_n_hint
            self._threshold_n_hint = None
            if n is None:
                n = dataset.count()
            rank = math.ceil(q * n)
            k = int(n - rank + 1)
            if n > 0 and 0 < k <= self._EXACT_TOPK_MAX:
                row = (
                    scored.select(F.col(score_col).alias("_s"))
                    .orderBy(F.col("_s").desc())
                    .limit(k)
                    .agg(F.min("_s").alias("_thr"))
                    .collect()[0]
                )
                return float(row["_thr"])
        return scored.approxQuantile(score_col, [q], rel_err)[0]

    def copy(self, extra=None) -> "IForestModel":
        if extra is None:
            extra = {}
        that = IForestModel(trees=self._trees)
        that._resetUid(self.uid)
        self._copyValues(that, extra)
        that._num_features = self._num_features
        that._threshold = self._threshold
        that._summary = self._summary
        return that

    # -------------------------------------------------------- persistence
    def write(self) -> MLWriter:
        return IForestModelWriter(self)

    @classmethod
    def read(cls) -> MLReader:
        return IForestModelReader()

    def save(self, path: str) -> None:
        self.write().save(path)

    @classmethod
    def load(cls, path: str) -> "IForestModel":
        return cls.read().load(path)


class IForestModelWriter(MLWriter):
    """Writes metadata JSON + pre-order NodeData parquet — the same on-disk
    layout as the reference (IForest.scala:283-296): ``path/metadata`` and
    ``path/data`` with nested EnsembleNodeData rows. The metadata also
    carries ``numFeatures``, the training width, when the model knows it."""

    def __init__(self, instance: IForestModel):
        super().__init__()
        self.instance = instance

    def saveImpl(self, path: str) -> None:
        model = self.instance
        extra = None if model._num_features is None else {"numFeatures": model._num_features}
        DefaultParamsWriter.saveMetadata(model, path, self.sc, extraMetadata=extra)
        nodes = pa.Table.from_batches([tree_to_batch(t, tree) for t, tree in enumerate(model.trees)])
        # the reference layout: treeID, then the other node columns nested
        # in a nullable nodeData struct
        nested = nodes.drop_columns("treeID").to_struct_array()
        data = pa.table({"treeID": nodes["treeID"], "nodeData": nested})
        self.sparkSession.createDataFrame(data).write.parquet(path + "/data")


class IForestModelReader(MLReader):
    def load(self, path: str) -> IForestModel:
        metadata = DefaultParamsReader.loadMetadata(path, self.sc)
        class_name = metadata["class"]
        if "IForestModel" not in class_name:
            raise ValueError(f"expected IForestModel metadata, found class {class_name}")
        nodes = self.sparkSession.read.parquet(path + "/data").select("treeID", "nodeData.*")
        model = IForestModel(trees=pandas_to_forest(nodes.toArrow()))
        model._num_features = metadata.get("numFeatures")
        model._resetUid(metadata["uid"])
        DefaultParamsReader.getAndSetParams(model, metadata)
        return model


class IForestSummary:
    """Training summary (reference: IForest.scala:896-908)."""

    def __init__(
        self,
        predictions: DataFrame,
        features_col: str,
        prediction_col: str,
        anomaly_score_col: str,
    ):
        self.predictions = predictions
        self.featuresCol = features_col
        self.predictionCol = prediction_col
        self.anomalyScoreCol = anomaly_score_col

    @property
    def anomalies(self) -> DataFrame:
        return self.predictions.select(self.predictionCol)

    @property
    def anomalyScores(self) -> DataFrame:
        return self.predictions.select(self.anomalyScoreCol)

    @property
    def numAnomalies(self) -> int:
        # df.where(...).count() — NOT the reference's collect().length
        # anti-pattern (IForest.scala:907).
        return self.anomalies.where(F.col(self.predictionCol) > 0).count()
