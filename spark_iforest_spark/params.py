"""Parameter mixin for the Isolation Forest estimator/model.

Mirrors the 12 params of the reference's ``IForestParams`` trait
(reference: IForest.scala:671-894, defaults at :340-349) with the same
validation rules, expressed as standard ``pyspark.ml.param`` machinery so
our estimator composes with ``pyspark.ml.Pipeline`` and persists as
``DefaultParamsWriter``'s metadata JSON.
"""

from __future__ import annotations

from pyspark.ml.param import Param, Params, TypeConverters


class HasNumTrees(Params):
    numTrees = Param(
        Params._dummy(),
        "numTrees",
        "The number of trees in the iforest model (> 0).",
        typeConverter=TypeConverters.toInt,
    )

    def getNumTrees(self) -> int:
        return self.getOrDefault(self.numTrees)


class HasMaxSamples(Params):
    maxSamples = Param(
        Params._dummy(),
        "maxSamples",
        "The number of samples to draw from data to train each tree (> 0). "
        "If <= 1, the algorithm will draw maxSamples * totalSample samples. "
        "If > 1, the algorithm will draw maxSamples samples. "
        "This parameter will affect the driver's memory when splitting data. "
        "The total memory is about maxSamples * numTrees * 4 + maxSamples * 8 bytes.",
        typeConverter=TypeConverters.toFloat,
    )

    def getMaxSamples(self) -> float:
        return self.getOrDefault(self.maxSamples)


class HasMaxFeatures(Params):
    maxFeatures = Param(
        Params._dummy(),
        "maxFeatures",
        "The number of features to draw from data to train each tree (> 0). "
        "If <= 1, the algorithm will draw maxFeatures * totalFeatures features. "
        "If > 1, the algorithm will draw maxFeatures features.",
        typeConverter=TypeConverters.toFloat,
    )

    def getMaxFeatures(self) -> float:
        return self.getOrDefault(self.maxFeatures)


class HasMaxDepth(Params):
    maxDepth = Param(
        Params._dummy(),
        "maxDepth",
        "The height limit used in constructing a tree (> 0). "
        "The default value will be about log2(numSamples).",
        typeConverter=TypeConverters.toInt,
    )

    def getMaxDepth(self) -> int:
        return self.getOrDefault(self.maxDepth)


class HasContamination(Params):
    contamination = Param(
        Params._dummy(),
        "contamination",
        "The proportion of outliers in the data set, in (0, 1]. Used only in "
        "the prediction phase to convert anomaly score to predicted labels.",
        typeConverter=TypeConverters.toFloat,
    )

    def getContamination(self) -> float:
        return self.getOrDefault(self.contamination)


class HasApproxQuantileRelativeError(Params):
    approxQuantileRelativeError = Param(
        Params._dummy(),
        "approxQuantileRelativeError",
        "Relative error for approximate quantile computation of the anomaly "
        "score threshold, in [0, 1]. 0 means computing the exact value.",
        typeConverter=TypeConverters.toFloat,
    )

    def getApproxQuantileRelativeError(self) -> float:
        return self.getOrDefault(self.approxQuantileRelativeError)


class HasBootstrap(Params):
    bootstrap = Param(
        Params._dummy(),
        "bootstrap",
        "If true, individual trees are fit on random subsets of the training "
        "data sampled with replacement. If false, sampling without replacement "
        "is performed.",
        typeConverter=TypeConverters.toBoolean,
    )

    def getBootstrap(self) -> bool:
        return self.getOrDefault(self.bootstrap)


class HasSeed(Params):
    seed = Param(
        Params._dummy(),
        "seed",
        "Random seed for the model-wide RNG; per-tree RNGs are derived from it.",
        typeConverter=TypeConverters.toInt,
    )

    def getSeed(self) -> int:
        return self.getOrDefault(self.seed)


class HasFeaturesCol(Params):
    featuresCol = Param(
        Params._dummy(),
        "featuresCol",
        "Features column name. Accepts ml VectorUDT or array<numeric>.",
        typeConverter=TypeConverters.toString,
    )

    def getFeaturesCol(self) -> str:
        return self.getOrDefault(self.featuresCol)


class HasLabelCol(Params):
    labelCol = Param(
        Params._dummy(),
        "labelCol",
        "Label column name. Never read by the algorithm; exists only so "
        "downstream evaluators can reference it (reference: IForest.scala:805-812).",
        typeConverter=TypeConverters.toString,
    )

    def getLabelCol(self) -> str:
        return self.getOrDefault(self.labelCol)


class HasPredictionCol(Params):
    predictionCol = Param(
        Params._dummy(),
        "predictionCol",
        "Prediction column name (0.0 = normal, 1.0 = anomaly).",
        typeConverter=TypeConverters.toString,
    )

    def getPredictionCol(self) -> str:
        return self.getOrDefault(self.predictionCol)


class HasAnomalyScoreCol(Params):
    anomalyScoreCol = Param(
        Params._dummy(),
        "anomalyScoreCol",
        "Anomaly score column name; scores lie in (0, 1), larger = more anomalous.",
        typeConverter=TypeConverters.toString,
    )

    def getAnomalyScoreCol(self) -> str:
        return self.getOrDefault(self.anomalyScoreCol)


class IForestParams(
    HasNumTrees,
    HasMaxSamples,
    HasMaxFeatures,
    HasMaxDepth,
    HasContamination,
    HasApproxQuantileRelativeError,
    HasBootstrap,
    HasSeed,
    HasFeaturesCol,
    HasLabelCol,
    HasPredictionCol,
    HasAnomalyScoreCol,
):
    """All Isolation Forest params with reference-matching defaults."""

    def _set_default_params(self) -> None:
        # Defaults per reference IForest.scala:340-349 (seed there is
        # getClass.getName.hashCode; we pin a stable literal instead so runs
        # reproduce across processes — Python str hash is salted per process).
        self._setDefault(
            numTrees=100,
            maxSamples=1.0,
            maxFeatures=1.0,
            maxDepth=10,
            contamination=0.1,
            approxQuantileRelativeError=0.0,
            bootstrap=False,
            seed=1114111630,
            featuresCol="features",
            labelCol="label",
            predictionCol="prediction",
            anomalyScoreCol="anomalyScore",
        )

    # -- validation (mirrors ParamValidators used at IForest.scala:676-848) --
    def _validate_params(self) -> None:
        if self.getNumTrees() <= 0:
            raise ValueError("numTrees must be > 0")
        if self.getMaxSamples() <= 0:
            raise ValueError("maxSamples must be > 0")
        if self.getMaxFeatures() <= 0:
            raise ValueError("maxFeatures must be > 0")
        if self.getMaxDepth() <= 0:
            raise ValueError("maxDepth must be > 0")
        c = self.getContamination()
        if not (0.0 < c <= 1.0):
            raise ValueError("contamination must be in (0, 1]")
        e = self.getApproxQuantileRelativeError()
        if not (0.0 <= e <= 1.0):
            raise ValueError("approxQuantileRelativeError must be in [0, 1]")
