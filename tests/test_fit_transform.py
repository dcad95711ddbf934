"""End-to-end fit/transform/summary tests.

Ports the reference suite's "fit, transform and summary", "split data", and
the Python doctest dataset (IForestSuite.scala:63-125; iforest.py:160-212),
plus statistical AUC checks per SURVEY.md §5's rebuild test plan.
"""

import numpy as np
import pytest
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.linalg import Vectors

from spark_iforest_spark import IForest, IForestModel


def iforest_data(spark, rows=10, dim=2):
    # generateIForestData: row i = dense vector of `dim` copies of i
    # (IForestSuite.scala:230-235)
    data = [(Vectors.dense([float(i)] * dim),) for i in range(rows)]
    return spark.createDataFrame(data, ["features"])


def labeled_data(spark):
    # 8 inliers on the unit square + 2 outliers (IForestSuite.scala:238-254)
    pts = [
        ([0.0, 0.0], 0.0),
        ([0.0, 1.0], 0.0),
        ([1.0, 0.0], 0.0),
        ([1.0, 1.0], 0.0),
        ([0.2, 0.2], 0.0),
        ([0.8, 0.2], 0.0),
        ([0.2, 0.8], 0.0),
        ([0.8, 0.8], 0.0),
        ([-5.0, -5.0], 1.0),
        ([5.0, 5.0], 1.0),
    ]
    return spark.createDataFrame(
        [(Vectors.dense(p), l) for p, l in pts], ["features", "label"]
    )


def test_fit_transform_and_summary(spark):
    # IForestSuite.scala:101-125
    df = iforest_data(spark, 10, 2)
    est = (
        IForest(numTrees=10, maxDepth=4, contamination=0.2, seed=10)
        .setPredictionCol("pred")
        .setAnomalyScoreCol("score")
    )
    model = est.fit(df)
    assert len(model.trees) == 10
    assert model.hasSummary
    s = model.summary
    assert s.anomalies.count() == 10
    # contamination 0.2 on 10 rows: exactly-2 anomalies depends on quantile
    # semantics over 10 scores; threshold = 0.8-quantile, strict > predicate
    assert s.numAnomalies == 2
    out = model.transform(df)
    assert set(out.columns) == {"features", "score", "pred"}
    rows = out.collect()
    assert all(0.0 < r["score"] < 1.0 for r in rows)
    assert all(r["pred"] in (0.0, 1.0) for r in rows)


def test_scores_identify_planted_outliers(spark):
    df = labeled_data(spark)
    model = IForest(numTrees=100, maxDepth=6, contamination=0.2, seed=42).fit(df)
    out = model.transform(df).collect()
    scores = {tuple(r["features"]): r["anomalyScore"] for r in out}
    outlier_scores = [scores[(-5.0, -5.0)], scores[(5.0, 5.0)]]
    inlier_scores = [v for k, v in scores.items() if abs(k[0]) != 5.0]
    assert min(outlier_scores) > max(inlier_scores)
    preds = {tuple(r["features"]): r["prediction"] for r in out}
    assert preds[(-5.0, -5.0)] == 1.0
    assert preds[(5.0, 5.0)] == 1.0


def test_auc_on_labeled_blob(spark):
    # statistical correctness: AUC >= 0.9 on planted anomalies
    rng = np.random.default_rng(0)
    inliers = rng.normal(0, 1, size=(500, 4))
    outliers = rng.uniform(-8, 8, size=(25, 4))
    rows = [(Vectors.dense(p), 0.0) for p in inliers] + [
        (Vectors.dense(p), 1.0) for p in outliers
    ]
    df = spark.createDataFrame(rows, ["features", "label"])
    model = IForest(numTrees=100, maxSamples=128.0, contamination=0.05, seed=7).fit(df)
    scored = model.summary.predictions
    auc = BinaryClassificationEvaluator(
        rawPredictionCol="anomalyScore", metricName="areaUnderROC"
    ).evaluate(scored)
    assert auc >= 0.9


def test_array_double_features(spark):
    # native array<double> input (our extension beyond VectorUDT)
    df = spark.createDataFrame(
        [([float(i), float(i)],) for i in range(20)], "features array<double>"
    )
    model = IForest(numTrees=10, contamination=0.1, seed=1).fit(df)
    out = model.transform(df)
    assert out.where("anomalyScore is null").count() == 0


@pytest.mark.parametrize(
    "bad_row, message",
    [(None, "null row"), ([1.0], "different lengths")],
    ids=["null", "uneven"],
)
def test_transform_rejects_bad_feature_rows(spark, bad_row, message):
    # a batch holding a null or shorter row fails as a whole, naming the
    # column; coalesce(1) puts both rows into one Arrow batch
    train = spark.createDataFrame(
        [([float(i), float(-i)],) for i in range(20)], "vec array<double>"
    )
    model = IForest(featuresCol="vec", numTrees=5, seed=1).fit(train)
    df = spark.createDataFrame([([1.0, 2.0],), (bad_row,)], "vec array<double>")
    with pytest.raises(Exception, match=f"features column 'vec' .*{message}"):
        model.transform(df.coalesce(1)).collect()


@pytest.mark.parametrize("bad_row", [None, [1.0]], ids=["null", "uneven"])
def test_fit_rejects_bad_feature_rows(spark, bad_row):
    # the sampled pool is read on the driver, so a bad row in it fails the
    # fit there with the same error transform gives
    df = spark.createDataFrame(
        [([float(i), float(-i)],) for i in range(20)] + [(bad_row,)], "features array<double>"
    )
    with pytest.raises(ValueError, match="features column 'features'"):
        IForest(numTrees=5, maxSamples=8.0, seed=1).fit(df)


def test_transform_rejects_rows_narrower_than_the_splits(spark):
    train = spark.createDataFrame(
        [([float(i), float(-i), float(i % 5)],) for i in range(40)], "vec array<double>"
    )
    model = IForest(featuresCol="vec", numTrees=10, seed=1).fit(train)
    width = max(int(t.feature_index.max()) for t in model.trees) + 1
    assert width > 1
    df = spark.createDataFrame([([1.0] * (width - 1),)], "vec array<double>")
    with pytest.raises(
        Exception, match=f"features column 'vec' has rows of width {width - 1}.* at least {width}"
    ):
        model.transform(df).collect()


def _replay_fit(df, num_trees, max_samples, bootstrap, seed, max_depth, max_features):
    """The documented sampling plan, replayed without IForest._fit: a
    Bernoulli pool at u = pmod(xxhash64, 2^30) / 2^30 < pool fraction,
    ordered by the full hash, then per tree the seeded rng draws and
    train_tree."""
    from pyspark.sql import functions as F

    from spark_iforest_spark.iforest import _POOL_OVERSAMPLE, _POOL_SLACK
    from spark_iforest_spark.trainer import train_tree

    rows = df.select("features", F.xxhash64("features", F.lit(seed)).alias("h")).collect()
    n = len(rows)
    fraction = max_samples / n if max_samples > 1 else max_samples
    psi = max(int(fraction * n), 1)
    pool_fraction = min(1.0, (int(_POOL_OVERSAMPLE * num_trees * psi) + _POOL_SLACK) / n)
    pool = [
        r for r in rows
        if pool_fraction >= 1.0 or (r["h"] % (1 << 30)) / (1 << 30) < pool_fraction
    ]
    if len(pool) < psi:
        pool = rows
    x = np.array([r["features"] for r in sorted(pool, key=lambda r: r["h"])])
    rng = np.random.default_rng(seed & 0x7FFFFFFF)
    trees = []
    for t in range(num_trees):
        if fraction >= 1.0 and not bootstrap:
            sample = x
        elif bootstrap:
            sample = x[rng.integers(0, len(x), size=psi)]
        else:
            sample = x[rng.choice(len(x), size=psi, replace=False)]
        trees.append(train_tree(sample, max_depth, max_features, seed, t))
    return trees, pool_fraction


@pytest.mark.parametrize(
    "n, params",
    [
        (2000, dict(numTrees=6, maxSamples=16.0, seed=21)),
        (2000, dict(numTrees=6, maxSamples=16.0, bootstrap=True, seed=22)),
        (2000, dict(numTrees=4, maxSamples=0.05, maxFeatures=0.5, seed=23)),
        (150, dict(numTrees=3, maxSamples=1.0, seed=24)),
    ],
    ids=["absolute", "bootstrap", "fraction", "all_rows"],
)
@pytest.mark.parametrize("pool_on", ["driver", "executors"])
def test_fit_matches_documented_sampling_plan(spark, monkeypatch, n, params, pool_on):
    # both homes of the pool (collected, or numbered on the executors and
    # joined with the plan) must give the same forest
    if pool_on == "executors":
        monkeypatch.setattr("spark_iforest_spark.iforest._POOL_COLLECT_MAX_BYTES", 0)
    rng = np.random.default_rng(params["seed"])
    df = spark.createDataFrame(
        [(r.tolist(),) for r in rng.normal(size=(n, 3))], "features array<double>"
    )
    est = IForest(**params)
    model = est.fit(df.repartition(5))
    expected, pool_fraction = _replay_fit(
        df, est.getNumTrees(), est.getMaxSamples(), est.getBootstrap(),
        est.getSeed(), est.getMaxDepth(), est.getMaxFeatures(),
    )
    assert pool_fraction < 1.0 or params["maxSamples"] == 1.0
    assert model.trees == expected


def _spy_builds(monkeypatch):
    from spark_iforest_spark import iforest

    used = []
    for name in ("make_build_fn", "make_group_build_fn"):
        real = getattr(iforest, name)
        monkeypatch.setattr(
            iforest, name, lambda *a, _real=real, _name=name: used.append(_name) or _real(*a)
        )
    return used


def test_pool_home_follows_its_estimated_size(spark, monkeypatch):
    # pool estimate: min(n, 1.1*6*16 + 1024) rows * 8 B * (d + 1 hash) plus
    # the plan's 6*16 int64 indices; at the limit it is collected, one byte
    # over it stays on the executors
    from spark_iforest_spark import iforest

    df = spark.createDataFrame(
        [([float(i), float(-i), float(i % 7)],) for i in range(2000)], "features array<double>"
    )
    estimate = (int(1.1 * 6 * 16) + 1024) * 8 * 4 + 6 * 16 * 8
    used = _spy_builds(monkeypatch)
    models = []
    for limit in (estimate, estimate - 1):
        monkeypatch.setattr(iforest, "_POOL_COLLECT_MAX_BYTES", limit)
        models.append(IForest(numTrees=6, maxSamples=16.0, seed=3).fit(df))
    assert used == ["make_build_fn", "make_group_build_fn"]
    assert models[0].trees == models[1].trees


def test_executor_pool_partition_offset_ids(spark, monkeypatch):
    # above _POOL_GLOBAL_SORT_MAX rows the executor-side pool is numbered by
    # partition-local row numbers plus driver offsets instead of one sort:
    # every tree still trains on psi distinct rows, and a fixed layout
    # gives a fixed forest
    from spark_iforest_spark import iforest

    monkeypatch.setattr(iforest, "_POOL_COLLECT_MAX_BYTES", 0)
    monkeypatch.setattr(iforest, "_POOL_GLOBAL_SORT_MAX", 0)
    rng = np.random.default_rng(5)
    df = spark.createDataFrame(
        [(r.tolist(),) for r in rng.normal(size=(3000, 3))], "features array<double>"
    ).repartition(4)
    est = IForest(numTrees=5, maxSamples=32.0, seed=9)
    model = est.fit(df)
    assert [int(t.num_instance.sum()) for t in model.trees] == [32] * 5
    assert est.fit(df).trees == model.trees


def test_maxsamples_gt_rows_fails(spark):
    # IForestSuite.scala:202-224 boundary: maxSamples > totalRows fails at fit
    df = iforest_data(spark, 10, 2)
    with pytest.raises(Exception, match="max samples"):
        IForest(numTrees=2, maxSamples=20.0).fit(df)


def test_bootstrap_fit(spark):
    df = iforest_data(spark, 50, 3)
    model = IForest(numTrees=10, maxSamples=16.0, bootstrap=True, seed=5).fit(df)
    assert len(model.trees) == 10
    assert model.transform(df).count() == 50


def test_absolute_maxsamples_pool_path(spark):
    # forces the candidate-pool sampling path (psi*T << n)
    df = iforest_data(spark, 500, 2)
    model = IForest(numTrees=5, maxSamples=8.0, seed=3).fit(df)
    assert len(model.trees) == 5
    # every leaf's numInstance sums to 8 per tree
    for t in model.trees:
        assert t.num_instance[t.feature_index < 0].sum() == 8


def test_fit_deterministic_given_seed(spark):
    df = iforest_data(spark, 100, 3)
    m1 = IForest(numTrees=5, maxSamples=32.0, seed=11).fit(df)
    m2 = IForest(numTrees=5, maxSamples=32.0, seed=11).fit(df)
    assert all(a == b for a, b in zip(m1.trees, m2.trees))


def test_threshold_statefulness(spark):
    # threshold computed once at first transform, reused after
    df = iforest_data(spark, 10, 2)
    model = IForest(numTrees=10, contamination=0.2, seed=10).fit(df)
    thr = model.getThreshold()
    assert thr > 0
    model.transform(df).collect()
    assert model.getThreshold() == thr
    # explicit setThreshold skips recomputation (IForest.scala:72-75)
    model.setThreshold(0.99)
    out = model.transform(df)
    assert out.where("prediction > 0").count() == 0


def test_copy_model(spark):
    df = iforest_data(spark, 10, 2)
    model = IForest(numTrees=5, contamination=0.2, seed=10).fit(df)
    cp = model.copy()
    assert len(cp.trees) == len(model.trees)
    assert cp.getThreshold() == model.getThreshold()
    assert cp.summary.predictionCol == model.summary.predictionCol


def test_fractional_psi_norm_factor(spark):
    # maxSamples <= 1: normalizer recomputed from the SCORED dataset's size
    # (reference README.md:56 drift semantics preserved)
    df = iforest_data(spark, 10, 2)
    model = IForest(numTrees=10, maxSamples=1.0, seed=10).fit(df)
    small = iforest_data(spark, 5, 2)
    model.setThreshold(0.5)
    s10 = model.transform(df).collect()[0]["anomalyScore"]
    s5 = model.transform(small).collect()[0]["anomalyScore"]
    assert s10 != pytest.approx(s5)  # same row scores differently — by design


def test_fractional_maxsamples_fit_counts_its_input_once(spark, monkeypatch):
    # fit hands its count to its own transform, which takes both the
    # normalizer and the exact threshold from it
    from pyspark.sql.classic.dataframe import DataFrame

    df = spark.createDataFrame(
        [(i, Vectors.dense([float(i % 7), float(i * i % 11)])) for i in range(40)],
        ["i", "features"],
    )
    calls = []
    count = DataFrame.count
    monkeypatch.setattr(DataFrame, "count", lambda self: calls.append(self) or count(self))
    model = IForest(numTrees=10, maxSamples=0.5, contamination=0.2, seed=10).fit(df)
    assert len(calls) == 1
    monkeypatch.undo()
    # a standalone transform counts its input itself
    fresh = model.copy().setThreshold(-1.0)
    scored = fresh.transform(df)
    assert fresh.getThreshold() == model.getThreshold()

    def scores(out):
        return [r["anomalyScore"] for r in out.orderBy("i").collect()]

    assert scores(model.summary.predictions) == scores(scored)


def test_fit_layout_invariant(spark, sf_dir):
    """The whole fit->score path must be a pure function of (data, seed):
    rids come from a full-64-bit-hash order (not partition layout), the
    assign table is driver-side numpy, and tree induction depends on each
    group's row MULTISET (per-feature min/max + counts), not arrival
    order. Fit on two different layouts and compare score relations."""
    from pyspark.sql import functions as F

    from spark_iforest_spark import IForest

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("features")
    )
    outs = []
    for parts in (3, 17):
        m = IForest(
            numTrees=20, maxSamples=64.0, maxDepth=8, contamination=0.1, seed=11
        ).fit(emb.repartition(parts))
        outs.append(
            sorted(
                map(
                    tuple,
                    m.transform(emb)
                    .select("vec_id", F.round("anomalyScore", 9), "prediction")
                    .collect(),
                )
            )
        )
    assert outs[0] == outs[1] and len(outs[0]) > 0
