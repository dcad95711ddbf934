"""Model/estimator persistence round-trips (IForestSuite.scala:163-200).

Checks the reference's on-disk layout: ``path/metadata`` JSON params +
``path/data`` parquet of nested EnsembleNodeData rows with pre-order ids
(IForest.scala:283-310), structural tree equality after reload, and the
documented quirk that threshold is NOT persisted.
"""

import glob
import json
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.linalg import Vectors
from pyspark.ml.util import DefaultParamsReader, DefaultParamsWriter

from spark_iforest_spark import IForest, IForestModel
from spark_iforest_spark.nodes import pandas_to_forest, tree_to_rows


@pytest.fixture
def tmp_path_str():
    d = tempfile.mkdtemp(prefix="iforest-persist-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def small_df(spark):
    return spark.createDataFrame(
        [(Vectors.dense([float(i), float(i % 3)]),) for i in range(20)], ["features"]
    )


ALL_PARAM_SETTINGS = dict(
    numTrees=9,
    maxSamples=13.0,
    maxFeatures=2.0,
    maxDepth=4,
    contamination=0.31,
    approxQuantileRelativeError=0.02,
    bootstrap=True,
    seed=777,
    featuresCol="features",
    labelCol="label",
    predictionCol="pred_out",
    anomalyScoreCol="score_out",
)


def test_estimator_roundtrip(spark, tmp_path_str):
    est = IForest(**ALL_PARAM_SETTINGS)
    est.write().overwrite().save(tmp_path_str)
    loaded = IForest.load(tmp_path_str)
    assert loaded.uid == est.uid
    for p in est.params:
        assert loaded.getOrDefault(p.name) == est.getOrDefault(p.name), p.name


def test_model_roundtrip_structural_equality(spark, tmp_path_str):
    df = small_df(spark)
    model = IForest(numTrees=5, maxSamples=10.0, contamination=0.2, seed=3).fit(df)
    model.write().overwrite().save(tmp_path_str)
    loaded = IForestModel.load(tmp_path_str)
    assert loaded.uid == model.uid
    assert len(loaded.trees) == len(model.trees)
    # structural equality, the port of checkTreeNodes (IForestSuite.scala:183-200)
    for a, b in zip(model.trees, loaded.trees):
        assert a == b
    for p in model.params:
        assert loaded.getOrDefault(p.name) == model.getOrDefault(p.name), p.name


def test_threshold_not_persisted(spark, tmp_path_str):
    df = small_df(spark)
    model = IForest(numTrees=5, contamination=0.2, seed=3).fit(df)
    assert model.getThreshold() > 0
    model.write().overwrite().save(tmp_path_str)
    loaded = IForestModel.load(tmp_path_str)
    # reference: writer saves only params+trees (IForest.scala:283-296);
    # a loaded model recomputes threshold from contamination on first transform
    assert loaded.getThreshold() == -1.0
    loaded.transform(df).collect()
    assert loaded.getThreshold() == pytest.approx(model.getThreshold())


def test_persisted_layout_matches_reference(spark, tmp_path_str):
    df = small_df(spark)
    model = IForest(numTrees=3, maxSamples=8.0, seed=1).fit(df)
    model.write().overwrite().save(tmp_path_str)
    data = spark.read.parquet(tmp_path_str + "/data")
    assert set(data.columns) == {"treeID", "nodeData"}
    nd = data.schema["nodeData"].dataType.fieldNames()
    assert nd == ["id", "featureIndex", "featureValue", "leftChild", "rightChild", "numInstance"]
    # pre-order ids dense per tree, root 0
    import collections

    rows = data.collect()
    per_tree = collections.defaultdict(list)
    for r in rows:
        per_tree[r["treeID"]].append(r["nodeData"]["id"])
    assert sorted(per_tree) == [0, 1, 2]
    for ids in per_tree.values():
        assert sorted(ids) == list(range(len(ids)))
    meta = spark.read.json(tmp_path_str + "/metadata").collect()[0]
    assert "IForestModel" in meta["class"]


def _write_tuple_layout(spark, trees, path):
    """A ``data`` dir written from per-node tuples, as a reference-written
    model or one saved by an older version of this package has it."""
    rows = [(t, r[1:]) for t, tree in enumerate(trees) for r in tree_to_rows(t, tree)]
    schema = (
        "treeID INT, nodeData STRUCT<id: INT, featureIndex: INT, featureValue: DOUBLE, "
        "leftChild: INT, rightChild: INT, numInstance: BIGINT>"
    )
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)


def test_written_schema_matches_the_tuple_layout(spark, tmp_path_str):
    model = IForest(numTrees=3, maxSamples=8.0, seed=1).fit(small_df(spark))
    model.write().overwrite().save(tmp_path_str + "/model")
    _write_tuple_layout(spark, model.trees, tmp_path_str + "/tuples")
    assert spark.read.parquet(tmp_path_str + "/model/data").schema.simpleString() == (
        "struct<treeID:int,nodeData:struct<id:int,featureIndex:int,featureValue:double,"
        "leftChild:int,rightChild:int,numInstance:bigint>>"
    )
    # nullability and Spark's schema metadata included
    new, old = (
        pq.read_schema(sorted(glob.glob(f"{tmp_path_str}/{d}/*.parquet"))[0])
        for d in ("model/data", "tuples")
    )
    assert new.equals(old, check_metadata=True)


def test_tuple_layout_data_loads_equal(spark, tmp_path_str):
    model = IForest(numTrees=5, maxSamples=10.0, seed=3).fit(small_df(spark))
    model.write().overwrite().save(tmp_path_str)
    _write_tuple_layout(spark, model.trees, tmp_path_str + "/data")
    assert IForestModel.load(tmp_path_str).trees == model.trees


def _width_df(spark, width):
    return spark.createDataFrame(
        [(i, [float(i), float(i % 3)] + [9.0] * (width - 2)) for i in range(20)],
        "i int, features array<double>",
    )


def _scores(model, df):
    return [r["anomalyScore"] for r in model.transform(df).orderBy("i").collect()]


def test_model_roundtrip_keeps_training_width(spark, tmp_path_str):
    model = IForest(numTrees=5, maxSamples=10.0, seed=3).fit(_width_df(spark, 2))
    assert model._num_features == 2 and model.copy()._num_features == 2
    model.write().overwrite().save(tmp_path_str)
    assert spark.read.json(tmp_path_str + "/metadata").collect()[0]["numFeatures"] == 2
    loaded = IForestModel.load(tmp_path_str)
    assert loaded._num_features == 2
    for m in (model, loaded):
        with pytest.raises(
            Exception,
            match="features column 'features' has rows of width 3, but the model was "
            "trained on rows of width 2",
        ):
            m.transform(_width_df(spark, 3)).collect()


def test_metadata_without_width_loads_and_scores(spark, tmp_path_str):
    # metadata as the reference and older versions write it: no numFeatures
    model = IForest(numTrees=5, maxSamples=10.0, seed=3).fit(_width_df(spark, 2))
    model.write().overwrite().save(tmp_path_str)
    shutil.rmtree(tmp_path_str + "/metadata")
    DefaultParamsWriter.saveMetadata(model, tmp_path_str, spark.sparkContext)
    loaded = IForestModel.load(tmp_path_str)
    assert loaded._num_features is None
    loaded.setThreshold(model.getThreshold())
    # wider rows are scored on their first columns, as the reference does
    assert _scores(loaded, _width_df(spark, 3)) == _scores(model, _width_df(spark, 2))


def _fit_and_save(spark, path):
    model = IForest(numTrees=5, maxSamples=10.0, seed=3).fit(_width_df(spark, 2))
    model.write().overwrite().save(path)
    return model


def _assert_loads_equal(path, model):
    loaded = IForestModel.load(path)
    assert loaded.uid == model.uid and loaded.trees == model.trees
    assert loaded._num_features == model._num_features
    for p in model.params:
        assert loaded.getOrDefault(p.name) == model.getOrDefault(p.name), p.name


def test_written_metadata_reads_back_through_pyspark_and_spark(spark, tmp_path_str):
    model = _fit_and_save(spark, tmp_path_str)
    meta_dir = tmp_path_str + "/metadata"
    assert sorted(n for n in os.listdir(meta_dir) if not n.startswith(".")) == ["part-00000"]
    with open(meta_dir + "/part-00000") as f:
        written = json.loads(f.readline())
    assert written["class"] == "spark_iforest_spark.iforest.IForestModel"
    assert written["numFeatures"] == 2
    assert DefaultParamsReader.loadMetadata(tmp_path_str, spark) == written
    (row,) = spark.read.json(meta_dir).collect()
    assert row.asDict(recursive=True) == written
    _assert_loads_equal(tmp_path_str, model)


def test_reader_loads_pyspark_and_reference_metadata_layouts(spark, tmp_path_str):
    model = _fit_and_save(spark, tmp_path_str)
    meta_dir = tmp_path_str + "/metadata"
    extra = {"numFeatures": 2}
    # PySpark 4's DefaultParamsWriter: part-00000-<uuid>-c000.txt, _SUCCESS
    # and checksum files
    shutil.rmtree(meta_dir)
    DefaultParamsWriter.saveMetadata(model, tmp_path_str, spark, extraMetadata=extra)
    names = os.listdir(meta_dir)
    assert "_SUCCESS" in names and any(n.startswith(".") for n in names)
    assert any(n.startswith("part-00000-") and n.endswith("-c000.txt") for n in names)
    _assert_loads_equal(tmp_path_str, model)
    # the reference (Spark 2.4): sc.parallelize(Seq(json), 1).saveAsTextFile
    shutil.rmtree(meta_dir)
    meta = DefaultParamsWriter._get_metadata_to_save(model, spark, extra)
    spark.sparkContext.parallelize([meta], 1).saveAsTextFile(meta_dir)
    assert {"part-00000", "_SUCCESS"} <= set(os.listdir(meta_dir))
    _assert_loads_equal(tmp_path_str, model)


def _spark_jobs(spark, fn):
    """The number of Spark jobs ``fn()`` runs, counted by job group."""
    sc = spark.sparkContext
    group = "persistence-" + os.urandom(6).hex()
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_model_save_and_load_run_one_spark_job_each(spark, tmp_path_str):
    model = IForest(numTrees=5, maxSamples=10.0, seed=3).fit(small_df(spark))
    path = tmp_path_str + "/model"
    assert _spark_jobs(spark, lambda: model.save(path)) == 1
    assert _spark_jobs(spark, lambda: IForestModel.load(path)) == 1
    est = IForest(**ALL_PARAM_SETTINGS)
    assert _spark_jobs(spark, lambda: est.save(tmp_path_str + "/est")) == 0
    assert _spark_jobs(spark, lambda: IForest.load(tmp_path_str + "/est")) == 0


def _tree_state(path):
    return sorted(
        (os.path.relpath(os.path.join(d, f), path), os.stat(os.path.join(d, f)).st_mtime_ns)
        for d, _, files in os.walk(path)
        for f in files
    )


@pytest.mark.parametrize("stage", ["model", "estimator"])
def test_save_without_overwrite_refuses_an_existing_path(spark, tmp_path_str, stage):
    model = _fit_and_save(spark, tmp_path_str)
    before = _tree_state(tmp_path_str)
    instance = model if stage == "model" else IForest()
    with pytest.raises(FileExistsError, match="already exists"):
        instance.save(tmp_path_str)
    assert _tree_state(tmp_path_str) == before
    _assert_loads_equal(tmp_path_str, model)


def test_save_cut_short_before_its_metadata_does_not_load(spark, tmp_path_str):
    # the writer writes data first and metadata last
    _fit_and_save(spark, tmp_path_str)
    shutil.rmtree(tmp_path_str + "/metadata")
    with pytest.raises(FileNotFoundError, match=f"{tmp_path_str}/metadata"):
        IForestModel.load(tmp_path_str)
    os.makedirs(tmp_path_str + "/metadata")
    open(tmp_path_str + "/metadata/_SUCCESS", "w").close()
    with pytest.raises(FileNotFoundError, match=f"{tmp_path_str}/metadata"):
        IForestModel.load(tmp_path_str)


def test_node_table_missing_a_field_is_rejected(spark, tmp_path_str):
    model = _fit_and_save(spark, tmp_path_str)
    rows = [(t, r[1:-1]) for t, tree in enumerate(model.trees) for r in tree_to_rows(t, tree)]
    schema = (
        "treeID INT, nodeData STRUCT<id: INT, featureIndex: INT, featureValue: DOUBLE, "
        "leftChild: INT, rightChild: INT>"
    )
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(tmp_path_str + "/data")
    with pytest.raises(ValueError, match=r"tree \d+: null or NaN numInstance"):
        IForestModel.load(tmp_path_str)


def test_estimator_metadata_is_checked_for_its_class(spark, tmp_path_str):
    IForest(**ALL_PARAM_SETTINGS).save(tmp_path_str + "/est")
    with pytest.raises(ValueError, match="expected IForestModel metadata"):
        IForestModel.load(tmp_path_str + "/est")
    _fit_and_save(spark, tmp_path_str + "/model")
    with pytest.raises(ValueError, match="expected IForest metadata"):
        IForest.load(tmp_path_str + "/model")


def _node_table(**tree1_root):
    """Two 3-node trees (a split and two leaves); ``tree1_root`` overrides
    fields of tree 1's root."""
    cols = {
        "treeID": ([0, 0, 0, 1, 1, 1], pa.int32()),
        "id": ([0, 1, 2] * 2, pa.int32()),
        "featureIndex": ([0, -1, -1] * 2, pa.int32()),
        "featureValue": ([0.5, -1.0, -1.0] * 2, pa.float64()),
        "leftChild": ([1, -1, -1] * 2, pa.int32()),
        "rightChild": ([2, -1, -1] * 2, pa.int32()),
        "numInstance": ([0, 3, 4] * 2, pa.int64()),
    }
    for name, value in tree1_root.items():
        cols[name][0][3] = value
    return pa.table({name: pa.array(v, type=t) for name, (v, t) in cols.items()})


@pytest.mark.parametrize(
    "tree1_root, message",
    [
        ({"featureIndex": None}, "null or NaN featureIndex"),
        ({"leftChild": 7}, "child outside 0..2"),
        ({"rightChild": -1}, "child outside 0..2"),
    ],
    ids=["null-feature-index", "child-out-of-range", "internal-child-minus-1"],
)
def test_bad_node_table_is_rejected_naming_the_tree(tree1_root, message):
    assert len(pandas_to_forest(_node_table())) == 2
    with pytest.raises(ValueError, match=f"tree 1: .*{message}"):
        pandas_to_forest(_node_table(**tree1_root))


def test_pipeline_composition_and_roundtrip(spark, tmp_path_str):
    # C1-C3 (IForestExample.scala:31-57): IForest as a genuine Pipeline stage
    df = spark.createDataFrame(
        [(float(i), float(i % 5)) for i in range(30)], ["a", "b"]
    )
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=["a", "b"], outputCol="features"),
            IForest(numTrees=5, maxSamples=10.0, contamination=0.2, seed=8),
        ]
    )
    pm = pipe.fit(df)
    out = pm.transform(df)
    assert {"anomalyScore", "prediction"} <= set(out.columns)
    pm.write().overwrite().save(tmp_path_str)
    reloaded = PipelineModel.load(tmp_path_str)
    out2 = reloaded.transform(df)
    a = {r["a"]: r["anomalyScore"] for r in out.collect()}
    b = {r["a"]: r["anomalyScore"] for r in out2.collect()}
    for k in a:
        assert a[k] == pytest.approx(b[k])
