"""Plan-shape audits for the round-7 operators: the properties that
matter at 100 TB, asserted on .explain('formatted') output."""

import pytest
from pyspark.sql import functions as F

from spark_iforest_spark import segmented
from spark_iforest_spark.operators import dedup, drift
from spark_iforest_spark.plans import formatted_plan


@pytest.fixture(scope="module")
def grouped(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [
        (f"g{i % 4}", i, rng.standard_normal(3).tolist()) for i in range(200)
    ]
    return spark.createDataFrame(rows, "seg string, row_id long, features array<double>")


def test_psi_by_group_plan_no_window_no_explode(spark):
    """Per-group PSI must stay one aggregate per side + one join: no
    Window (global funnel), no Generate (bucket-row explosion)."""
    ref = spark.createDataFrame([("a", 1.0)] * 10, "g string, v double")
    bat = spark.createDataFrame([("a", 2.0)] * 10, "g string, v double")
    plan = formatted_plan(drift.psi_by_group(ref, bat, "g", "v", [1.0, 2.0]))
    assert "Window" not in plan
    assert "Generate" not in plan
    assert plan.count("HashAggregate") >= 2  # partial+final per side


def test_transform_broadcast_plan_zero_shuffle(grouped):
    """The streaming-capable scorer must be a pure map: no Exchange at
    all downstream of the scan (the model ships inside the closure)."""
    model = segmented.fit_groups(grouped, "seg", num_trees=5, max_samples=32)
    model.nodes.cache().count()  # freeze the model relation
    plan = formatted_plan(model.transform_broadcast(grouped, id_col="row_id"))
    assert "Exchange" not in plan
    assert "MapInArrow" in plan and "InPandas" not in plan
    model.nodes.unpersist()


def test_segmented_fit_single_exchange(grouped):
    """The explicit key-repartition must SATISFY the grouped-distribution
    requirement, not add a second exchange: exactly one shuffle between
    scan and the grouped Arrow stage."""
    import re

    plan = formatted_plan(
        segmented.fit_score_groups(grouped, "seg", num_trees=5, max_samples=32)
    )
    # each physical op appears once in the tree and once as a numbered
    # detail section — count detail headers
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "REPARTITION_BY_NUM" in plan  # user-specified => AQE-exempt
    assert "FlatMapGroupsInArrow" in plan


def test_resolve_clusters_plan_no_window(spark):
    labels = spark.createDataFrame([(1, 1), (2, 1)], "doc_id long, cluster_rep long")
    quality = spark.createDataFrame([(1, 0.5), (2, 0.9)], "doc_id long, quality double")
    plan = formatted_plan(dedup.resolve_clusters(None, labels=labels, quality=quality))
    assert "Window" not in plan


def test_segmented_plans_have_no_pandas_stage(grouped):
    """Every segmented stage runs on Arrow: no *InPandas operator in the
    plans of fitting, cogroup scoring, recalibration or update."""
    model = segmented.fit_groups(grouped, "seg", num_trees=5, max_samples=32)
    plans = {
        "fit_groups": formatted_plan(model.nodes),
        "transform": formatted_plan(model.transform(grouped, id_col="row_id")),
        "recalibrate_groups": formatted_plan(
            segmented.recalibrate_groups(model, grouped, 0.1).nodes
        ),
        "update_groups": formatted_plan(segmented.update_groups(model, grouped, ["g1"]).nodes),
    }
    assert "FlatMapCoGroupsInArrow" in plans["transform"]
    for name, plan in plans.items():
        assert "InPandas" not in plan, name
