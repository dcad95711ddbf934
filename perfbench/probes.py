"""Per-layer probes: direct, timed calls into each layer's public functions
on the model and rows of the run that just finished."""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

import checks
from workloads import CONTAMINATION, REQUEST_ROWS, ProbeTarget, request, walk_ids

KERNEL_BLOCK = 16_384
TRAIN_CALLS = 20
TRANSFORM_CALLS = 20
PROBE_REQUESTS = 5

NODE_COLS = (
    "treeID", "id", "featureIndex", "featureValue", "leftChild", "rightChild", "numInstance",
)


def _timed(tracer, layer: str, name: str, fn, reps: int = 1):
    """(median seconds, last result) of ``reps`` calls, each in a span."""
    times, out = [], None
    for _ in range(reps):
        with tracer.span(layer, name):
            t0 = time.perf_counter()
            out = fn()
            times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def run_probes(spark, tracer, target: ProbeTarget, seed: int, run_dir: str, with_requests: bool):
    """Per-layer metrics (name -> value) and the failures of their checks."""
    from spark_iforest_spark import IForestModel
    from spark_iforest_spark.nodes import pack_forest, pandas_to_forest, rows_to_forest, tree_to_rows
    from spark_iforest_spark.scorer import anomaly_scores
    from spark_iforest_spark.trainer import train_tree

    model, trees, x = target.model, target.model.trees, target.x
    m: dict[str, float] = {}
    failures = list(target.failures)
    rng = np.random.default_rng([seed, 1])

    t, forest = _timed(tracer, "nodes", "pack_forest", lambda: pack_forest(trees), reps=5)
    m["nodes.pack_forest_ms"] = t * 1e3
    m["nodes.total_nodes"] = sum(tr.num_nodes for tr in trees)
    m["trainer.nodes_per_tree"] = m["nodes.total_nodes"] / len(trees)
    m["scorer.steps_per_row"] = int(forest.tree_depth.sum())

    block = np.ascontiguousarray(x[np.arange(KERNEL_BLOCK) % len(x)])
    t, _ = _timed(
        tracer, "scorer", "anomaly_scores", lambda: anomaly_scores(forest, block, target.psi), reps=3
    )
    m["scorer.kernel_rows_per_s"] = KERNEL_BLOCK / t

    k = min(int(target.psi), len(x))
    samples = [x[rng.choice(len(x), size=k, replace=False)] for _ in range(TRAIN_CALLS)]
    times = []
    for i, sample in enumerate(samples):
        t, _ = _timed(
            tracer, "trainer", "train_tree",
            lambda: train_tree(sample, model.getMaxDepth(), model.getMaxFeatures(), seed, i),
        )
        times.append(t)
    m["trainer.train_tree_ms"] = statistics.median(times) * 1e3

    rows = [dict(zip(NODE_COLS, r)) for i, tr in enumerate(trees) for r in tree_to_rows(i, tr)]
    pdf = pd.DataFrame(rows, columns=list(NODE_COLS))
    t, back = _timed(tracer, "nodes", "rows_to_forest", lambda: rows_to_forest(rows), reps=3)
    m["nodes.rows_to_forest_ms"] = t * 1e3
    if not checks.trees_equal(back, trees):
        failures.append("rows_to_forest(tree_to_rows(trees)) != trees")
    t, back = _timed(tracer, "nodes", "pandas_to_forest", lambda: pandas_to_forest(pdf), reps=3)
    m["nodes.pandas_to_forest_ms"] = t * 1e3
    if not checks.trees_equal(back, trees):
        failures.append("pandas_to_forest(tree_to_rows(trees)) != trees")

    t, _ = _timed(
        tracer, "iforest", "transform_call", lambda: model.transform(target.df),
        reps=TRANSFORM_CALLS,
    )
    m["iforest.transform_call_ms"] = t * 1e3
    fresh = model.copy().setThreshold(-1.0)
    t, _ = _timed(tracer, "iforest", "transform_threshold", lambda: fresh.transform(target.df))
    m["iforest.threshold_s"] = t
    if fresh.getThreshold() != target.fitted_threshold:
        failures.append(
            f"threshold recomputed as {fresh.getThreshold()!r}, fitted {target.fitted_threshold!r}"
        )

    path = os.path.join(run_dir, "probe-model")
    t, _ = _timed(tracer, "iforest", "save", lambda: model.save(path))
    m["iforest.save_s"] = t
    m["iforest.model_bytes"] = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )
    t, loaded = _timed(tracer, "iforest", "load", lambda: IForestModel.load(path))
    m["iforest.load_s"] = t
    if not checks.trees_equal(loaded.trees, trees):
        failures.append("loaded trees != saved trees")

    if with_requests:
        times = []
        for i in range(PROBE_REQUESTS):
            ids = rng.choice(len(x), size=min(REQUEST_ROWS, len(x)), replace=False)
            with tracer.span("bench", "request"):
                t, got = request(spark, model, [(int(j), x[j].tolist()) for j in ids])
            times.append(t)
            if len(got) != len(ids):
                failures.append(f"request returned {len(got)} rows for {len(ids)}")
        m["spark.request_execute_ms"] = statistics.median(times) * 1e3
    return m, failures


def segmented_probe(tracer, wl) -> tuple[dict, list[str]]:
    """``fit_score_groups`` over the run's input keyed by its Zipf segment,
    checked row by row; the largest segment's forest from ``fit_groups``
    must reproduce its scores under the tree walk."""
    from pyspark.sql import functions as F

    from spark_iforest_spark import segmented
    from spark_iforest_spark.nodes import pandas_to_forest

    ds, s = wl.ds, wl.size
    kw = dict(
        num_trees=s["segment_trees"], max_samples=s["psi"], contamination=CONTAMINATION,
        seed=wl.seed,
    )
    t, pdf = _timed(
        tracer, "segmented", "fit_score_groups",
        lambda: segmented.fit_score_groups(wl.df, "segment", "features", id_col="id", **kw)
        .toPandas(),
    )
    failures = []
    ids = pdf["id"].to_numpy()
    if len(pdf) != ds.n or not np.array_equal(np.sort(ids), np.arange(ds.n)):
        failures.append(f"fit_score_groups returned {len(pdf)} rows for {ds.n}")
        return {"segmented.fit_score_s": t}, failures
    if not np.array_equal(ds.keys[ids], pdf["segment"].to_numpy()):
        failures.append("fit_score_groups put rows under another segment")
    per_seg = pdf.groupby("segment")["prediction"].agg(["sum", "count"])
    limit = [checks.max_anomalies(CONTAMINATION, c) for c in per_seg["count"]]
    if (per_seg["sum"].to_numpy() > np.array(limit)).any():
        failures.append("a segment has more than ceil(contamination * n) anomalies")

    sizes = np.bincount(ds.keys)
    key = int(np.argmax(sizes))
    with tracer.span("segmented", "fit_groups"):
        nodes = segmented.fit_groups(wl.df, "segment", "features", **kw).nodes
        nodes = nodes.where(F.col("segment") == key).toPandas()
    psi, thr = float(nodes["psi"].iloc[0]), float(nodes["threshold"].iloc[0])
    scores = np.empty(ds.n)
    scores[ids] = pdf["anomalyScore"].to_numpy()
    rows = np.flatnonzero(ds.keys == key)
    sample = walk_ids(ds.labels, rows)
    failures += checks.score_mismatches(
        pandas_to_forest(nodes), ds.features[sample], scores[sample], psi
    )
    pred = np.empty(ds.n)
    pred[ids] = pdf["prediction"].to_numpy()
    if not np.array_equal(pred[rows], (scores[rows] > thr).astype(float)):
        failures.append("largest segment: prediction != (score > threshold)")
    sizes = sizes[sizes > 0]
    return {
        "segmented.fit_score_s": t,
        "segmented.groups": len(sizes),
        "segmented.max_over_median_rows": float(sizes.max() / np.median(sizes)),
    }, failures
