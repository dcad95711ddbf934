"""Smoke tests of the benchmark itself, at tiny input sizes.

    python -m pytest perfbench -q

They check that every metric named in BENCHMARK.json comes out with its
unit on every workload, that a corrupted score fails the run's checks, that
one seed gives the same quality and tree-shape figures twice, and that the
command line keeps its contract.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
TINY = {
    "global_fit_score": dict(n=4_000, d=4, trees=10, psi=64, segments=8, segment_trees=5),
    "online_score": dict(n=2_000, d=4, trees=10, psi=64, pool=1_024, segments=8, segment_trees=5),
}


@pytest.fixture(scope="module")
def spark():
    run_dir = os.path.join(ROOT, ".perfbench_run", f"tests-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    session = run.start_session(run_dir, 2)
    yield session
    run.stop_session(session)
    shutil.rmtree(run_dir, ignore_errors=True)


def bench(spark, workload: str, trace: bool, seed: int = 3):
    run_dir = os.path.join(ROOT, ".perfbench_run", f"tests-{os.getpid()}", f"{workload}-{trace}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        return run.Bench(spark, workload, seed, 0.5, trace, run_dir, TINY[workload]).run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


@pytest.fixture(scope="module")
def results(spark):
    return {(w, t): bench(spark, w, t) for w in WORKLOADS for t in (False, True)}


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [False, True])
def test_every_metric_with_unit(results, workload, trace):
    result, _ = results[(workload, trace)]
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert result["correct"], result
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for name, m in result["metrics"].items():
        assert np.isfinite(m["value"]), name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_figures(spark, results, workload):
    first_result, first = results[(workload, True)]
    again_result, again = bench(spark, workload, True)
    assert first["auc"] == again["auc"]
    for k in ("trainer.nodes_per_tree", "scorer.steps_per_row"):
        assert first_result["metrics"][k] == again_result["metrics"][k]


def test_corrupted_score_fails_the_run(spark, monkeypatch):
    from pyspark.sql import functions as F

    from spark_iforest_spark.iforest import IForestModel

    orig = IForestModel._transform

    def corrupted(self, dataset):
        out = orig(self, dataset)
        return out.withColumn("anomalyScore", F.col("anomalyScore") * (1 + 1e-9))

    monkeypatch.setattr(IForestModel, "_transform", corrupted)
    result, detail = bench(spark, "global_fit_score", False)
    assert not result["correct"]
    assert result["failed"] >= 1
    assert any("walk" in f for f in detail["failures"])


def test_walk_check_catches_one_ulp_scale_errors():
    from spark_iforest_spark.nodes import pack_forest
    from spark_iforest_spark.scorer import anomaly_scores
    from spark_iforest_spark.trainer import train_tree

    x = np.random.default_rng(0).normal(size=(200, 3))
    trees = [train_tree(x[i * 20 : (i + 1) * 20], 10, 1.0, 0, i) for i in range(5)]
    scores = anomaly_scores(pack_forest(trees), x, 20.0)
    assert checks.score_mismatches(trees, x, scores, 20.0) == []
    scores[7] *= 1 + 1e-10
    assert len(checks.score_mismatches(trees, x, scores, 20.0)) == 1


def test_auc_rank_formula():
    labels = np.array([0, 0, 1, 1])
    assert checks.auc(np.array([0.1, 0.2, 0.8, 0.9]), labels) == 1.0
    assert checks.auc(np.array([0.5, 0.5, 0.5, 0.5]), labels) == 0.5
    assert checks.auc(np.array([0.1, 0.9, 0.8, 0.2]), labels) == 0.5


def _cli(cwd: str) -> subprocess.CompletedProcess:
    cmd = SPEC["command"] + ["--workload", WORKLOADS[0], "--seed", "5", "--seconds", "1",
                             "--trace", "0"]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=300)


def test_cli_prints_result_as_last_line():
    p = _cli(ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] is True


def test_cli_fails_without_the_package():
    bare = os.path.join(ROOT, ".perfbench_run", f"bare-{os.getpid()}")
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = _cli(bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
