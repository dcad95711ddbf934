"""The benchmark's workloads.

Each workload owns its inputs and its unit of work (``op``). ``setup``
builds the inputs from the seed and hands the package only the generated
DataFrame; ``op`` is one timed operation and returns the failures its
checks found; ``verify`` runs the checks that need a finished run;
``probe_target`` names the model and rows the per-layer probes use.

The run calls ``train`` once (untimed), ``setup`` several times (timed),
``prepare`` once, then ``op`` for warm-up and for the measured window.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

import checks
from gen import Dataset, generate, write_parquet

# Rows of the score-sample walked tree by tree in Python after each run.
WALK_SAMPLE = 32
# Rows per online request, as the north-star serving path sees them.
REQUEST_ROWS = 500

# ``segments`` Zipf-skewed keys ride along in every input; only the
# segmented probe uses them, with ``segment_trees`` trees per segment.
# ``pool`` is the online request pool, large enough for a steady AUC.
SIZES = {
    "global_fit_score": dict(n=262_144, d=8, trees=100, psi=256, segments=100, segment_trees=50),
    "online_score": dict(
        n=8_192, d=8, trees=100, psi=256, pool=16_384, segments=100, segment_trees=50
    ),
}
CONTAMINATION = 0.01


def request(spark, model, rows: list[tuple]):
    """One request as the serving path runs it: (seconds in collect, rows)."""
    req = spark.createDataFrame(rows, "id long, features array<double>")
    out = model.transform(req).select("id", "anomalyScore", "prediction")
    t0 = time.perf_counter()
    got = out.collect()
    return time.perf_counter() - t0, got


@dataclass
class OpResult:
    rows_scored: int
    score_s: float
    failures: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


@dataclass
class ProbeTarget:
    """What the per-layer probes run against: a fitted model, the rows it
    was fitted on, rows to sample from, ψ and the threshold fit set."""

    model: object
    df: object
    x: np.ndarray
    psi: float
    fitted_threshold: float
    failures: list[str] = field(default_factory=list)


class Workload:
    name = ""
    warmup_ops = 1
    # Timed operations per run at least, so one slow operation cannot set the
    # run's median; a traced run also needs both a traced and an untraced one.
    min_ops = 3

    def __init__(self, spark, run_dir: str, seed: int, size: dict) -> None:
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.size = size
        self.data_dir = os.path.join(run_dir, "data")
        self.ds: Dataset | None = None
        self.df = None

    def _materialize(self, ds: Dataset, path: str):
        """Write the dataset, read it back and confirm the row count."""
        shutil.rmtree(path, ignore_errors=True)
        write_parquet(ds, path)
        df = self.spark.read.parquet(path)
        if df.count() != ds.n:
            raise RuntimeError(f"{path}: read back a different row count")
        return df

    def setup(self) -> None:
        s = self.size
        self.ds = generate(self.seed, s["n"], s["d"], segments=s["segments"])
        self.df = self._materialize(self.ds, self.data_dir)

    def train(self) -> None:
        """Untimed one-off work before the first set-up."""

    def prepare(self) -> list[str]:
        """Untimed work after the last set-up; returns check failures."""
        return []

    def op(self) -> OpResult:
        raise NotImplementedError

    def verify(self) -> tuple[float, list[str]]:
        """(auc, failures) for the finished run."""
        raise NotImplementedError

    def probe_target(self) -> ProbeTarget:
        raise NotImplementedError

    def _walk_check(self, trees, ids: np.ndarray, scores: np.ndarray, psi: float) -> list[str]:
        return checks.score_mismatches(trees, self.ds.features[ids], scores, psi)


def walk_ids(labels: np.ndarray, pool: np.ndarray) -> np.ndarray:
    """A fixed sample: the first outliers and inliers among ``pool``."""
    lab = labels[pool]
    half = WALK_SAMPLE // 2
    return np.concatenate([pool[lab == 1][:half], pool[lab == 0][:half]])


class GlobalFitScore(Workload):
    """fit, then a full transform aggregated over ``prediction``."""

    name = "global_fit_score"
    # The first, cold operation takes about three times as long as the rest;
    # the second still runs 10-15% slow, which the median over at least five
    # timed operations absorbs.
    min_ops = 5

    def _estimator(self):
        from spark_iforest_spark import IForest

        s = self.size
        return IForest(
            numTrees=s["trees"],
            maxSamples=s["psi"],
            contamination=CONTAMINATION,
            seed=self.seed,
        )

    def op(self) -> OpResult:
        t0 = time.perf_counter()
        model = self._estimator().fit(self.df)
        t1 = time.perf_counter()
        thr = model.getThreshold()
        row = (
            model.transform(self.df)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("prediction").alias("anomalies"),
                F.sum(
                    (F.col("prediction") != (F.col("anomalyScore") > F.lit(thr)).cast("double"))
                    .cast("int")
                ).alias("bad"),
            )
            .collect()[0]
        )
        t2 = time.perf_counter()
        self.model = model
        n = self.ds.n
        failures = []
        if row["n"] != n:
            failures.append(f"transform returned {row['n']} rows for {n}")
        if row["bad"]:
            failures.append(f"{row['bad']} rows with prediction != (score > threshold)")
        if row["anomalies"] > checks.max_anomalies(CONTAMINATION, n):
            failures.append(f"{row['anomalies']} anomalies > ceil(contamination * n)")
        return OpResult(n, t2 - t1, failures, {"fit_s": t1 - t0})

    def verify(self) -> tuple[float, list[str]]:
        pdf = self.model.transform(self.df).select("id", "anomalyScore").toPandas()
        scores = np.empty(self.ds.n)
        scores[pdf["id"].to_numpy()] = pdf["anomalyScore"].to_numpy()
        ids = walk_ids(self.ds.labels, np.arange(self.ds.n))
        failures = self._walk_check(self.model.trees, ids, scores[ids], float(self.size["psi"]))
        return checks.auc(scores, self.ds.labels), failures

    def probe_target(self) -> ProbeTarget:
        return ProbeTarget(
            self.model, self.df, self.ds.features, float(self.size["psi"]),
            self.model.getThreshold(),
        )


class OnlineScore(Workload):
    """A closed loop: one client, one request of REQUEST_ROWS rows at a
    time against a model loaded from disk with a fixed threshold."""

    name = "online_score"
    warmup_ops = 3

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.model_dir = os.path.join(self.run_dir, "model")
        self.trained = None
        self.requests = 0

    def _draw(self) -> Dataset:
        """Training rows and request pool from one draw, so both come from
        the same mixture."""
        s = self.size
        return generate(self.seed, s["n"] + s["pool"], s["d"], segments=s["segments"])

    def train(self) -> None:
        """Fit and save the served model once; serving set-up loads it."""
        from spark_iforest_spark import IForest

        train = self._draw().rows(0, self.size["n"])
        train_df = self._materialize(train, os.path.join(self.run_dir, "train"))
        s = self.size
        self.trained = IForest(
            numTrees=s["trees"], maxSamples=s["psi"], contamination=CONTAMINATION,
            seed=self.seed,
        ).fit(train_df)
        self.trained.save(self.model_dir)
        self.train_df = train_df

    def setup(self) -> None:
        from spark_iforest_spark import IForestModel

        s = self.size
        self.ds = self._draw().rows(s["n"], s["n"] + s["pool"])
        self.df = self._materialize(self.ds, self.data_dir)
        self.model = IForestModel.load(self.model_dir).setThreshold(self.trained.getThreshold())

    def prepare(self) -> list[str]:
        """Batch scores of the request pool: every response must match them
        bit for bit."""
        pdf = self.model.transform(self.df).select("id", "anomalyScore").toPandas()
        self.batch = np.empty(self.ds.n)
        self.batch[pdf["id"].to_numpy()] = pdf["anomalyScore"].to_numpy()
        if not checks.trees_equal(self.model.trees, self.trained.trees):
            return ["loaded trees != saved trees"]
        return []

    def request_rows(self, k: int) -> list[tuple]:
        rng = np.random.default_rng([self.seed, k])
        ids = rng.choice(self.ds.n, size=REQUEST_ROWS, replace=False)
        return [(int(i), self.ds.features[i].tolist()) for i in ids]

    def op(self) -> OpResult:
        rows = self.request_rows(self.requests)
        self.requests += 1
        t0 = time.perf_counter()
        execute_s, got = request(self.spark, self.model, rows)
        dt = time.perf_counter() - t0
        failures = []
        if len(got) != len(rows):
            failures.append(f"response has {len(got)} rows for {len(rows)}")
        thr = self.model.getThreshold()
        for r in got:
            if r["anomalyScore"] != self.batch[r["id"]]:
                failures.append(f"id {r['id']}: response score != batch score")
                break
            if r["prediction"] != float(r["anomalyScore"] > thr):
                failures.append(f"id {r['id']}: prediction != (score > threshold)")
                break
        return OpResult(len(rows), dt, failures, {"execute_s": execute_s})

    def verify(self) -> tuple[float, list[str]]:
        ids = walk_ids(self.ds.labels, np.arange(self.ds.n))
        failures = self._walk_check(self.model.trees, ids, self.batch[ids], float(self.size["psi"]))
        return checks.auc(self.batch, self.ds.labels), failures

    def probe_target(self) -> ProbeTarget:
        return ProbeTarget(
            self.model, self.train_df, self.ds.features, float(self.size["psi"]),
            self.trained.getThreshold(),
        )


WORKLOADS = {w.name: w for w in (GlobalFitScore, OnlineScore)}
