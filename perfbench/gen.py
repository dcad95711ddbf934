"""Seeded input generator for the iForest benchmark.

Every input is a pure function of ``(workload spec, seed)``: Gaussian-mixture
inliers plus uniform outliers, with the labels kept here and never handed to
the package. Every row also gets a Zipf-distributed segment key; each
segment is the same mixture shifted by a small per-segment offset.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass
class Dataset:
    """Generated rows; row ``i`` is written with id ``i``. ``labels`` is 1
    for an outlier."""

    features: np.ndarray  # (n, d) float64
    labels: np.ndarray  # (n,) int8
    keys: np.ndarray  # (n,) int32 segment key

    @property
    def n(self) -> int:
        return len(self.labels)

    def rows(self, lo: int, hi: int) -> "Dataset":
        """Rows ``lo:hi`` as a dataset of their own; their ids restart at 0."""
        return Dataset(self.features[lo:hi], self.labels[lo:hi], self.keys[lo:hi])


OUTLIER_SHARE = 0.01
COMPONENTS = 4
ZIPF_S = 1.1


def _mixture(rng: np.random.Generator, n: int, d: int) -> np.ndarray:
    centers = rng.uniform(-4.0, 4.0, size=(COMPONENTS, d))
    scales = rng.uniform(0.5, 1.5, size=COMPONENTS)
    comp = rng.integers(0, COMPONENTS, size=n)
    return centers[comp] + rng.standard_normal((n, d)) * scales[comp, None]


def generate(seed: int, n: int, d: int, segments: int) -> Dataset:
    """n rows of dimension d, each with one of ``segments`` Zipf-skewed keys."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, n, d, segments]))
    n_out = max(1, int(round(OUTLIER_SHARE * n)))
    x = _mixture(rng, n, d)
    labels = np.zeros(n, dtype=np.int8)
    out_rows = rng.choice(n, size=n_out, replace=False)
    labels[out_rows] = 1
    # outliers fill a box wider than every mixture component
    x[out_rows] = rng.uniform(-12.0, 12.0, size=(n_out, d))
    ranks = np.arange(1, segments + 1, dtype=np.float64)
    p = ranks**-ZIPF_S
    keys = rng.choice(segments, size=n, p=p / p.sum()).astype(np.int32)
    # segments overlap, so one global forest still separates outliers
    shift = rng.uniform(-2.0, 2.0, size=(segments, d))
    x += shift[keys]
    return Dataset(features=x, labels=labels, keys=keys)


ROWS_PER_FILE = 1 << 13


def write_parquet(ds: Dataset, path: str) -> None:
    """A parquet directory of ``ROWS_PER_FILE``-row part files with ``id``
    long, ``features`` array<double> and ``segment`` int. Labels stay
    behind."""
    n, d = ds.features.shape
    os.makedirs(path, exist_ok=True)
    for part, lo in enumerate(range(0, n, ROWS_PER_FILE)):
        hi = min(lo + ROWS_PER_FILE, n)
        offsets = pa.array(np.arange(0, (hi - lo + 1) * d, d, dtype=np.int32))
        values = pa.array(ds.features[lo:hi].reshape(-1))
        cols = {
            "id": pa.array(np.arange(lo, hi, dtype=np.int64)),
            "features": pa.ListArray.from_arrays(offsets, values),
            "segment": pa.array(ds.keys[lo:hi]),
        }
        pq.write_table(pa.table(cols), os.path.join(path, f"part-{part:05d}.parquet"))
