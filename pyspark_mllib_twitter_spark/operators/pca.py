"""Distributed PCA over an embedding column.

Classic two-stage shape (the same layout every distributed ML system
uses — Spark MLlib's RowMatrix PCA computes the identical Gramian;
public algorithm, any linear-algebra text):

1. **Distributed one-pass moments.** One Arrow-batched ``mapInPandas``
   pass emits a PARTIAL (n, sum-vector, Gram matrix X'X) per record
   batch — a float64 matmul per batch, never per-row Python. Partials
   are tiny (1 + d + d*d doubles each, one row per Arrow batch), so
   collecting them driver-side is bounded by batch count, not corpus
   size — the same bounded-driver-state argument as the IVF/PQ
   quantizer fit (operators/quantizer.py).
2. **Driver-side eigendecomposition.** The d x d covariance
   (d = embedding dim, 64 here) is assembled exactly once and
   ``numpy.linalg.eigh``-decomposed on the driver — an O(d^3) scalar
   problem that would be absurd to distribute. Eigenvector SIGN is
   fixed deterministically (largest-|loading| coordinate made
   positive) so downstream projections are reproducible across runs
   and partitionings.

At 100 TB: stage 1 is one scan with combinable partials; stage 2 is
d x d driver work. Nothing driver-side grows with data.

Reference scope: the reference (COMP5349_2.py:1-211) has no PCA;
north-star embedding-analytics mandate.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..sources import local_frame

_PARTIAL_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("s", ArrayType(DoubleType())),
        StructField("g", ArrayType(DoubleType())),
    ]
)


#: Principal components kept by every fit.
N_COMPONENTS = 8


def _moment_partials(df: DataFrame) -> DataFrame:
    """Per-Arrow-batch (count, sum, Gram) partials — stage-1 map side."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [x.shape[0]],
                    "s": [x.sum(axis=0).tolist()],
                    "g": [(x.T @ x).ravel().tolist()],
                }
            )

    return df.select("embedding").mapInPandas(run, _PARTIAL_SCHEMA)


def fit_pca(df: DataFrame):
    """Fit PCA on the ``embedding`` column; returns ``(mean, components,
    eigvals, n, total_var)`` with ``components`` shaped
    (``N_COMPONENTS``, d), rows = principal axes sorted by
    descending eigenvalue, sign-fixed deterministically; ``total_var``
    is the covariance trace (denominator of explained-variance)."""
    rows = _moment_partials(df).collect()
    if not rows:
        raise ValueError("fit_pca: empty input")
    n = sum(r["n"] for r in rows)
    d = len(rows[0]["s"])
    s = np.zeros(d)
    g = np.zeros((d, d))
    for r in rows:
        s += np.asarray(r["s"])
        g += np.asarray(r["g"]).reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    # eigh returns ascending eigenvalues of the symmetric covariance.
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:N_COMPONENTS]
    eigvals = np.maximum(vals[order], 0.0)
    comps = vecs[:, order].T.copy()
    # Deterministic sign: make the largest-|loading| coordinate of each
    # component positive (ties broken by lowest index via argmax).
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total_var = float(np.maximum(vals, 0.0).sum())
    return mean, comps, eigvals, int(n), total_var


def pca_spectrum(df: DataFrame) -> DataFrame:
    """Component spectrum readout: one row per principal component with
    eigenvalue, explained-variance ratio, cumulative EVR, and the
    dominant input dimension — the scree-plot table."""
    spark = df.sparkSession
    mean, comps, eigvals, n, total_var = fit_pca(df)
    cum = 0.0
    rows = []
    for i, ev in enumerate(eigvals):
        evr = float(ev / total_var) if total_var > 0 else 0.0
        cum += evr
        j = int(np.argmax(np.abs(comps[i])))
        rows.append(
            (
                i + 1,
                int(n),
                round(float(ev), 6),
                round(evr, 6),
                round(cum, 6),
                j,
                round(float(comps[i, j]), 4),
            )
        )
    return local_frame(
        spark,
        rows,
        "component bigint, n_vectors bigint, eigenvalue double, "
        "explained_var_ratio double, cum_explained_var double, "
        "top_dim bigint, top_loading double",
    ).orderBy("component")
