"""t-digest: mergeable streaming quantile sketch (Dunning & Ertl,
"Computing extremely accurate quantiles using t-digests", 2019;
public arXiv/Software X paper and the well-known open algorithm).

Completes the engine's sketch family — KMV (distinct), HLL (distinct),
CMS (frequency), Bloom (membership), Space-Saving (top-k), mergeable
equi-depth bins (coarse quantiles with bounds) — with THE standard
mergeable quantile sketch: rank error is bounded and tightest at the
tails (q -> 0 or 1), which is exactly where q_yo's fixed-width bins are
weakest.

Distributed shape (the two-level sketch pattern the engine uses for
every mergeable summary):

1. **Per-partition build** — Arrow-batched ``mapInPandas``: each input
   partition sorts its values once (NumPy) and greedily clusters them
   into centroids under the k1 scale-function size limit. Output is
   ``(mean, weight)`` centroid rows: ~O(delta) per partition, never the
   data.
2. **Global merge** — the centroid stream (bounded: partitions x
   delta rows) gathers onto ONE reducer via ``applyInPandas`` on a
   constant key and re-clusters sorted-by-mean. Bounded input on a
   single task is the sanctioned pattern (quantizer-fit contract) —
   this is metadata-sized, not data-sized.

Determinism: builds sort by value, the merge sorts by (mean, weight),
and the scale-function thresholds are pure float functions of exact
partial sums — so a fixed input partitioning yields a bit-identical
digest, which the tests pin.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Compression parameter: max centroids ~ 2*delta, rank error ~ 1/delta
#: at the median and O(1/delta^2) at the tails.
DEFAULT_DELTA = 100

CENTROID_SCHEMA = "mean double, weight double"


def _k1(q: float, delta: int) -> float:
    """Dunning's k1 scale function: k(q) = (delta/2pi) * asin(2q - 1)."""
    return (delta / (2.0 * math.pi)) * math.asin(max(-1.0, min(1.0, 2.0 * q - 1.0)))


def _cluster(values: np.ndarray, weights: np.ndarray, delta: int):
    """Greedy single-pass clustering of (sorted-by-value) weighted points
    under the k1 size limit. Returns (means, weights) arrays."""
    total = float(weights.sum())
    means: list[float] = []
    wts: list[float] = []
    if total <= 0:
        return np.array(means), np.array(wts)
    # Running cluster state.
    c_sum = values[0] * weights[0]
    c_w = float(weights[0])
    w_so_far = 0.0  # weight fully emitted before current cluster
    k_lo = _k1(0.0, delta)
    for i in range(1, len(values)):
        w = float(weights[i])
        q_hi = (w_so_far + c_w + w) / total
        if _k1(q_hi, delta) - k_lo <= 1.0:
            c_sum += values[i] * w
            c_w += w
        else:
            means.append(c_sum / c_w)
            wts.append(c_w)
            w_so_far += c_w
            k_lo = _k1(w_so_far / total, delta)
            c_sum = values[i] * w
            c_w = w
    means.append(c_sum / c_w)
    wts.append(c_w)
    return np.array(means), np.array(wts)


def tdigest_build(df: DataFrame, col: str) -> DataFrame:
    """Level 1: per-partition t-digest centroids via ``mapInPandas``.

    Each Arrow batch stream (one task = one partition) is sorted once
    and clustered; output is a centroid table ``(mean, weight)`` of
    ~O(``DEFAULT_DELTA``) rows per partition.
    """

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vals = []
        for pdf in batches:
            v = pdf[col].to_numpy(dtype=np.float64)
            vals.append(v[~np.isnan(v)])
        if not vals:
            return
        v = np.concatenate(vals)
        if v.size == 0:
            return
        v.sort(kind="stable")
        means, wts = _cluster(v, np.ones_like(v), DEFAULT_DELTA)
        yield pd.DataFrame({"mean": means, "weight": wts})

    return df.select(F.col(col).cast("double").alias(col)).mapInPandas(
        build, CENTROID_SCHEMA
    )


def tdigest_merge(centroids: DataFrame) -> DataFrame:
    """Level 2: merge a centroid stream into one digest.

    The input is sketch-sized (partitions x delta), so the constant-key
    ``applyInPandas`` single reducer is bounded — the quantizer-fit
    contract, not a data-sized collect.
    """

    def merge(_key, pdf: pd.DataFrame) -> pd.DataFrame:
        p = pdf.sort_values(["mean", "weight"], kind="stable")
        means, wts = _cluster(
            p["mean"].to_numpy(np.float64),
            p["weight"].to_numpy(np.float64),
            DEFAULT_DELTA,
        )
        return pd.DataFrame({"mean": means, "weight": wts})

    return (
        centroids.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(merge, CENTROID_SCHEMA)
    )


def tdigest_quantiles(digest_pdf: pd.DataFrame, qs: list[float]) -> list[float]:
    """Query quantiles from a collected digest (centroids sorted by
    mean) with the standard mid-point interpolation."""
    p = digest_pdf.sort_values("mean", kind="stable")
    means = p["mean"].to_numpy(np.float64)
    wts = p["weight"].to_numpy(np.float64)
    if len(means) == 0:
        # Empty digest (e.g. a streaming key whose every value so far was
        # NaN): no quantile exists — return NaN per query rather than
        # index into an empty cumulative array.
        return [float("nan")] * len(qs)
    total = wts.sum()
    # Cumulative weight at centroid midpoints.
    cum = np.cumsum(wts) - wts / 2.0
    out = []
    for q in qs:
        target = q * total
        if target <= cum[0]:
            out.append(float(means[0]))
            continue
        if target >= cum[-1]:
            out.append(float(means[-1]))
            continue
        j = int(np.searchsorted(cum, target) - 1)
        frac = (target - cum[j]) / (cum[j + 1] - cum[j])
        out.append(float(means[j] + frac * (means[j + 1] - means[j])))
    return out
