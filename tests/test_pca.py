"""Golden + property tests for the distributed PCA operator.

Rows-only registry entry ``q_bw_pca`` — no DuckDB oracle is possible
(driver-side eigendecomposition), so correctness is pinned here:
distributed moments vs a single-node numpy PCA on the identical
vectors, orthonormality, spectrum ordering and the deterministic sign
contract.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark_mllib_twitter_spark.operators.pca import fit_pca, pca_spectrum
from pyspark_mllib_twitter_spark.sources import read_table

K = 8


@pytest.fixture(scope="module")
def emb(spark, sf_smoke):
    return read_table(spark, sf_smoke, "embeddings")


@pytest.fixture(scope="module")
def fitted(emb):
    return fit_pca(emb)


@pytest.fixture(scope="module")
def local_x(emb):
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    return np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])


def test_moments_match_single_node(fitted, local_x):
    """Distributed (mean, eigvals) == numpy PCA on the same vectors."""
    mean, comps, eigvals, n, total_var = fitted
    assert n == local_x.shape[0]
    np.testing.assert_allclose(mean, local_x.mean(axis=0), rtol=0, atol=1e-9)
    cov = np.cov(local_x, rowvar=False, bias=True)
    ref_vals = np.sort(np.linalg.eigvalsh(cov))[::-1][:K]
    np.testing.assert_allclose(eigvals, ref_vals, rtol=1e-8, atol=1e-10)
    assert abs(total_var - float(np.trace(cov))) < 1e-8


def test_components_orthonormal_and_ordered(fitted):
    mean, comps, eigvals, n, total_var = fitted
    np.testing.assert_allclose(comps @ comps.T, np.eye(K), atol=1e-8)
    assert all(eigvals[i] >= eigvals[i + 1] - 1e-12 for i in range(K - 1))
    # Sign contract: the largest-|loading| coordinate of each axis is
    # positive — reruns and repartitionings agree on direction.
    for row in comps:
        assert row[int(np.argmax(np.abs(row)))] > 0


def test_spectrum_readout_consistent(emb, fitted):
    mean, comps, eigvals, n, total_var = fitted
    rows = pca_spectrum(emb).collect()
    assert [r["component"] for r in rows] == list(range(1, K + 1))
    evr = [r["explained_var_ratio"] for r in rows]
    np.testing.assert_allclose(
        evr, [round(float(v / total_var), 6) for v in eigvals], atol=1e-9
    )
    cums = [r["cum_explained_var"] for r in rows]
    assert all(cums[i] <= cums[i + 1] + 1e-9 for i in range(len(cums) - 1))
    assert all(0 <= r["top_dim"] < comps.shape[1] for r in rows)


def test_partitioning_invariance(emb, fitted):
    """Moments are partition-order independent up to float tolerance."""
    mean, comps, eigvals, n, total_var = fitted
    mean2, comps2, eigvals2, n2, tv2 = fit_pca(emb.repartition(7, "vec_id"))
    assert n2 == n
    np.testing.assert_allclose(mean2, mean, atol=1e-9)
    np.testing.assert_allclose(eigvals2, eigvals, rtol=1e-7, atol=1e-9)
    np.testing.assert_allclose(np.abs(comps2), np.abs(comps), atol=1e-5)
