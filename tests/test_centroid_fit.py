"""Independent planted-truth test for the IVF coarse-quantizer fit: the
generated IVF/SemDeDup oracles refit centroids with the same numpy path
the engine uses, so a fit bug would be mirrored on both sides — this test
checks the fit against ground truth the fit code never sees (the planted
generating means)."""

from __future__ import annotations

import numpy as np
import pytest

from iceberg_quickstart_iac_spark.operators.similarity import fit_centroids

TRUE_CENTERS = np.array([
    [5.0] * 8,
    [-5.0] * 8,
    [0.0] * 4 + [10.0] * 4,
])


def _planted(noise: float = 0.05, per_cluster: int = 50) -> np.ndarray:
    rng = np.random.default_rng(7)
    pts = np.vstack([
        c + rng.normal(0, noise, size=(per_cluster, 8)) for c in TRUE_CENTERS
    ]).astype(np.float64)
    return pts[rng.permutation(len(pts))]


@pytest.mark.parametrize("seed", range(10))
def test_recovers_planted_centers_any_seed(seed):
    """k-means++ D² seeding must split well-separated blobs regardless of
    seed (uniform init failed ~half of these: both inits in one blob)."""
    mat = _planted()
    cent = fit_centroids(mat, n_cells=3, max_iter=20, seed=seed)
    for t in TRUE_CENTERS:
        assert np.linalg.norm(cent - t, axis=1).min() < 0.1


def test_recovered_centroid_is_cluster_mean():
    """Beyond 'near the planted center': each recovered centroid must equal
    the MEAN of the sample points assigned to it (Lloyd's fixed point),
    computed here independently of the implementation."""
    mat = _planted()
    cent = fit_centroids(mat, n_cells=3, max_iter=50, seed=42)
    d2 = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
    assign = d2.argmin(1)
    for c in range(3):
        np.testing.assert_allclose(cent[c], mat[assign == c].mean(0), atol=1e-9)


def test_balanced_cells_on_balanced_blobs():
    mat = _planted(per_cluster=60)
    cent = fit_centroids(mat, n_cells=3, max_iter=20, seed=0)
    d2 = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
    counts = np.bincount(d2.argmin(1), minlength=3)
    assert counts.tolist() == [60, 60, 60]


def test_determinism_and_clamp():
    mat = _planted()
    a = fit_centroids(mat, n_cells=3, max_iter=20, seed=42)
    b = fit_centroids(mat, n_cells=3, max_iter=20, seed=42)
    np.testing.assert_array_equal(a, b)
    # n_cells clamped to sample size; duplicate points beyond distinct
    # values fall back to random picks without dividing by zero
    tiny = np.zeros((4, 3))
    tiny[2:] = 1.0
    cent = fit_centroids(tiny, n_cells=10, max_iter=5, seed=1)
    assert cent.shape == (4, 3)
