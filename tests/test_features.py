"""kNN feature family parity tests.

Oracle = literal numpy re-derivation of the reference loops
(EigenvaluesFilter / NormalFilter / CovarianceFeaturesFilter /
ApproximateCoplanarFilter / EstimateRankFilter / LOFFilter /
ReciprocityFilter), brute-force neighbor search, float32 demeaning like
EigenUtils::computeCovariance — the dual-implementation pattern.
"""

from __future__ import annotations

import numpy as np
import pytest

from pdal_spark import geo, synth
from pdal_spark.operators import features

N = 200
K = 8


def _coords():
    ids = np.arange(N)
    xs, ys = geo.geocode_lcg_np(ids)
    return xs, ys, np.zeros(N)


def _knn_ids(xs, ys, k):
    """k nearest including self, ties by candidate id (engine rank rule)."""
    out = []
    for i in range(N):
        d2 = (xs - xs[i]) ** 2 + (ys - ys[i]) ** 2
        order = np.lexsort((np.arange(N), d2))
        out.append(order[:k])
    return out


def _cov(xs, ys, zs, ids):
    pts = np.stack([xs[ids], ys[ids], zs[ids]])
    cent = pts.mean(axis=1, keepdims=True)
    A = (pts - cent).astype(np.float32).astype(np.float64)
    return A @ A.T / (len(ids) - 1)


@pytest.fixture(scope="module")
def pts_df(spark):
    return synth.synth_points(spark, N, num_partitions=8)


@pytest.fixture(scope="module")
def eig_oracle():
    xs, ys, zs = _coords()
    nb = _knn_ids(xs, ys, K)
    w = np.zeros((N, 3))
    v = np.zeros((N, 3, 3))
    for i in range(N):
        ww, vv = np.linalg.eigh(_cov(xs, ys, zs, nb[i]))
        w[i], v[i] = ww, vv
    return w, v


def test_eigenvalues(pts_df, eig_oracle):
    w, _ = eig_oracle
    out = (
        features.eigenvalues(pts_df, k=K)
        .toPandas().sort_values("page_id").reset_index(drop=True)
    )
    np.testing.assert_allclose(out["eigenvalue0"], w[:, 0], atol=1e-9)
    np.testing.assert_allclose(out["eigenvalue1"], w[:, 1], atol=1e-9)
    np.testing.assert_allclose(out["eigenvalue2"], w[:, 2], atol=1e-9)


def test_normal_and_curvature(pts_df, eig_oracle):
    w, v = eig_oracle
    out = (
        features.normal(pts_df, k=K)
        .toPandas().sort_values("page_id").reset_index(drop=True)
    )
    nrm = v[:, :, 0].copy()  # eigenvector of smallest eigenvalue
    flip = nrm[:, 2] < 0
    nrm[flip] *= -1.0
    s = w.sum(axis=1)
    curv = np.where(s != 0, np.abs(w[:, 0] / s), 0.0)
    np.testing.assert_allclose(out["normal_x"], nrm[:, 0], atol=1e-9)
    np.testing.assert_allclose(out["normal_y"], nrm[:, 1], atol=1e-9)
    np.testing.assert_allclose(out["normal_z"], nrm[:, 2], atol=1e-9)
    np.testing.assert_allclose(out["curvature"], curv, atol=1e-9)


def test_covariance_features(pts_df):
    xs, ys, zs = _coords()
    nb = _knn_ids(xs, ys, 10 + 1)
    out = (
        features.covariance_features(pts_df, k=10)
        .toPandas().sort_values("page_id").reset_index(drop=True)
    )
    for i in range(N):
        w, v = np.linalg.eigh(_cov(xs, ys, zs, nb[i]))
        lam = np.maximum(w[::-1], 0.0)  # desc
        lin = (np.sqrt(lam[0]) - np.sqrt(lam[1])) / np.sqrt(lam[0])
        pla = (np.sqrt(lam[1]) - np.sqrt(lam[2])) / np.sqrt(lam[0])
        sca = np.sqrt(lam[2]) / np.sqrt(lam[0])
        u = (
            lam[0] * np.abs(v[:, 2]) + lam[1] * np.abs(v[:, 1])
            + lam[2] * np.abs(v[:, 0])
        )
        vert = u[2] / np.linalg.norm(u)
        assert out.loc[i, "linearity"] == pytest.approx(lin, abs=1e-9)
        assert out.loc[i, "planarity"] == pytest.approx(pla, abs=1e-9)
        assert out.loc[i, "scattering"] == pytest.approx(sca, abs=1e-9)
        assert out.loc[i, "verticality"] == pytest.approx(vert, abs=1e-9)


def test_approximate_coplanar(pts_df, eig_oracle):
    w, _ = eig_oracle
    out = (
        features.approximate_coplanar(pts_df, k=K)
        .toPandas().sort_values("page_id").reset_index(drop=True)
    )
    exp = ((w[:, 1] > 25.0 * w[:, 0]) & (6.0 * w[:, 1] > w[:, 2])).astype(int)
    np.testing.assert_array_equal(out["coplanar"].to_numpy(), exp)


def test_estimate_rank(pts_df, eig_oracle):
    w, _ = eig_oracle
    out = (
        features.estimate_rank(pts_df, k=K, thresh=0.01)
        .toPandas().sort_values("page_id").reset_index(drop=True)
    )
    sv = np.abs(w)
    smax = sv.max(axis=1)
    thr = np.float32(0.01) * smax
    exp = (sv > thr[:, None]).sum(axis=1)
    exp[smax == 0] = 0
    np.testing.assert_array_equal(out["rank"].to_numpy(), exp)


def test_lof(pts_df):
    xs, ys, _ = _coords()
    minpts = 10
    kk = minpts + 1
    nb = _knn_ids(xs, ys, kk)
    d = lambda i, j: float(np.hypot(xs[i] - xs[j], ys[i] - ys[j]))
    kdist = np.array([d(i, nb[i][-1]) for i in range(N)])
    lrd = np.zeros(N)
    for i in range(N):
        reach = [max(kdist[j], d(i, j)) for j in nb[i]]
        lrd[i] = 1.0 / np.mean(reach)
    lofv = np.array([np.mean([lrd[j] / lrd[i] for j in nb[i]]) for i in range(N)])
    out = (
        features.lof(pts_df, minpts=minpts)
        .toPandas().sort_values("page_id").reset_index(drop=True)
    )
    np.testing.assert_allclose(out["kdistance"], kdist, atol=1e-9)
    np.testing.assert_allclose(out["lrd"], lrd, atol=1e-9)
    np.testing.assert_allclose(out["lof"], lofv, atol=1e-9)


def test_reciprocity(pts_df):
    xs, ys, _ = _coords()
    nb = _knn_ids(xs, ys, K + 1)
    sets = [set(n) for n in nb]
    exp = np.array([
        100.0 * sum(1 for j in nb[i] if j != i and i not in sets[j]) / K
        for i in range(N)
    ])
    out = (
        features.reciprocity(pts_df, k=K)
        .toPandas().sort_values("page_id").reset_index(drop=True)
    )
    np.testing.assert_allclose(out["reciprocity"], exp, atol=1e-9)


def test_bucketed_matches_exact(pts_df):
    """Cell-bucketed kNN path produces the same features as brute force."""
    a = (
        features.eigenvalues(pts_df, k=K, cell_size=100.0)
        .toPandas().sort_values("page_id").reset_index(drop=True)
    )
    b = (
        features.eigenvalues(pts_df, k=K)
        .toPandas().sort_values("page_id").reset_index(drop=True)
    )
    for c in ("eigenvalue0", "eigenvalue1", "eigenvalue2"):
        np.testing.assert_allclose(a[c], b[c], atol=1e-12)


# --- planefit / miniball ----------------------------------------------------


def _z_vals():
    # deterministic non-planar z (identical in Spark column math)
    return ((np.arange(N) * 2654435761) % 1000) / 10.0


def _pts_z(pts_df):
    from pyspark.sql import functions as F

    return pts_df.withColumn(
        "z", ((F.col("page_id") * 2654435761) % 1000) / 10.0
    )


def _knn_excl_self(xs, ys, k):
    """k nearest EXCLUDING self (2D — the repo's planar kNN convention),
    ties by candidate id."""
    out = []
    for i in range(N):
        d2 = (xs - xs[i]) ** 2 + (ys - ys[i]) ** 2
        order = np.lexsort((np.arange(N), d2))
        out.append(order[order != i][:k])
    return out


def test_plane_fit(pts_df):
    """Oracle: literal PlaneFitFilter.cpp loop — neighbors excl. self,
    float32-demeaned covariance /(n-1), normal = smallest-eigenvalue
    eigenvector, d/(d + sum|d_j|/knn)."""
    xs, ys, _ = _coords()
    zs = _z_vals()
    nb = _knn_excl_self(xs, ys, K)
    exp = np.zeros(N)
    for i in range(N):
        ids = nb[i]
        pts = np.stack([xs[ids], ys[ids], zs[ids]])
        cent = pts.mean(1)
        A = (pts - cent[:, None]).astype(np.float32).astype(np.float64)
        B = A @ A.T / (len(ids) - 1)
        _, v = np.linalg.eigh(B)
        nrm = v[:, 0]
        d = abs(nrm @ (np.array([xs[i], ys[i], zs[i]]) - cent))
        dbar = sum(abs(nrm @ (pts[:, j] - cent)) for j in range(len(ids))) / K
        exp[i] = d / (d + dbar)
    out = (
        features.plane_fit(_pts_z(pts_df), knn=K, z="z")
        .toPandas().sort_values("page_id").reset_index(drop=True)
    )
    np.testing.assert_allclose(out["plane_fit"], exp, atol=1e-7)


def _exhaustive_seb(pts):
    """Independent smallest-enclosing-ball oracle: try every support
    subset of size 1..4 (distinct linear-algebra derivation from the
    engine's Welzl cross-product formulas), keep the smallest feasible."""
    from itertools import combinations

    n = len(pts)
    best = (None, np.inf)

    def try_ball(c, r):
        nonlocal best
        if r < best[1] and all(
            np.linalg.norm(p - c) <= r + 1e-7 * (1 + r) for p in pts
        ):
            best = (c, r)

    for i in range(n):
        try_ball(pts[i], 0.0)
    for i, j in combinations(range(n), 2):
        c = (pts[i] + pts[j]) / 2
        try_ball(c, float(np.linalg.norm(pts[i] - c)))
    for i, j, k2 in combinations(range(n), 3):
        p0, a, b = pts[i], pts[j] - pts[i], pts[k2] - pts[i]
        M = np.array([[2 * a @ a, 2 * a @ b], [2 * a @ b, 2 * b @ b]])
        rhs = np.array([a @ a, b @ b])
        if abs(np.linalg.det(M)) < 1e-12:
            continue
        s, t = np.linalg.solve(M, rhs)
        c = p0 + s * a + t * b
        try_ball(c, float(np.linalg.norm(p0 - c)))
    for sub in combinations(range(n), 4):
        P = pts[list(sub)]
        A = 2 * (P[1:] - P[0])
        if abs(np.linalg.det(A)) < 1e-12:
            continue
        rhs = np.array([p @ p - P[0] @ P[0] for p in P[1:]])
        c = np.linalg.solve(A, rhs)
        try_ball(c, float(np.linalg.norm(P[0] - c)))
    return best


def test_miniball(pts_df):
    """Oracle: brute kNN + exhaustive-subset smallest enclosing ball,
    then MiniballFilter.cpp:148 d/(d + 2r/sqrt(3))."""
    xs, ys, _ = _coords()
    zs = _z_vals()
    nb = _knn_excl_self(xs, ys, K)
    exp = np.zeros(N)
    for i in range(N):
        ids = nb[i]
        pts = np.column_stack([xs[ids], ys[ids], zs[ids]])
        c, r = _exhaustive_seb(pts)
        d = float(np.linalg.norm(np.array([xs[i], ys[i], zs[i]]) - c))
        exp[i] = d / (d + 2 * r / np.sqrt(3.0))
    out = (
        features.miniball(_pts_z(pts_df), knn=K, z="z")
        .toPandas().sort_values("page_id").reset_index(drop=True)
    )
    np.testing.assert_allclose(out["miniball"], exp, atol=1e-7)


def test_planefit_miniball_bucketed_match_exact(pts_df):
    df = _pts_z(pts_df)
    for fn, col in ((features.plane_fit, "plane_fit"),
                    (features.miniball, "miniball")):
        ex = fn(df, knn=K, z="z").toPandas() \
            .sort_values("page_id").reset_index(drop=True)
        bu = fn(df, knn=K, z="z", cell_size=80.0, validate=True).toPandas() \
            .sort_values("page_id").reset_index(drop=True)
        np.testing.assert_allclose(bu[col], ex[col], atol=1e-9)
