"""kNN feature family: eigenvalues / normal / covariancefeatures /
approximatecoplanar / estimaterank / lof / reciprocity.

All share one shape (the reference builds a KD-tree and loops points;
we run the cell-bucketed kNN join once, then aggregate):

  1. kNN pairs via operators.knn.knn_join (neighbor lists INCLUDE the
     query point itself — kdi.neighbors() returns it at distance 0,
     EigenvaluesFilter.cpp:86, LOFFilter.cpp:81-87). Every operator's
     cell_size/validate go straight to knn_join: the default
     cell_size=None is its exact broadcast plan, a cell_size the grid.
  2. neighborhood covariance by relational aggregation — demeaned
     coordinates pass through FLOAT32 exactly like the reference
     (EigenUtils.cpp:185-212 static_cast<float>), divisor n-1.
  3. batched 3x3 eigen-decomposition in one Arrow kernel
     (np.linalg.eigh ≡ Eigen::SelfAdjointEigenSolver: ascending
     eigenvalues) — thousands of matrices per batch, no per-row Python.

Semantics per filter:
  * eigenvalues (EigenvaluesFilter.cpp:66-100): e0<=e1<=e2, optional
    normalize by sum.
  * normal (NormalFilter.cpp:118-160): normal = eigenvector of smallest
    eigenvalue; viewpoint orientation else always_up (flip if nz<0);
    curvature = |e0/(e0+e1+e2)| or 0.
  * approximatecoplanar (ApproximateCoplanarFilter.cpp:78-101):
    coplanar iff e1 > t1*e0 and t2*e1 > e2.
  * covariancefeatures "Dimensionality" (CovarianceFeaturesFilter.cpp:
    107-156, neighbors k+1): linearity/planarity/scattering over
    sqrt-eigenvalues (desc), verticality from |eigenvector| mix.
  * estimaterank (EstimateRankFilter.cpp:74-90; EigenUtils computeRank):
    SVD rank of covariance with Eigen's relative threshold.
  * lof (LOFFilter.cpp:61-133): three passes (k-distance, lrd, lof) over
    minpts+1 lists (self included) — pure relational here.
  * reciprocity (ReciprocityFilter.cpp:100-131): % of k neighbors that
    don't list the query point among their own k+1.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdal_spark.operators.knn import knn_join


def _self_knn(
    df: DataFrame, k: int, cell_size: float | None, id_col: str,
    x: str, y: str, validate: bool, exclude_self: bool = False,
) -> DataFrame:
    """(_f_src, _f_cand, dist, rank): the k nearest points per point,
    self included (rank 1, dist 0) unless exclude_self. cell_size and
    validate: as knn_join (None = the exact broadcast plan)."""
    pts = df.select(F.col(id_col).alias("_f_src"), F.col(x), F.col(y))
    cand = df.select(F.col(id_col).alias("_f_cand"), F.col(x), F.col(y))
    return knn_join(pts, cand, k, cell_size, src_id="_f_src", cand_id="_f_cand",
                    x=x, y=y, exclude_self=exclude_self, validate=validate)


def _neighbor_cov(
    df: DataFrame, k: int, cell_size: float | None, id_col: str,
    x: str, y: str, z: str | None, validate: bool,
) -> DataFrame:
    """(id, n, cxx, cxy, cxz, cyy, cyz, czz): per-point neighborhood
    covariance (self included in the k, float32 demeaning, /(n-1))."""
    knn = _self_knn(df, k, cell_size, id_col, x, y, validate)
    zc = F.col(z) if z else F.lit(0.0)
    coords = df.select(
        F.col(id_col).alias("_f_cand"),
        F.col(x).alias("_px"), F.col(y).alias("_py"), zc.alias("_pz"),
    )
    nb = knn.join(coords, "_f_cand")
    cent = nb.groupBy("_f_src").agg(
        F.avg("_px").alias("_mx"), F.avg("_py").alias("_my"),
        F.avg("_pz").alias("_mz"), F.count("*").alias("n"),
    )
    j = nb.join(cent, "_f_src")
    # float32 round-trip like EigenUtils.cpp:196-206
    ax = (F.col("_px") - F.col("_mx")).cast("float").cast("double")
    ay = (F.col("_py") - F.col("_my")).cast("float").cast("double")
    az = (F.col("_pz") - F.col("_mz")).cast("float").cast("double")
    d = F.col("n") - 1
    return (
        j.groupBy("_f_src", "n")
        .agg(
            (F.sum(ax * ax) / F.first(d)).alias("cxx"),
            (F.sum(ax * ay) / F.first(d)).alias("cxy"),
            (F.sum(ax * az) / F.first(d)).alias("cxz"),
            (F.sum(ay * ay) / F.first(d)).alias("cyy"),
            (F.sum(ay * az) / F.first(d)).alias("cyz"),
            (F.sum(az * az) / F.first(d)).alias("czz"),
        )
        .withColumnRenamed("_f_src", "_f_id")
    )


_EIG_OUT = (
    "_f_id long, e0 double, e1 double, e2 double, "
    "v0x double, v0y double, v0z double, "
    "v1x double, v1y double, v1z double, "
    "v2x double, v2y double, v2z double"
)


def _eigh_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        m = len(pdf)
        if not m:
            continue
        B = np.zeros((m, 3, 3))
        B[:, 0, 0] = pdf["cxx"]
        B[:, 0, 1] = B[:, 1, 0] = pdf["cxy"]
        B[:, 0, 2] = B[:, 2, 0] = pdf["cxz"]
        B[:, 1, 1] = pdf["cyy"]
        B[:, 1, 2] = B[:, 2, 1] = pdf["cyz"]
        B[:, 2, 2] = pdf["czz"]
        w, v = np.linalg.eigh(B)  # ascending eigenvalues, like Eigen
        yield pd.DataFrame({
            "_f_id": pdf["_f_id"].to_numpy(np.int64),
            "e0": w[:, 0], "e1": w[:, 1], "e2": w[:, 2],
            "v0x": v[:, 0, 0], "v0y": v[:, 1, 0], "v0z": v[:, 2, 0],
            "v1x": v[:, 0, 1], "v1y": v[:, 1, 1], "v1z": v[:, 2, 1],
            "v2x": v[:, 0, 2], "v2y": v[:, 1, 2], "v2z": v[:, 2, 2],
        })


def _eigen_base(df, k, cell_size, id_col, x, y, z, validate) -> DataFrame:
    cov = _neighbor_cov(df, k, cell_size, id_col, x, y, z, validate)
    return cov.mapInPandas(_eigh_kernel, schema=_EIG_OUT)


def eigenvalues(
    df: DataFrame, k: int = 8, cell_size: float | None = None,
    normalize: bool = False, id_col: str = "page_id",
    x: str = "x", y: str = "y", z: str | None = None,
    validate: bool = False,
) -> DataFrame:
    """filters.eigenvalues -> Eigenvalue0/1/2 columns (ascending)."""
    eig = _eigen_base(df, k, cell_size, id_col, x, y, z, validate)
    e0, e1, e2 = F.col("e0"), F.col("e1"), F.col("e2")
    if normalize:
        s = e0 + e1 + e2
        sel = [(e0 / s).alias("eigenvalue0"), (e1 / s).alias("eigenvalue1"),
               (e2 / s).alias("eigenvalue2")]
    else:
        sel = [e0.alias("eigenvalue0"), e1.alias("eigenvalue1"),
               e2.alias("eigenvalue2")]
    side = eig.select(F.col("_f_id"), *sel)
    return df.join(side, df[id_col] == side["_f_id"], "left").drop("_f_id")


def normal(
    df: DataFrame, k: int = 8, cell_size: float | None = None,
    viewpoint: tuple[float, float, float] | None = None, always_up: bool = True,
    id_col: str = "page_id", x: str = "x", y: str = "y", z: str | None = None,
    validate: bool = False,
) -> DataFrame:
    """filters.normal -> NormalX/Y/Z + Curvature."""
    eig = _eigen_base(df, k, cell_size, id_col, x, y, z, validate)
    nx, ny, nz = F.col("v0x"), F.col("v0y"), F.col("v0z")
    s = F.col("e0") + F.col("e1") + F.col("e2")
    curv = F.when(s != 0, F.abs(F.col("e0") / s)).otherwise(0.0)
    side = eig.select("_f_id", nx.alias("_nx"), ny.alias("_ny"),
                      nz.alias("_nz"), curv.alias("curvature"))
    out = df.join(side, df[id_col] == side["_f_id"], "left").drop("_f_id")
    if viewpoint is not None:
        vx, vy, vz = viewpoint
        zc = F.col(z) if z else F.lit(0.0)
        dot = (
            (F.lit(vx) - F.col(x)) * F.col("_nx")
            + (F.lit(vy) - F.col(y)) * F.col("_ny")
            + (F.lit(vz) - zc) * F.col("_nz")
        )
        flip = dot < 0
    elif always_up:
        flip = F.col("_nz") < 0
    else:
        flip = F.lit(False)
    sgn = F.when(flip, F.lit(-1.0)).otherwise(F.lit(1.0))
    return (
        out.withColumn("normal_x", sgn * F.col("_nx"))
        .withColumn("normal_y", sgn * F.col("_ny"))
        .withColumn("normal_z", sgn * F.col("_nz"))
        .drop("_nx", "_ny", "_nz")
    )


def approximate_coplanar(
    df: DataFrame, k: int = 8, thresh1: float = 25.0, thresh2: float = 6.0,
    cell_size: float | None = None, id_col: str = "page_id",
    x: str = "x", y: str = "y", z: str | None = None,
    validate: bool = False,
) -> DataFrame:
    """filters.approximatecoplanar -> Coplanar 0/1."""
    eig = _eigen_base(df, k, cell_size, id_col, x, y, z, validate)
    cop = (
        (F.col("e1") > thresh1 * F.col("e0"))
        & (thresh2 * F.col("e1") > F.col("e2"))
    ).cast("int")
    side = eig.select("_f_id", cop.alias("coplanar"))
    return df.join(side, df[id_col] == side["_f_id"], "left").drop("_f_id")


def covariance_features(
    df: DataFrame, k: int = 10, cell_size: float | None = None,
    id_col: str = "page_id", x: str = "x", y: str = "y", z: str | None = None,
    validate: bool = False,
) -> DataFrame:
    """filters.covariancefeatures Dimensionality set: Linearity, Planarity,
    Scattering, Verticality. Neighbors = k+1 (CovarianceFeaturesFilter
    passes knn+1)."""
    eig = _eigen_base(df, k + 1, cell_size, id_col, x, y, z, validate)
    # lambda desc = (e2, e1, e0) clamped at 0
    l0 = F.greatest(F.col("e2"), F.lit(0.0))
    l1 = F.greatest(F.col("e1"), F.lit(0.0))
    l2 = F.greatest(F.col("e0"), F.lit(0.0))
    lin = (F.sqrt(l0) - F.sqrt(l1)) / F.sqrt(l0)
    pla = (F.sqrt(l1) - F.sqrt(l2)) / F.sqrt(l0)
    sca = F.sqrt(l2) / F.sqrt(l0)
    # unary vector: |v1|=|ev of l0|=col2, |v2|=col1, |v3|=col0
    ux = l0 * F.abs(F.col("v2x")) + l1 * F.abs(F.col("v1x")) + l2 * F.abs(F.col("v0x"))
    uy = l0 * F.abs(F.col("v2y")) + l1 * F.abs(F.col("v1y")) + l2 * F.abs(F.col("v0y"))
    uz = l0 * F.abs(F.col("v2z")) + l1 * F.abs(F.col("v1z")) + l2 * F.abs(F.col("v0z"))
    vert = uz / F.sqrt(ux * ux + uy * uy + uz * uz)
    side = eig.select(
        "_f_id", lin.alias("linearity"), pla.alias("planarity"),
        sca.alias("scattering"), vert.alias("verticality"),
    )
    return df.join(side, df[id_col] == side["_f_id"], "left").drop("_f_id")


def estimate_rank(
    df: DataFrame, k: int = 8, thresh: float = 0.01,
    cell_size: float | None = None, id_col: str = "page_id",
    x: str = "x", y: str = "y", z: str | None = None,
    validate: bool = False,
) -> DataFrame:
    """filters.estimaterank: SVD rank of the neighborhood covariance with
    Eigen's relative threshold (sv > thresh * sv_max)."""
    eig = _eigen_base(df, k, cell_size, id_col, x, y, z, validate)
    # covariance is PSD: singular values == |eigenvalues| == eigenvalues
    s0 = F.greatest(F.abs("e0"), F.abs("e1"), F.abs("e2"))
    t = F.lit(float(np.float32(thresh))) * s0
    rank = (
        (F.abs("e0") > t).cast("int")
        + (F.abs("e1") > t).cast("int")
        + (F.abs("e2") > t).cast("int")
    )
    side = eig.select(
        "_f_id", F.when(s0 > 0, rank).otherwise(F.lit(0)).alias("rank")
    )
    return df.join(side, df[id_col] == side["_f_id"], "left").drop("_f_id")


def lof(
    df: DataFrame, minpts: int = 10, cell_size: float | None = None,
    id_col: str = "page_id", x: str = "x", y: str = "y",
    validate: bool = False,
) -> DataFrame:
    """filters.lof: KDistance, LocalReachabilityDistance, LocalOutlierFactor.

    Lists are minpts+1 long and INCLUDE the query point (LOFFilter.cpp:81
    increments minpts because knnSearch returns the query itself); the
    self entry participates in the lrd/lof means exactly as in the
    reference. Three relational passes over one cached kNN result."""
    kk = minpts + 1
    knn = _self_knn(df, kk, cell_size, id_col, x, y, validate).cache()
    kdist = knn.filter(F.col("rank") == kk).select(
        F.col("_f_src").alias("_l_id"), F.col("dist").alias("kdistance")
    )
    # lrd: mean over neighbors j (incl self) of max(kdist_j, d(i,j))
    nb = knn.join(
        kdist.select(F.col("_l_id").alias("_f_cand"),
                     F.col("kdistance").alias("_kd_j")),
        "_f_cand",
    )
    lrd = nb.groupBy("_f_src").agg(
        (F.lit(1.0) / F.avg(F.greatest(F.col("_kd_j"), F.col("dist")))).alias("lrd")
    )
    # lof: mean over neighbors j of lrd_j / lrd_i
    nb2 = knn.join(
        lrd.select(F.col("_f_src").alias("_f_cand"), F.col("lrd").alias("_lrd_j")),
        "_f_cand",
    ).join(lrd, "_f_src")
    lofv = nb2.groupBy("_f_src").agg(
        F.avg(F.col("_lrd_j") / F.col("lrd")).alias("lof")
    )
    side = (
        kdist.join(lrd.withColumnRenamed("_f_src", "_l_id"), "_l_id")
        .join(lofv.withColumnRenamed("_f_src", "_l_id"), "_l_id")
    )
    return df.join(side, df[id_col] == side["_l_id"], "left").drop("_l_id")


def reciprocity(
    df: DataFrame, k: int = 8, cell_size: float | None = None,
    id_col: str = "page_id", x: str = "x", y: str = "y",
    validate: bool = False,
) -> DataFrame:
    """filters.reciprocity: 100 * |{j in N_i : i not in N_j}| / k, where
    N are k+1 lists including self (self skipped in the count)."""
    knn = _self_knn(df, k + 1, cell_size, id_col, x, y, validate).cache()
    others = knn.filter(F.col("_f_src") != F.col("_f_cand")).select(
        "_f_src", "_f_cand"
    )
    reversed_pairs = knn.select(
        F.col("_f_cand").alias("_f_src"), F.col("_f_src").alias("_f_cand")
    )
    non_recip = others.join(
        reversed_pairs, ["_f_src", "_f_cand"], "left_anti"
    ).groupBy("_f_src").agg(F.count("*").alias("_uni"))
    base = df.select(F.col(id_col).alias("_f_src"))
    side = base.join(non_recip, "_f_src", "left").select(
        F.col("_f_src").alias("_r_id"),
        (F.coalesce(F.col("_uni"), F.lit(0)) * 100.0 / k).alias("reciprocity"),
    )
    return df.join(side, df[id_col] == side["_r_id"], "left").drop("_r_id")


# ---------------------------------------------------------------------------
# filters.planefit / filters.miniball (Weyrich et al. 2004 criteria)
# ---------------------------------------------------------------------------


def plane_fit(
    df: DataFrame, knn: int = 8, cell_size: float | None = None,
    id_col: str = "page_id", x: str = "x", y: str = "y", z: str | None = None,
    validate: bool = False,
) -> DataFrame:
    """filters.planefit (PlaneFitFilter.cpp:105-155): PCA plane through
    the k nearest neighbors EXCLUDING the point (ni.begin()+1, :121);
    normal = eigenvector of the smallest eigenvalue of the neighbors'
    covariance (float32-demeaned, /(n-1), like EigenUtils); then

        PlaneFit = d / (d + d_bar)

    with d = |normal . (p - centroid)| and d_bar = mean neighbor plane
    distance — the reference divides the sum by the knn PARAMETER, not
    the actual neighbor count (:152), replicated.
    """
    knnp = _self_knn(df, knn, cell_size, id_col, x, y, validate,
                     exclude_self=True)
    zc = F.col(z) if z else F.lit(0.0)
    coords = df.select(
        F.col(id_col).alias("_f_cand"),
        F.col(x).alias("_px"), F.col(y).alias("_py"), zc.alias("_pz"),
    )
    # The plane-fit chain (centroid -> covariance/eigenvector -> mean
    # plane distance) re-reads the neighbor table three times with a
    # sequential dependency between passes, so without materialization
    # Catalyst re-executes the whole kNN join per pass (~6x measured).
    # k*n bounded rows, spill-safe cache — same pattern as lof().
    nb = knnp.join(coords, "_f_cand").cache()
    cent = nb.groupBy("_f_src").agg(
        F.avg("_px").alias("_mx"), F.avg("_py").alias("_my"),
        F.avg("_pz").alias("_mz"), F.count("*").alias("n"),
    ).cache()
    j = nb.join(cent, "_f_src")
    ax = (F.col("_px") - F.col("_mx")).cast("float").cast("double")
    ay = (F.col("_py") - F.col("_my")).cast("float").cast("double")
    az = (F.col("_pz") - F.col("_mz")).cast("float").cast("double")
    d = F.col("n") - 1
    cov = (
        j.groupBy("_f_src", "n")
        .agg(
            (F.sum(ax * ax) / F.first(d)).alias("cxx"),
            (F.sum(ax * ay) / F.first(d)).alias("cxy"),
            (F.sum(ax * az) / F.first(d)).alias("cxz"),
            (F.sum(ay * ay) / F.first(d)).alias("cyy"),
            (F.sum(ay * az) / F.first(d)).alias("cyz"),
            (F.sum(az * az) / F.first(d)).alias("czz"),
        )
        .withColumnRenamed("_f_src", "_f_id")
    )
    eig = cov.mapInPandas(_eigh_kernel, schema=_EIG_OUT)
    normals = eig.select(
        F.col("_f_id").alias("_f_src"),
        F.col("v0x").alias("_nx"), F.col("v0y").alias("_ny"),
        F.col("v0z").alias("_nz"),
    ).cache()  # n rows; reused by the distance pass AND the final join
    # mean |normal . (p_j - centroid)| over neighbors, divisor = knn param
    nbd = nb.join(cent, "_f_src").join(normals, "_f_src")
    dj = F.abs(
        F.col("_nx") * (F.col("_px") - F.col("_mx"))
        + F.col("_ny") * (F.col("_py") - F.col("_my"))
        + F.col("_nz") * (F.col("_pz") - F.col("_mz"))
    )
    dbar = nbd.groupBy("_f_src").agg((F.sum(dj) / knn).alias("_dbar"))
    side = (
        cent.join(normals, "_f_src").join(dbar, "_f_src")
        .select("_f_src", "_mx", "_my", "_mz", "_nx", "_ny", "_nz", "_dbar")
    )
    out = df.join(side, df[id_col] == side["_f_src"], "left")
    dq = F.abs(
        F.col("_nx") * (F.col(x) - F.col("_mx"))
        + F.col("_ny") * (F.col(y) - F.col("_my"))
        + F.col("_nz") * (zc - F.col("_mz"))
    )
    denom = dq + F.col("_dbar")
    pf = F.when(denom != 0, dq / denom).otherwise(F.lit(float("nan")))
    return out.withColumn("plane_fit", pf).drop(
        "_f_src", "_mx", "_my", "_mz", "_nx", "_ny", "_nz", "_dbar"
    )


def _seb_ball(pts: "np.ndarray") -> tuple["np.ndarray", float]:
    """Exact smallest enclosing ball of <= a few dozen 3D points (Welzl
    recursion with <=4 support points) — the Seb:: solver's contract
    (MiniballFilter.cpp:121-136) for the tiny per-point neighbor sets."""
    eps = 1e-9

    def sphere_of(R: list) -> tuple["np.ndarray", float]:
        if not R:
            return np.zeros(3), -1.0
        if len(R) == 1:
            return R[0], 0.0
        if len(R) == 2:
            c = (R[0] + R[1]) / 2.0
            return c, float(np.linalg.norm(R[0] - c))
        if len(R) == 3:
            a, b = R[1] - R[0], R[2] - R[0]
            u = np.cross(a, b)
            uu = float(u @ u)
            if uu < eps:  # collinear -> ball of the farthest pair
                pairs = [(R[0], R[1]), (R[0], R[2]), (R[1], R[2])]
                c, r = max(
                    (( (p + q) / 2.0, np.linalg.norm(p - q) / 2.0) for p, q in pairs),
                    key=lambda t: t[1],
                )
                return c, float(r)
            c = R[0] + (np.cross((a @ a) * b - (b @ b) * a, u)) / (2.0 * uu)
            return c, float(np.linalg.norm(R[0] - c))
        A = 2.0 * (np.stack(R[1:]) - R[0])
        rhs = np.array([p @ p - R[0] @ R[0] for p in R[1:]])
        try:
            c = np.linalg.solve(A, rhs)
        except np.linalg.LinAlgError:
            c, *_ = np.linalg.lstsq(A, rhs, rcond=None)
        return c, float(np.linalg.norm(R[0] - c))

    def welzl(i: int, R: list) -> tuple["np.ndarray", float]:
        if i == len(pts) or len(R) == 4:
            return sphere_of(R)
        c, r = welzl(i + 1, R)
        p = pts[i]
        if np.linalg.norm(p - c) <= r + eps * (1.0 + abs(r)):
            return c, r
        return welzl(i + 1, R + [p])

    return welzl(0, [])


def miniball(
    df: DataFrame, knn: int = 8, cell_size: float | None = None,
    id_col: str = "page_id", x: str = "x", y: str = "y", z: str | None = None,
    validate: bool = False,
) -> DataFrame:
    """filters.miniball (MiniballFilter.cpp:107-151): smallest enclosing
    ball of the k nearest neighbors EXCLUDING the point; then

        Miniball = d / (d + 2 * radius / sqrt(3))

    with d = distance from the point to the ball center.

    Execution: distributed kNN -> collect_list of the k neighbor coords
    per point (k rows -> one array row) -> Arrow-batched kernel running
    the exact Welzl solver per point. Welzl on <=k points is inherently
    sequential per point, but points are independent — the kernel
    parallelizes over partitions like every other mapInPandas stage.
    """
    knnp = _self_knn(df, knn, cell_size, id_col, x, y, validate,
                     exclude_self=True)
    zc = F.col(z) if z else F.lit(0.0)
    coords = df.select(
        F.col(id_col).alias("_f_cand"),
        F.col(x).alias("_px"), F.col(y).alias("_py"), zc.alias("_pz"),
    )
    packed = (
        knnp.join(coords, "_f_cand")
        .groupBy("_f_src")
        .agg(
            F.collect_list(F.col("_px")).alias("nx"),
            F.collect_list(F.col("_py")).alias("ny"),
            F.collect_list(F.col("_pz")).alias("nz"),
        )
    )
    q = df.select(
        F.col(id_col).alias("_f_src"), F.col(x).alias("_qx"),
        F.col(y).alias("_qy"), zc.alias("_qz"),
    )
    work = packed.join(q, "_f_src")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            vals = np.empty(len(pdf))
            for i, (nx, ny, nz, qx, qy, qz) in enumerate(
                zip(pdf["nx"], pdf["ny"], pdf["nz"],
                    pdf["_qx"], pdf["_qy"], pdf["_qz"])
            ):
                pts = np.column_stack([nx, ny, nz]).astype(np.float64)
                c, r = _seb_ball(pts)
                dd = float(np.linalg.norm(np.array([qx, qy, qz]) - c))
                vals[i] = dd / (dd + 2.0 * r / np.sqrt(3.0))
            yield pd.DataFrame({
                "_f_src": pdf["_f_src"].to_numpy(np.int64), "miniball": vals,
            })

    side = work.mapInPandas(kernel, schema="_f_src long, miniball double")
    return df.join(side, df[id_col] == side["_f_src"], "left").drop("_f_src")
