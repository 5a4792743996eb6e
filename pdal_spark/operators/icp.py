"""filters.icp — Iterative Closest Point rigid registration.

Reference: filters/IterativeClosestPoint.cpp:104-280 (icp()):
  1. centroid of the FIXED view; demean both views by it (:108-117).
  2. per iteration (:130-231): transform the demeaned moving view by the
     cumulative transform, find each moving point's 1-NN in the demeaned
     fixed view (3D KD-tree), estimate a rigid transform with Eigen's
     Umeyama method (scaling off), accumulate `final = final * T`, and
     check convergence on per-iteration rotation/translation (rt/tt),
     absolute MSE change (mse_abs), and the max_similar counter.
  3. apply the cumulative transform to the original moving view around
     the fixed centroid (:233-268) and report transform / converged /
     fitness metadata (:270-277), fitness being the mean 1-NN distance
     against the ORIGINAL fixed view.

Spark shape: the reference is a single-node KD-tree loop; here every
iteration is ONE distributed 1-NN join plus ONE map-side-combined
aggregate that reduces the correspondence set to a 3x3 cross-covariance
+ two centroids (10 doubles). Only 4x4 matrices cross the driver
boundary, so the loop costs O(iterations) Spark jobs and O(1) driver
memory regardless of cloud size.

The 1-NN join (`nn1_join_3d`) is exact WITHOUT broadcasting either
side: bucket both clouds on a 3D grid, join on the 27-cell
neighborhood, and accept a match only when its distance <= cell (then
no closer point can live outside the neighborhood — the certificate).
Unmatched rows retry on a doubled grid; after `max_rounds` the (small)
residual falls back to a broadcast-residual x candidate min-reduce.
Well-registered clouds resolve ~everything in round 1; the expansion
rounds only ever reprocess the sparse tail.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["nn1_join_3d", "icp"]

_OFFS3 = [(dx, dy, dz) for dx in (-1, 0, 1) for dy in (-1, 0, 1) for dz in (-1, 0, 1)]


def _with_cell3(df: DataFrame, cell: float, x: str, y: str, z: str) -> DataFrame:
    return df.withColumns(
        {
            "_cx": F.floor(F.col(x) / F.lit(cell)).cast("long"),
            "_cy": F.floor(F.col(y) / F.lit(cell)).cast("long"),
            "_cz": F.floor(F.col(z) / F.lit(cell)).cast("long"),
        }
    )


def _nearest(pairs: DataFrame) -> DataFrame:
    """Per src row of a (src, cand) pair frame, the (distance,
    cand_id)-ordered argmin as struct _m(d2, i, cx, cy, cz) — the
    deterministic stand-in for the reference KD-tree's unspecified
    equal-distance order (same rule as operators.knn). min_by with the
    (d2, id) struct key beats min(struct(...)) — the 5-field struct
    buffer forces SortAggregate; cand_id is unique so the ordering key
    is tie-free."""
    d2 = (
        (F.col("_sx") - F.col("_nx")) ** 2
        + (F.col("_sy") - F.col("_ny")) ** 2
        + (F.col("_sz") - F.col("_nz")) ** 2
    )
    key = F.struct(d2.alias("d2"), F.col("_nid").alias("i"))
    return pairs.groupBy("_sid", "_sx", "_sy", "_sz").agg(
        F.min_by(
            F.struct(d2.alias("d2"), F.col("_nid").alias("i"),
                     F.col("_nx").alias("cx"), F.col("_ny").alias("cy"),
                     F.col("_nz").alias("cz")),
            key,
        ).alias("_m")
    )


def _round(remaining: DataFrame, c_base: DataFrame, size: float) -> DataFrame:
    """One exact-NN round on a grid of `size`: every remaining src row
    joins the candidates of its 27-cell neighborhood, and only rows whose
    nearest distance is <= size are returned (the certificate: then the
    neighborhood provably held the true nearest neighbor)."""
    s = _with_cell3(remaining, size, "_sx", "_sy", "_sz")
    offs = F.array(
        *[
            F.struct(
                (F.col("_cx") + ox).alias("cx"),
                (F.col("_cy") + oy).alias("cy"),
                (F.col("_cz") + oz).alias("cz"),
            )
            for ox, oy, oz in _OFFS3
        ]
    )
    s = (
        s.withColumn("_nb", F.explode(offs))
        .withColumns({"_cx": F.col("_nb.cx"), "_cy": F.col("_nb.cy"),
                      "_cz": F.col("_nb.cz")})
        .drop("_nb")
    )
    c = _with_cell3(c_base, size, "_nx", "_ny", "_nz")
    return _nearest(s.join(c, ["_cx", "_cy", "_cz"])).filter(
        F.sqrt("_m.d2") <= F.lit(size))


def _residual(remaining: DataFrame, c_base: DataFrame) -> DataFrame:
    """The far-outlier tail after the last round: broadcast the RESIDUAL
    (small side) against the whole candidate cloud, map-side-combined
    min per residual row."""
    return _nearest(c_base.crossJoin(F.broadcast(remaining)))


def nn1_join_3d(
    src: DataFrame,
    cand: DataFrame,
    cell: float,
    src_id: str = "src_id",
    cand_id: str = "cand_id",
    x: str = "x",
    y: str = "y",
    z: str = "z",
    max_rounds: int = 6,
    handles: list | None = None,
    n_src: int | None = None,
) -> DataFrame:
    """Exact 3D nearest neighbor for EVERY src row.

    -> (src_id, sx, sy, sz, cand_id, nx, ny, nz, dist)

    Round r joins on a grid of cell * 2**r over the 27-neighborhood and
    keeps rows whose min distance <= that cell size (provably the true
    NN). Rows that miss retry on the doubled grid; whatever survives
    `max_rounds` (far outliers) is finished by a broadcast-residual
    min-reduce against the full candidate set — the residual is the
    small side, so the big cloud is never broadcast.

    Each round's accepted matches are persisted (they feed both the
    next round's anti-join and the final union — without caching the
    bucketed join would execute twice per round). Pass `handles` to
    receive the persisted frames and unpersist them once the result is
    materialized; with handles=None they stay cached until LRU
    eviction (fine for one-shot queries).
    """
    s_base = src.select(
        F.col(src_id).alias("_sid"),
        F.col(x).alias("_sx"), F.col(y).alias("_sy"), F.col(z).alias("_sz"),
    )
    c_base = cand.select(
        F.col(cand_id).alias("_nid"),
        F.col(x).alias("_nx"), F.col(y).alias("_ny"), F.col(z).alias("_nz"),
    )
    remaining = s_base
    # remaining-size bookkeeping is ARITHMETIC (n_rem -= matched): a
    # `remaining.limit(1).count()` emptiness probe on an empty anti-join
    # is Spark's incremental-take worst case — sequential 1/4/16/all-
    # partition jobs, each re-executing the whole bucketed join.
    # Callers that already know |src| (ICP re-queries the same cloud
    # every iteration) pass n_src and skip the counting job entirely.
    n_rem = src.count() if n_src is None else n_src
    done: list[DataFrame] = []
    size = float(cell)
    for _ in range(max_rounds):
        ok = _round(remaining, c_base, size).persist()
        if handles is not None:
            handles.append(ok)
        done.append(ok)
        # one parallel count materializes the cache AND updates the
        # remaining tally — no emptiness probe ever runs
        n_rem -= ok.count()
        remaining = remaining.join(
            ok.select(F.col("_sid")), "_sid", "left_anti"
        )
        size *= 2.0
        if n_rem == 0:
            remaining = None
            break

    if remaining is not None and n_rem > 0:
        done.append(_residual(remaining, c_base))

    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out.select(
        F.col("_sid").alias(src_id),
        F.col("_sx").alias("sx"), F.col("_sy").alias("sy"),
        F.col("_sz").alias("sz"),
        F.col("_m.i").alias(cand_id),
        F.col("_m.cx").alias("nx"), F.col("_m.cy").alias("ny"),
        F.col("_m.cz").alias("nz"),
        F.sqrt("_m.d2").alias("dist"),
    )


def _nn_moments(
    moved: DataFrame,
    c_base: DataFrame,
    cell: float,
    n_src: int,
    max_rounds: int = 6,
):
    """The ICP inner loop's fused 1-NN + moment reduction.

    Same exact-NN round structure as nn1_join_3d, but each round's
    accepted correspondences are reduced to their sufficient statistics
    (count, coordinate sums, 3x3 raw cross-products, distance sum) in
    the SAME Spark job that materializes the round's cache — one job
    per round instead of nn1_join's count + downstream aggregate. Sums
    accumulate driver-side (order-insensitive up to float addition,
    which Spark's own partial aggregation already is).

    Returns (n, sum_a[3], sum_b[3], raw[3,3], sum_dist) where a = the
    fixed-side NN coordinates and b = the moved query coordinates.
    """
    s_cols = ("_sx", "_sy", "_sz")
    prods = {
        f"p{i}{j}": F.sum(F.col(f"_m.{a}") * F.col(b))
        for i, a in enumerate(("cx", "cy", "cz"))
        for j, b in enumerate(s_cols)
    }
    aggs = [
        F.count("*").alias("n"),
        F.sum("_m.cx").alias("ax"), F.sum("_m.cy").alias("ay"),
        F.sum("_m.cz").alias("az"),
        F.sum("_sx").alias("bx"), F.sum("_sy").alias("by"),
        F.sum("_sz").alias("bz"),
        F.sum(F.sqrt("_m.d2")).alias("dist"),
        *[v.alias(k) for k, v in prods.items()],
    ]

    n_tot = 0
    sum_a = np.zeros(3)
    sum_b = np.zeros(3)
    raw = np.zeros((3, 3))
    sum_dist = 0.0

    def fold(row):
        nonlocal n_tot, sum_dist
        if not row.n:
            return
        n_tot += row.n
        sum_a[:] += [row.ax, row.ay, row.az]
        sum_b[:] += [row.bx, row.by, row.bz]
        raw[:] += np.array(
            [[row[f"p{i}{j}"] for j in range(3)] for i in range(3)]
        )
        sum_dist += row.dist

    remaining = moved
    n_rem = n_src
    size = float(cell)
    handles = []
    for _ in range(max_rounds):
        ok = _round(remaining, c_base, size).persist()
        handles.append(ok)
        # this one collect materializes the cache AND reduces the round
        row = ok.agg(*aggs).collect()[0]
        fold(row)
        n_rem = n_src - n_tot
        if n_rem == 0:
            break
        remaining = remaining.join(ok.select("_sid"), "_sid", "left_anti")
        size *= 2.0

    if n_rem > 0:
        fold(_residual(remaining, c_base).agg(*aggs).collect()[0])

    for h in handles:
        h.unpersist()
    return n_tot, sum_a, sum_b, raw, sum_dist


def _umeyama_rigid(sigma: np.ndarray, mean_a: np.ndarray,
                   mean_b: np.ndarray) -> np.ndarray:
    """Eigen::umeyama(B, A, with_scaling=false) on precomputed moments:
    sigma = 1/n sum (a - mean_a)(b - mean_b)^T, returns the 4x4 T with
    R = U S V^T (S flips the last axis when det(U) det(V) < 0,
    Eigen/src/Geometry/Umeyama.h), t = mean_a - R mean_b."""
    u, _, vt = np.linalg.svd(sigma)
    s = np.ones(3)
    if np.linalg.det(u) * np.linalg.det(vt) < 0:
        s[2] = -1.0
    r = u @ np.diag(s) @ vt
    t = np.eye(4)
    t[:3, :3] = r
    t[:3, 3] = mean_a - r @ mean_b
    return t


def _apply_t(df: DataFrame, t: np.ndarray, x: str, y: str, z: str) -> DataFrame:
    cols = {}
    for i, name in enumerate((x, y, z)):
        cols[name] = (
            F.lit(float(t[i, 0])) * F.col(x)
            + F.lit(float(t[i, 1])) * F.col(y)
            + F.lit(float(t[i, 2])) * F.col(z)
            + F.lit(float(t[i, 3]))
        )
    return df.withColumns(cols)


def _auto_cell(fixed: DataFrame, x: str, y: str, z: str) -> float:
    """Grid size 1.5 mean point spacings of the fixed cloud. The
    expected 1-NN distance in a uniform cloud is ~0.55 spacings, so a
    1.5-spacing cell certifies the bulk of queries in round 1 while the
    27-cell neighborhood carries only ~90 candidates (at 4 spacings it
    carries ~1700 — a 20x larger join for the same certificate); the
    sparse tail that misses escalates to the doubled grid."""
    r = fixed.agg(
        F.count("*").alias("n"),
        F.max(x).alias("xmax"), F.min(x).alias("xmin"),
        F.max(y).alias("ymax"), F.min(y).alias("ymin"),
        F.max(z).alias("zmax"), F.min(z).alias("zmin"),
    ).collect()[0]
    dx = max(r.xmax - r.xmin, 1e-9)
    dy = max(r.ymax - r.ymin, 1e-9)
    dz = max(r.zmax - r.zmin, 1e-9)
    return 1.5 * float((dx * dy * dz / max(r.n, 1)) ** (1.0 / 3.0))


def icp(
    fixed: DataFrame,
    moving: DataFrame,
    max_iter: int = 100,
    rotation_threshold: float = 0.99999,
    translation_threshold: float = 3e-4 * 3e-4,
    mse_abs: float = 1e-12,
    max_similar: int = 0,
    id_col: str = "page_id",
    x: str = "x",
    y: str = "y",
    z: str = "z",
    cell: float | None = None,
    compute_fitness: bool = True,
) -> tuple[DataFrame, dict]:
    """Register `moving` onto `fixed`; returns (transformed moving view,
    metadata {transform, converged, fitness, iterations, mse}).

    Defaults mirror IterativeClosestPoint::addArgs (:66-76): max_iter
    100, rt 0.99999, tt (3e-4)^2, mse_abs 1e-12, max_similar 0.
    """
    spark = fixed.sparkSession
    cen = fixed.agg(F.avg(x).alias("cx"), F.avg(y).alias("cy"),
                    F.avg(z).alias("cz")).collect()[0]
    centroid = np.array([cen.cx, cen.cy, cen.cz])

    def demean(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            (F.col(x) - F.lit(float(centroid[0]))).alias(x),
            (F.col(y) - F.lit(float(centroid[1]))).alias(y),
            (F.col(z) - F.lit(float(centroid[2]))).alias(z),
        )

    fixed_c = demean(fixed).withColumnRenamed(id_col, "_fid").persist()
    moving_c = demean(moving).persist()
    if cell is None:
        cell = _auto_cell(fixed_c, x, y, z)
    # |moving| is loop-invariant: count once, let every per-iteration
    # 1-NN join skip its own counting job
    n_mov = moving_c.count()

    final = np.eye(4)
    converged = False
    prev_mse = 0.0
    num_similar = 0
    iters = 0
    mse = float("nan")
    c_base = fixed_c.select(
        F.col("_fid").alias("_nid"),
        F.col(x).alias("_nx"), F.col(y).alias("_ny"), F.col(z).alias("_nz"),
    )
    for _ in range(max_iter):
        iters += 1
        moved = _apply_t(moving_c, final, x, y, z).select(
            F.col(id_col).alias("_sid"),
            F.col(x).alias("_sx"), F.col(y).alias("_sy"),
            F.col(z).alias("_sz"),
        )
        # fused exact-1-NN + moment reduction: correspondence count,
        # both centroid sums, the 9 raw second moments of (fixed,
        # moved) pairs, and the distance sum — one Spark job per round
        n, sum_a, sum_b, raw, sum_dist = _nn_moments(
            moved, c_base, cell, n_src=n_mov
        )
        mean_a = sum_a / n
        mean_b = sum_b / n
        sigma = raw / n - np.outer(mean_a, mean_b)
        mse = float(sum_dist / n)
        t = _umeyama_rigid(sigma, mean_a, mean_b)
        # reference accumulates on the RIGHT: final = final * T (:178)
        final = final @ t

        is_similar = False
        cos_angle = 0.5 * (t[0, 0] + t[1, 1] + t[2, 2] - 1.0)
        translation_sqr = float(t[:3, 3] @ t[:3, 3])
        if abs(mse - prev_mse) < mse_abs:
            if num_similar >= max_similar:
                converged = True
                break
            is_similar = True
        if cos_angle >= rotation_threshold and translation_sqr <= translation_threshold:
            if num_similar >= max_similar:
                converged = True
                break
            is_similar = True
        num_similar = num_similar + 1 if is_similar else 0
        prev_mse = mse

    # apply around the fixed centroid to the ORIGINAL moving view,
    # preserving every non-coordinate column (:233-268)
    shifted = moving.withColumns(
        {
            x: F.col(x) - F.lit(float(centroid[0])),
            y: F.col(y) - F.lit(float(centroid[1])),
            z: F.col(z) - F.lit(float(centroid[2])),
        }
    )
    out = _apply_t(shifted, final, x, y, z).withColumns(
        {
            x: F.col(x) + F.lit(float(centroid[0])),
            y: F.col(y) + F.lit(float(centroid[1])),
            z: F.col(z) + F.lit(float(centroid[2])),
        }
    )

    fitness = None
    if compute_fitness:
        hnd_f: list = []
        fit_nn = nn1_join_3d(
            out.select(id_col, x, y, z),
            fixed.select(F.col(id_col).alias("_fid"), x, y, z), cell,
            src_id=id_col, cand_id="_fid", x=x, y=y, z=z, handles=hnd_f,
        )
        fitness = float(fit_nn.agg(F.avg("dist")).collect()[0][0])
        for h in hnd_f:
            h.unpersist()

    fixed_c.unpersist()
    moving_c.unpersist()
    meta = {
        "transform": final.tolist(),
        "converged": converged,
        "fitness": fitness,
        "iterations": iters,
        "mse": mse,
    }
    return out, meta
