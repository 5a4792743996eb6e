"""Parity tests for elm / cluster / sample / fps / mortonorder /
separatescanline / colorinterp / overlay / dem / colorization / hag —
literal numpy/python oracles of the reference loops.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdal_spark import geo
from pdal_spark.operators import pointcloud as pc
from pdal_spark.operators import raster
from pdal_spark.operators.crop import Polygon

N = 300


def _pts():
    ids = np.arange(N)
    xs, ys = geo.geocode_lcg_np(ids)
    zs = ((ids * 48271 + 11) % 1000) / 10.0  # deterministic elevations
    return ids, xs, ys, zs


@pytest.fixture(scope="module")
def pts_df(spark):
    ids, xs, ys, zs = _pts()
    pdf = pd.DataFrame({"page_id": ids, "x": xs, "y": ys, "z": zs})
    return spark.createDataFrame(pdf).repartition(8)


def test_elm(pts_df):
    ids, xs, ys, zs = _pts()
    cell, thr = 30.0, 40.0
    ox, oy = xs.min(), ys.min()
    # literal oracle (ELMFilter.cpp second pass)
    cellkey = {}
    for i in range(N):
        c = int(np.floor(xs[i] - ox) / cell)
        r = int(np.floor(ys[i] - oy) / cell)
        cellkey.setdefault((c, r), []).append(i)
    noise = set()
    for ids_in in cellkey.values():
        order = sorted(ids_in, key=lambda i: (zs[i], i))
        for a, b in zip(order, order[1:]):
            if abs(zs[a] - zs[b]) < thr:
                break
            noise.add(a)
    out = pc.elm(pts_df, cell=cell, threshold=thr, order_col="page_id").toPandas()
    got = set(out.loc[out["classification"] == 7, "page_id"])
    assert got == noise


def test_cluster(pts_df):
    ids, xs, ys, _ = _pts()
    tol = 15.0
    # oracle: BFS clusters (Segmentation.cpp)
    processed = np.zeros(N, bool)
    clusters = []
    for i in range(N):
        if processed[i]:
            continue
        queue = [i]
        processed[i] = True
        qi = 0
        while qi < len(queue):
            j = queue[qi]
            d2 = (xs - xs[j]) ** 2 + (ys - ys[j]) ** 2
            for k2 in np.where(d2 <= tol * tol)[0]:
                if not processed[k2]:
                    processed[k2] = True
                    queue.append(int(k2))
            qi += 1
        clusters.append(sorted(queue))
    kept = [c for c in clusters if 2 <= len(c)]
    kept.sort(key=lambda c: min(c))
    exp = {}
    for cid, c in enumerate(kept, start=1):
        for i in c:
            exp[i] = cid
    out = pc.cluster(pts_df, tolerance=tol, min_points=2,
                     id_col="page_id").toPandas()
    got = dict(zip(out["page_id"], out["cluster_id"]))
    for i in range(N):
        assert got[i] == exp.get(i, 0), i
    # distributed min-label path (forced: edge list "exceeds" the driver
    # cap) must label identically to the union-find parity path
    out2 = pc.cluster(pts_df, tolerance=tol, min_points=2,
                      id_col="page_id", driver_max_edges=-1).toPandas()
    got2 = dict(zip(out2["page_id"], out2["cluster_id"]))
    assert got2 == got


def test_sample(pts_df):
    _, xs, ys, _ = _pts()
    radius = 20.0
    keep = pc._sample_kernel_np(xs, ys, radius)
    out = pc.sample(pts_df, radius, order_col="page_id").toPandas()
    assert set(out["page_id"]) == set(np.where(keep)[0])
    # kept points are pairwise > radius apart
    kx, ky = xs[keep], ys[keep]
    d2 = (kx[:, None] - kx) ** 2 + (ky[:, None] - ky) ** 2
    np.fill_diagonal(d2, np.inf)
    assert (d2 > radius * radius).all()


def test_sample_partitioned_density(pts_df):
    out = pc.sample(pts_df, 20.0, order_col="page_id", partitioned=True,
                    tile_len=90.0).toPandas()
    assert 0 < len(out) < N


def test_sample_auto_flips_to_partitioned(pts_df):
    """Above max_rows_exact the default routes to the tile-parallel
    kernel (no flags needed); an EXPLICIT partitioned=False still
    refuses."""
    import pytest

    out = pc.sample(pts_df, 20.0, order_col="page_id",
                    max_rows_exact=10).toPandas()
    assert 0 < len(out) < N
    with pytest.raises(ValueError, match="max_rows_exact"):
        pc.sample(pts_df, 20.0, order_col="page_id", partitioned=False,
                  max_rows_exact=10)


def test_fps(pts_df):
    ids, xs, ys, _ = _pts()
    count = 12
    sel = [0]
    mind = (xs - xs[0]) ** 2 + (ys - ys[0]) ** 2
    for _ in range(1, count):
        nxt = int(np.argmax(mind))
        sel.append(nxt)
        np.minimum(mind, (xs - xs[nxt]) ** 2 + (ys - ys[nxt]) ** 2, out=mind)
    out = pc.fps(pts_df, count, order_col="page_id").toPandas()
    out = out.sort_values("fps_order")
    assert list(out["page_id"]) == sel


def _less_msb(a, b):
    return a < b and a < (a ^ b)


def _morton_cmp(c1, c2):
    """CompareByMortonCode (MortonOrderFilter.cpp:70-95)."""
    a = [int(c1[0] * 2147483647), int(c1[1] * 2147483647)]
    b = [int(c2[0] * 2147483647), int(c2[1] * 2147483647)]
    j, xv = 0, 0
    for k in range(2):
        y = a[k] ^ b[k]
        if _less_msb(xv, y):
            j, xv = k, y
    return a[j] - b[j] < 0


def test_morton_forward(pts_df):
    import functools

    ids, xs, ys, _ = _pts()
    minx, miny = xs.min(), ys.min()
    xr, yr = xs.max() - minx, ys.max() - miny
    norm = [((xs[i] - minx) / xr, (ys[i] - miny) / yr) for i in range(N)]
    order = sorted(range(N), key=functools.cmp_to_key(
        lambda i, j2: -1 if _morton_cmp(norm[i], norm[j2]) else (1 if _morton_cmp(norm[j2], norm[i]) else 0)
    ))
    out = pc.morton_order(pts_df, order_col="page_id").toPandas()
    got = list(out.sort_values("morton_rank")["page_id"])
    assert got == order


def test_morton_reverse_disperses(pts_df):
    out = pc.morton_order(pts_df, reverse=True, order_col="page_id").toPandas()
    # dispersal: first few points should be spatially spread — mean pairwise
    # distance of the first 10 should exceed that of 10 consecutive
    # forward-morton points
    fwd = pc.morton_order(pts_df, order_col="page_id").toPandas()

    def spread(pdf):
        head = pdf.sort_values("morton_rank").head(10)
        xs, ys = head["x"].to_numpy(), head["y"].to_numpy()
        d = np.hypot(xs[:, None] - xs, ys[:, None] - ys)
        return d.sum() / (len(xs) * (len(xs) - 1))

    assert spread(out) > spread(fwd)


def test_separate_scan_line(spark):
    n = 100
    pdf = pd.DataFrame({
        "page_id": np.arange(n),
        "edge_of_flight_line": (np.arange(n) % 7 == 6).astype(int),
    })
    df = spark.createDataFrame(pdf).repartition(4)
    out = pc.separate_scan_line(df, groupby=2).toPandas().sort_values("page_id")
    flags = pdf["edge_of_flight_line"].to_numpy()
    exp = np.concatenate(([0], np.cumsum(flags)[:-1])) // 2
    np.testing.assert_array_equal(out["view_id"].to_numpy(), exp)


def test_colorinterp(pts_df):
    ramp = [(0, 0, 255), (0, 255, 0), (255, 0, 0), (255, 255, 0)]
    out = pc.colorinterp(pts_df, ramp, "z", vmin=0.0, vmax=100.0).toPandas()
    _, _, _, zs = _pts()
    for _, row in out.iterrows():
        v = row["z"]
        if v < 0 or v >= 100:
            assert pd.isna(row["red"])
        else:
            pos = min(int(np.floor(v / 100.0 * 4)), 3)
            assert (row["red"], row["green"], row["blue"]) == ramp[pos]


def test_overlay_last_match_wins(pts_df):
    p1 = Polygon(exterior=((-200.0, -100.0), (200.0, -100.0), (200.0, 100.0),
                           (-200.0, 100.0)))  # everything
    p2 = Polygon(exterior=((0.0, -100.0), (200.0, -100.0), (200.0, 100.0),
                           (0.0, 100.0)))     # x > 0 half
    out = pc.overlay(pts_df, [(p1, 10), (p2, 20)], "ovl").toPandas()
    for _, row in out.iterrows():
        assert row["ovl"] == (20 if row["x"] > 0 else 10)


def test_overlay_large_ring(pts_df):
    # a 610-edge ring, tested over per-cell edge lists in one expression
    from test_crop import STAR

    from pdal_spark.operators.crop import pnp_even_odd_np

    p1 = Polygon(exterior=((-200.0, -100.0), (200.0, -100.0), (200.0, 100.0),
                           (-200.0, 100.0)))
    out = pc.overlay(pts_df, [(p1, 10), (STAR, 20)], "ovl").toPandas()
    inside = pnp_even_odd_np(out["x"].to_numpy(), out["y"].to_numpy(), STAR)
    assert inside.any() and not inside.all()
    assert out["ovl"].tolist() == np.where(inside, 20, 10).tolist()


def test_dem_and_colorization(spark, pts_df):
    g = raster.GridSpec.create(-180.0, -90.0, 12, 6, 30.0)
    cells = raster.rasterize(pts_df, g, "z", order_col="page_id")
    kept = pc.dem_filter(pts_df, cells, g, band="mean", limits=(-20.0, 20.0))
    pdf = kept.toPandas()
    assert 0 < len(pdf) <= N
    colored = pc.colorization(
        pts_df, cells, g, bands=[("mean", "band_mean", 2.0)]
    ).toPandas()
    assert "band_mean" in colored.columns
    assert len(colored) == N


def test_hag(spark):
    ids, xs, ys, zs = _pts()
    cls = (ids % 3 == 0).astype(int) * 2  # every 3rd point is ground
    pdf = pd.DataFrame({"page_id": ids, "x": xs, "y": ys, "z": zs,
                        "classification": cls})
    df = spark.createDataFrame(pdf).repartition(8)
    out = pc.hag(df, count=3).toPandas().sort_values("page_id")
    # oracle
    gids = np.where(cls == 2)[0]
    for i in range(N):
        got = out.loc[out["page_id"] == i, "height_above_ground"].iloc[0]
        if cls[i] == 2:
            assert got == 0.0
            continue
        d2 = (xs[gids] - xs[i]) ** 2 + (ys[gids] - ys[i]) ** 2
        order = np.lexsort((gids, d2))[:3]
        nn = gids[order]
        nd2 = d2[order]
        if nd2[0] == 0:
            z1 = zs[nn[0]]
        else:
            w = 1.0 / nd2
            z1 = (w * zs[nn]).sum() / w.sum()
        assert got == pytest.approx(zs[i] - z1, abs=1e-9)
