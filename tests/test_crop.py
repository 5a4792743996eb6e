"""Crop parity tests (semantics per /root/reference/filters/CropFilter.cpp).

Oracle = slow numpy/pure-python reimplementation of the same formulas,
run on the same deterministic input (mirrors the reference's
stream-vs-standard dual-run pattern).
"""

from __future__ import annotations

import math
import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from pdal_spark import geo
from pdal_spark.operators import crop as crop_mod
from pdal_spark.operators.crop import (
    Box,
    Circle,
    Polygon,
    crop,
    parse_wkt_polygons,
    pnp_even_odd_np,
    polygon_contains,
)
from pdal_spark.synth import synth_points

N = 4000
CONCAVE = Polygon(
    exterior=((-100.0, -50.0), (50.0, -50.0), (50.0, 60.0), (-20.0, 60.0),
              (-20.0, 0.0), (-60.0, 0.0), (-60.0, 60.0), (-100.0, 60.0)),
    holes=(((-90.0, -40.0), (-70.0, -40.0), (-70.0, -20.0), (-90.0, -20.0)),),
)


def star_ring(n: int, cx: float, cy: float, r: float) -> tuple:
    """n-vertex star: radii alternate r and 0.6 r, squashed in latitude."""
    return tuple(
        (cx + r * (1.0 - 0.4 * (k % 2)) * math.cos(2 * math.pi * k / n),
         cy + 0.6 * r * (1.0 - 0.4 * (k % 2)) * math.sin(2 * math.pi * k / n))
        for k in range(n)
    )


# 610 edges, spiky enough that each edge spans several of the grid's rows
STAR = Polygon(exterior=star_ring(600, 10.0, 5.0, 150.0),
               holes=(star_ring(10, 30.0, 10.0, 40.0),))


def pts():
    ids = np.arange(N)
    xs, ys = geo.geocode_lcg_np(ids)
    return ids, xs, ys


def test_crop_box_inside_outside(spark):
    df = synth_points(spark, N)
    b = Box(-90.0, -45.0, 90.0, 45.0)
    ids, xs, ys = pts()
    inside = (b.minx <= xs) & (xs <= b.maxx) & (b.miny <= ys) & (ys <= b.maxy)

    got_in = {r["page_id"] for r in crop(df, [b], mode="stream").collect()}
    got_out = {r["page_id"] for r in crop(df, [b], outside=True, mode="stream").collect()}
    assert got_in == set(ids[inside].tolist())
    assert got_out == set(ids[~inside].tolist())
    assert len(got_in) + len(got_out) == N


def test_crop_circle_strict(spark):
    df = synth_points(spark, N)
    c = Circle(0.0, 0.0, 60.0)
    ids, xs, ys = pts()
    inside = (np.abs(xs) <= c.distance) & (np.abs(ys) <= c.distance) & (
        np.abs(xs) ** 2 + np.abs(ys) ** 2 < c.distance**2
    )
    got = {r["page_id"] for r in crop(df, [c], mode="stream").collect()}
    assert got == set(ids[inside].tolist())


def test_crop_polygon_with_hole(spark):
    df = synth_points(spark, N)
    ids, xs, ys = pts()
    want = set(ids[pnp_even_odd_np(xs, ys, CONCAVE)].tolist())
    got = {r["page_id"] for r in crop(df, [CONCAVE], mode="stream").collect()}
    assert got == want
    # sanity: the hole actually excludes points
    bbox_hole = (xs > -90) & (xs < -70) & (ys > -40) & (ys < -20)
    assert bbox_hole.any()
    assert not (want & set(ids[bbox_hole].tolist()))


def test_crop_batch_one_view_per_geometry(spark):
    # CropFilter.cpp:221-248: batch mode emits one view per geometry;
    # a point in the overlap appears under both geom_ids.
    df = synth_points(spark, N)
    g0 = Box(-50.0, -50.0, 50.0, 50.0)
    g1 = Box(0.0, 0.0, 100.0, 80.0)
    out = crop(df, [g0, g1], mode="batch")
    ids, xs, ys = pts()
    in0 = (xs >= -50) & (xs <= 50) & (ys >= -50) & (ys <= 50)
    in1 = (xs >= 0) & (xs <= 100) & (ys >= 0) & (ys <= 80)
    rows = {(r["page_id"], r["geom_id"]) for r in out.collect()}
    want = {(i, 0) for i in ids[in0].tolist()} | {(i, 1) for i in ids[in1].tolist()}
    assert rows == want


def test_polygon_contains_partition_invariance(spark):
    df = synth_points(spark, 2000)
    a = polygon_contains(df.repartition(1), CONCAVE).filter("_inside").select("page_id")
    b = polygon_contains(df.repartition(7), CONCAVE).filter("_inside").select("page_id")
    assert sorted(r[0] for r in a.collect()) == sorted(r[0] for r in b.collect())


def test_text_byte_identity_through_crop(spark):
    # the per-row invariant: text bytes per url unchanged through a stage
    from pdal_spark.synth import synth_pages, with_coords

    df = with_coords(synth_pages(spark, 500))
    before = dict(
        df.select("url", "text").rdd.map(lambda r: (r["url"], r["text"])).collect()
    )
    out = crop(df, [Box(-180.0, -90.0, 180.0, 90.0)], mode="stream")
    after = dict(
        out.select("url", "text").rdd.map(lambda r: (r["url"], r["text"])).collect()
    )
    assert before == after


def test_crop_large_ring_stream_outside_batch(spark):
    assert sum(len(r) for r in STAR.rings()) > 512
    df = synth_points(spark, N)
    ids, xs, ys = pts()
    inside = pnp_even_odd_np(xs, ys, STAR)
    assert inside.any() and not inside.all()
    # the hole removes points
    assert (inside != pnp_even_odd_np(xs, ys, Polygon(exterior=STAR.exterior))).any()

    got = {r[0] for r in crop(df, [STAR], mode="stream").select("page_id").collect()}
    assert got == set(ids[inside].tolist())
    got_out = {
        r[0] for r in crop(df, [STAR], outside=True, mode="stream")
        .select("page_id").collect()
    }
    assert got_out == set(ids[~inside].tolist())
    # batch tests a small and a large ring in one projection
    rows = {
        (r[0], r[1]) for r in crop(df, [CONCAVE, STAR], mode="batch")
        .select("page_id", "geom_id").collect()
    }
    want = {(i, 0) for i in ids[pnp_even_odd_np(xs, ys, CONCAVE)].tolist()}
    want |= {(i, 1) for i in ids[inside].tolist()}
    assert rows == want


def test_pnp_column_builds_without_warnings():
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        crop_mod.polygon_contains_col(STAR, "x", "y")


def _expr_nodes(spark, poly) -> int:
    """Nodes in the analyzed PnP expression (one treeString line each)."""
    df = spark.range(1).selectExpr("CAST(id AS DOUBLE) AS x", "CAST(id AS DOUBLE) AS y")
    plan = df.select(crop_mod.polygon_contains_col(poly))._jdf.queryExecution().analyzed()
    return len(plan.expressions().apply(0).treeString().splitlines())


def test_pnp_expression_size_does_not_grow_with_edges(spark):
    sizes = {n: _expr_nodes(spark, Polygon(exterior=star_ring(n, 0.0, 0.0, 50.0)))
             for n in (6, 600, 10_000)}
    assert len(set(sizes.values())) == 1, sizes


def _plan_after_crop(spark, path, poly):
    # plan nodes abbreviate scan metadata (PushedFilters) to this length,
    # read when the node is planned
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "100000")
    try:
        out = crop(spark.read.parquet(path), [poly], mode="stream").groupBy(
            F.floor(F.col("x") / 30.0).alias("tile")).count()
        out.collect()
        return out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("edges", [8, 600])
def test_crop_plan_reads_xy_and_pushes_bbox(spark, tmp_path, edges):
    """A small and a large ring: the scan reads only (x, y), the polygon
    bbox reaches parquet as pushed filters, and no Python stage runs."""
    from pdal_spark.synth import synth_pages, with_coords

    path = str(tmp_path / "pages")
    with_coords(synth_pages(spark, 2000)).write.parquet(path)
    poly = Polygon(exterior=star_ring(edges, 10.0, 5.0, 60.0))
    plan = _plan_after_crop(spark, path, poly)
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan, node
    scan = plan[plan.index("FileScan parquet"):]
    assert "ReadSchema: struct<x:double,y:double>" in scan
    pushed = scan[scan.index("PushedFilters: ["):]
    pushed = pushed[:pushed.index("]")]
    b = poly.bbox()
    for f in (f"GreaterThanOrEqual(x,{b.minx!r}", f"LessThanOrEqual(x,{b.maxx!r}",
              f"GreaterThanOrEqual(y,{b.miny!r}", f"LessThanOrEqual(y,{b.maxy!r}"):
        assert f in pushed, (f, pushed)


def grid_lines(poly) -> tuple[np.ndarray, np.ndarray]:
    """The x of each column boundary and the y of each row boundary of
    the cell grid that polygon_pnp_sql indexes the ring's edges on."""
    e = np.array([s for s in crop_mod._edges(poly) if s[1] != s[3]])
    b = poly.bbox()
    g = crop_mod._grid(e, b)
    assert g.ky > 1 and g.kx > 1
    return b.minx + g.w * np.arange(g.kx + 1), b.miny + g.h * np.arange(g.ky + 1)


def _boundary_points(poly, ts) -> tuple[np.ndarray, np.ndarray]:
    """Vertices, edge midpoints, points along each vertex's y, points on
    each slanted edge (at fractions `ts`, by the kernel's own formula)
    and their float64 neighbours, and points on each grid line and its
    two neighbours."""
    px, py = [], []
    for x1, y1, x2, y2 in crop_mod._edges(poly):
        px += [x1, (x1 + x2) / 2]  # the vertex, the edge midpoint
        py += [y1, (y1 + y2) / 2]
        for x in (-1.0, x1 - 1e-9, x1 + 1e-9, (x1 + x2) / 2, 20.0):
            px.append(x)  # along the vertex's y
            py.append(y1)
        if y1 != y2:  # on the edge, by the kernel's own formula, and beside it
            for t in ts:
                y = y1 + t * (y2 - y1)
                x = (x2 - x1) * (y - y1) / (y2 - y1) + x1
                px += [x, np.nextafter(x, -np.inf), np.nextafter(x, np.inf)]
                py += [y, y, y]
    bb = poly.bbox()
    xs, ys = grid_lines(poly)
    for lines, across, on_x in ((xs, np.linspace(bb.miny, bb.maxy, 9), True),
                                (ys, np.linspace(bb.minx, bb.maxx, 9), False)):
        for v in lines:
            for u in (np.nextafter(v, -np.inf), v, np.nextafter(v, np.inf)):
                for a in across:
                    px.append(u if on_x else a)
                    py.append(a if on_x else u)
    return np.array(px), np.array(py)


SMALL = Polygon(
    exterior=((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (5.3, 14.7),
              (0.1, 10.3), (0.1, 0.0)),
    holes=(((2.0, 2.0), (4.0, 2.0), (3.1, 4.3)),),
)


def _check_boundaries(spark, poly, ts):
    xs, ys = _boundary_points(poly, ts)
    bb = poly.bbox()
    cx, cy = (bb.minx + bb.maxx) / 2, (bb.miny + bb.maxy) / 2
    for v in (np.nan, np.inf, -np.inf):
        xs = np.append(xs, [v, cx, v])
        ys = np.append(ys, [cy, v, v])
    with np.errstate(invalid="ignore"):
        want = pnp_even_odd_np(xs, ys, poly)
    assert want.any() and not want.all()
    rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(xs, ys))]
    n = len(rows)
    rows += [(n, None, cy), (n + 1, cx, None)]  # a null coordinate is outside
    df = spark.createDataFrame(rows, "id long, x double, y double").repartition(3)
    got = dict(df.select("id", crop_mod.polygon_contains_col(poly, "x", "y")).collect())
    assert [got[i] for i in range(n + 2)] == want.tolist() + [False, False]
    out = {r[0] for r in crop(df, [poly], outside=True, mode="stream")
           .select("id").collect()}
    assert out == {i for i in range(n + 2) if i >= n or not want[i]}


def test_pnp_builders_bit_identical_on_boundaries(spark):
    """Points on vertices, on vertical / horizontal / slanted edges, at a
    vertex's y and on every grid line, and NaN, +-Inf and null
    coordinates: polygon_contains_col equals pnp_even_odd_np row for row,
    and outside=True keeps exactly the other rows, null ones included."""
    _check_boundaries(spark, SMALL, np.arange(1, 17) / 17)


def test_pnp_large_ring_bit_identical_on_boundaries(spark):
    """As above, for a 610-edge ring with a hole."""
    _check_boundaries(spark, STAR, (0.25, 0.5))


@pytest.mark.parametrize("frame", ["ids", "pages"])
@pytest.mark.parametrize("edges", [480, 600])
def test_crop_large_ring_over_computed_coordinates(spark, edges, frame):
    """x and y computed in the same projection (with_coords: the LCG
    geocode over an id-only frame, the sha256 geocode over pages) are
    evaluated once per row, not once per edge."""
    from pdal_spark.synth import synth_pages, with_coords

    poly = Polygon(exterior=star_ring(edges, 10.0, 5.0, 150.0))
    if frame == "ids":
        df = with_coords(spark.range(N).withColumnRenamed("id", "page_id"))
    else:
        df = with_coords(synth_pages(spark, 2000))
    xy = df.select("page_id", "x", "y").toPandas()
    inside = pnp_even_odd_np(xy.x.to_numpy(), xy.y.to_numpy(), poly)
    assert inside.any() and not inside.all()
    got = {r[0] for r in crop(df, [poly], mode="stream").select("page_id").collect()}
    assert got == set(xy.page_id[inside].tolist())


@pytest.mark.parametrize("tok", ["nan", "inf", "-inf", "Infinity", "NaN"])
def test_wkt_rejects_non_finite_coordinates(tok):
    with pytest.raises(ValueError, match=tok):
        parse_wkt_polygons(f"POLYGON ((0 0, 1 0, {tok} 1, 0 0))")
    with pytest.raises(ValueError, match=tok):
        parse_wkt_polygons(f"MULTIPOLYGON (((0 0, 1 0, 1 {tok}, 0 0)))")
