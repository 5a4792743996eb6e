"""One SQL source per spatial formula. Each ``*_sql`` builder's Spark
text (through F.expr), its DuckDB text (through DuckDB) and the numpy
oracle agree bit for bit, on the inputs where the formulas are most
fragile: exact negative tile boundaries, buffered-square edges, hex
mini-column and half-row edges, cell-grid clamp edges and domain corners,
LCG ids near 2^31, a polygon with horizontal edges, a 600-edge ring's
grid lines, and null coordinates
(Spark and DuckDB only: numpy has no null). The Hilbert key's oracle is
the textbook xy2d loop. The Spark Columns cost a few py4j calls each."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from pdal_spark import geo
from pdal_spark.operators import cellindex as ci
from pdal_spark.operators import crop
from pdal_spark.operators.crop import Box, Circle, Polygon, pnp_even_odd_np
from pdal_spark.operators.layout import HILBERT_ORDER, hilbert_key, hilbert_key_sql
from test_crop import grid_lines, star_ring
from test_layout import _grid, _xy2d
from test_splitter import square_contains_py

OX, OY = -60.0, -30.0        # shared origin: tile, hex and raster grids
TILE = 30.0                   # x < OX puts exact boundaries at dv/TILE < 0
BUF = 7.5                     # splitter buffer: square edges at tile edges -+ BUF
NEIGHBOURS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if dx or dy]
WORLD = (-180.0, -90.0, 180.0, 90.0)  # Hilbert bounds; +-200, +-100 clamp
HEX_H = 2.0 * geo.SQRT_3
HEX_W = geo.hex_dims(HEX_H)[0]
EDGE, HEIGHT = 7.5, 16        # raster cell edge and row count
LEVEL = 12
# 17 significant digits: a DECIMAL literal cast to DOUBLE lands an ulp off
VX, VY = 10.072436286667543, 30.254866444811178
BOX = Box(-90.0, -30.0, VX, VY)
CIRCLE = Circle(-60.0, -30.0, 30.0)
POLY = Polygon(  # horizontal edges at y = -30, 0, 45; one slanted edge
    exterior=((-90.0, -30.0), (0.0, -30.0), (VX, VY), (-45.0, VY),
              (-45.0, 0.0), (-75.0, 0.0), (-75.0, 45.0), (-90.0, 45.0)),
)
BIG = Polygon(exterior=star_ring(600, -30.0, 0.0, 150.0))  # > 512 edges


def _around(vals) -> list[float]:
    """Each value and its two float64 neighbours."""
    return [float(w) for v in vals
            for w in (np.nextafter(v, -np.inf), v, np.nextafter(v, np.inf))]


def _buffer_edges(origin: float) -> list[float]:
    """Buffered-square edges of a few tiles, as the splitter computes them."""
    lo = [origin + k * TILE - BUF for k in (-2, 0, 1)]
    return lo + [v + TILE + 2 * BUF for v in lo]


def _inputs() -> list[tuple]:
    n = 1 << LEVEL
    xs = _around(
        [-180.0 + TILE * k for k in range(13)]                      # tiles
        + [OX + (k + 2.0 / 3.0) * HEX_W for k in range(-3, 4)]      # mini-columns
        + [OX + k * HEX_W for k in range(-3, 4)]
        + [-200.0, 200.0]                                           # clamp
        + [-180.0 + k * 360.0 / n for k in (1, n // 2, n - 1)]      # cell edges
        + [-75.0, -45.0, VX, 12.3]
        + _buffer_edges(OX)
    )
    ys = _around(
        [-90.0 + TILE * k for k in range(7)]
        + [OY + k * HEX_H / 2.0 for k in range(-4, 5)]              # half-rows
        + [-100.0, 100.0]
        + [-90.0 + k * 180.0 / n for k in (1, n // 2, n - 1)]
        + [VY, 45.0, 7.7]
        + _buffer_edges(OY)
    )
    px = [x for x in xs for _ in ys]
    py = [y for _ in xs for y in ys]
    for t in range(1, 9):  # on the slanted edge, by numpy's own formula
        y = -30.0 + t / 9 * (VY + 30.0)
        px += _around([VX * (y + 30.0) / (VY + 30.0)])
        py += [y] * 3
    b = BIG.bbox()
    xs, ys = grid_lines(BIG)
    for y in _around(ys):  # each grid line of the big ring, and beside it
        px += np.linspace(b.minx, b.maxx, 9).tolist()
        py += [y] * 9
    for x in _around(xs):
        px += [x] * 9
        py += np.linspace(b.miny, b.maxy, 9).tolist()
    px += [None, 1.0, None]
    py += [1.0, None, None]
    # ids around 2^31: the LCG's first product approaches 2^63 there
    id0 = (1 << 31) - len(px) // 2
    return [(r, id0 + r, x, y) for r, (x, y) in enumerate(zip(px, py))]


def _cell_id_py(x, y):
    return ci.covering((x, y, x, y), LEVEL)[0]


def _hilbert_py(x, y):
    xi, yi = _grid(x, WORLD[0], WORLD[2]), _grid(y, WORLD[1], WORLD[3])
    return _xy2d(HILBERT_ORDER, xi, yi)


def _square_sql(x, y, d):
    tx, ty = geo.tile_coord_sql(x, OX, TILE, d), geo.tile_coord_sql(y, OY, TILE, d)
    return [geo.square_contains_sql(f"({tx} {dx:+d})", f"({ty} {dy:+d})", x, y,
                                    OX, OY, TILE, BUF, d)
            for dx, dy in NEIGHBOURS]


def _square_py(x, y):
    tx, ty = geo.tile_coord_np(x, OX, TILE), geo.tile_coord_np(y, OY, TILE)
    return [np.array([square_contains_py(int(a) + dx, int(b) + dy, u, v,
                                         TILE, OX, OY, BUF)
                      for a, b, u, v in zip(tx, ty, x, y)])
            for dx, dy in NEIGHBOURS]


# name -> (SQL texts for (id, x, y, dialect), numpy outputs for (id, x, y))
CASES = {
    "geocode_lcg": (
        lambda i, x, y, d: list(geo.geocode_lcg_sql(i, d)),
        lambda i, x, y: list(geo.geocode_lcg_np(i)),
    ),
    "tile_coord": (
        lambda i, x, y, d: [geo.tile_coord_sql(x, OX, TILE, d),
                            geo.tile_coord_sql(y, OY, TILE, d)],
        lambda i, x, y: [geo.tile_coord_np(x, OX, TILE), geo.tile_coord_np(y, OY, TILE)],
    ),
    "square_contains": (
        lambda i, x, y, d: _square_sql(x, y, d),
        lambda i, x, y: _square_py(x, y),
    ),
    "hex_cell": (
        lambda i, x, y, d: list(geo.hex_cell_sql(x, y, OX, OY, HEX_H, d)),
        lambda i, x, y: list(geo.hex_cell_np(x, y, OX, OY, HEX_H)),
    ),
    "raster_cell": (
        lambda i, x, y, d: list(geo.raster_cell_sql(x, y, OX, OY, EDGE, HEIGHT, d)),
        lambda i, x, y: list(geo.raster_cell_np(x, y, OX, OY, EDGE, HEIGHT)),
    ),
    "cell_id": (
        lambda i, x, y, d: [ci.cell_id_sql(x, y, LEVEL, dialect=d)],
        lambda i, x, y: [np.array([_cell_id_py(a, b) for a, b in zip(x, y)])],
    ),
    "hilbert_key": (
        lambda i, x, y, d: [hilbert_key_sql(x, y, WORLD, d)],
        lambda i, x, y: [np.array([_hilbert_py(a, b) for a, b in zip(x, y)])],
    ),
    "crop_box": (
        lambda i, x, y, d: [crop.box_contains_sql(BOX, x, y, dialect=d)],
        lambda i, x, y: [(BOX.minx <= x) & (x <= BOX.maxx)
                         & (BOX.miny <= y) & (y <= BOX.maxy)],
    ),
    "crop_circle": (
        lambda i, x, y, d: [crop.circle_contains_sql(CIRCLE, x, y, dialect=d)],
        lambda i, x, y: [
            (np.abs(x - CIRCLE.x) <= CIRCLE.distance)
            & (np.abs(y - CIRCLE.y) <= CIRCLE.distance)
            & (np.abs(x - CIRCLE.x) * np.abs(x - CIRCLE.x)
               + np.abs(y - CIRCLE.y) * np.abs(y - CIRCLE.y)
               < CIRCLE.distance * CIRCLE.distance)
        ],
    ),
    "crop_polygon": (
        lambda i, x, y, d: [crop.polygon_pnp_sql(p, x, y, d) for p in (POLY, BIG)],
        lambda i, x, y: [pnp_even_odd_np(x, y, p) for p in (POLY, BIG)],
    ),
}


@pytest.fixture(scope="module")
def inputs(spark):
    rows = _inputs()
    pdf = pd.DataFrame(rows, columns=["rid", "id", "x", "y"]).astype(
        {"x": "Float64", "y": "Float64"})  # nullable: DuckDB reads NULL
    return pdf, spark.createDataFrame(rows, "rid long, id long, x double, y double")


def _bits(vals) -> list:
    """Values as comparable bit patterns: floats by their IEEE-754 bits."""
    return [np.float64(v).view(np.int64).item() if isinstance(v, float) else v
            for v in vals]


@pytest.mark.parametrize("case", list(CASES))
def test_spark_duckdb_numpy_bit_identical(inputs, case):
    from pyspark.sql import functions as F

    sql, oracle = CASES[case]
    pdf, sdf = inputs
    q = geo.sql_ident
    spark_sql = sql(q("id"), q("x"), q("y"), "spark")
    got = sdf.select("rid", *[F.expr(t).alias(f"c{k}") for k, t in enumerate(spark_sql)])
    got = sorted(got.collect())
    ddb_sql = sql("id", "x", "y", "duckdb")
    con = duckdb.connect()
    con.register("t", pdf)
    exp = con.execute(
        "SELECT rid, " + ", ".join(f"{t} AS c{k}" for k, t in enumerate(ddb_sql))
        + " FROM t ORDER BY rid"
    ).fetchall()
    assert [r[0] for r in got] == [r[0] for r in exp] == list(pdf.rid)

    ok = pdf.x.notna() & pdf.y.notna()
    want = oracle(pdf.id[ok].to_numpy(np.int64), pdf.x[ok].to_numpy(np.float64),
                  pdf.y[ok].to_numpy(np.float64))
    for k, w in enumerate(want):
        s_col, d_col = [r[k + 1] for r in got], [r[k + 1] for r in exp]
        assert _bits(s_col) == _bits(d_col), (case, k)
        s_ok = [v for v, m in zip(s_col, ok) if m]
        assert _bits(s_ok) == _bits(np.asarray(w).tolist()), (case, k)


def _py4j_calls(spark, monkeypatch, build) -> tuple[int, int]:
    client = spark.sparkContext._gateway._gateway_client
    build()  # the first call may resolve JVM classes once
    n = 0
    send = client.send_command

    def counting(*a, **k):
        nonlocal n
        n += 1
        return send(*a, **k)

    monkeypatch.setattr(client, "send_command", counting)
    cols = build()
    monkeypatch.undo()
    return n, len(cols)


@pytest.mark.parametrize("build", [
    lambda: [ci.cell_id("x", "y", LEVEL)],
    lambda: list(geo.hex_cell("x", "y", OX, OY, HEX_H)),
    lambda: [geo.tile_coord("x", OX, TILE), geo.tile_coord("y", OY, TILE)],
    lambda: [hilbert_key("x", "y", WORLD)],
], ids=["cell_id", "hex_cell", "tile_coord", "hilbert_key"])
def test_column_builders_cost_few_py4j_calls(spark, monkeypatch, build):
    """Each Column is one F.expr over the builder's text: a handful of
    py4j round trips, not one or more per operator node."""
    n, cols = _py4j_calls(spark, monkeypatch, build)
    assert n <= 5 * cols, n
