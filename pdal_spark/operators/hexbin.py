"""filters.hexbin — hex-cell density + dense-cell boundary.

Reference semantics (/root/reference/filters/HexBinFilter.cpp +
filters/private/hexer/):
  * user param edge_length; grid height = edge_length * sqrt(3)
    (HexBinFilter.cpp:100), width = (3/(2*sqrt3)) * height (HexGrid.cpp:57)
  * cell addressing: offset-rectangle + mini-column slope correction
    (HexGrid.cpp:181-260) — one SQL builder, pdal_spark.geo.hex_cell_sql
    (Spark F.expr and DuckDB oracle), plus the numpy twin hex_cell_np
  * origin = first point in the reference (order-dependent) — pinned
    explicitly here, as the reference's own tests effectively do
  * auto edge: h = density * (sum of consecutive-pair distances) / n over
    the first `sample_size` points (Processor.cpp:56-66)
  * dense cell: count >= threshold (HexGrid.cpp:69-72, default 15)
  * boundary: union outline of dense cells (hexer path trace); we emit
    the exact unsmoothed outline as WKT (smoothing tolerance is a
    presentation step, documented non-goal)
  * per-grid stats: hexArea = (3*sqrt3/2)*h^2, density = count/area
    (HexBinFilter.cpp:237-263)

Scale shape: cell id assignment is codegen'd column math; density is one
groupBy on a packed 64-bit cell key — the same shuffle shape as an H3/S2
rollup, which is exactly what the north star's "H3/S2 cell aggregation"
asks for. Boundary tracing runs driver-side over dense cells only
(#dense-cells << #points).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdal_spark import geo

SQRT_3 = math.sqrt(3.0)
SQRT_3_HEXER = geo.SQRT_3_HEXER  # truncated constant, see pdal_spark.geo


def hex_cells(
    df: DataFrame,
    edge_length: float,
    origin_x: float,
    origin_y: float,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Assign (hex_x, hex_y) cell coordinates (HexGrid::findHexagon)."""
    height = edge_length * SQRT_3
    hx, hy = geo.hex_cell(x, y, origin_x, origin_y, height)
    return df.withColumn("hex_x", hx).withColumn("hex_y", hy)


def hex_key(df: DataFrame, out: str = "hex_key") -> DataFrame:
    """Pack (hex_x, hex_y) into one int64 shuffle key (H3-style single
    column; Hexagon::key does the same, Hexagon.hpp)."""
    return df.withColumn(
        out, F.shiftleft(F.col("hex_x"), 32) | (F.col("hex_y") & F.lit(0xFFFFFFFF))
    )


def density(
    df: DataFrame,
    edge_length: float,
    origin_x: float,
    origin_y: float,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Per-cell counts: (hex_x, hex_y, count)."""
    return (
        hex_cells(df, edge_length, origin_x, origin_y, x, y)
        .groupBy("hex_x", "hex_y")
        .agg(F.count("*").alias("count"))
    )


def dense_cells(density_df: DataFrame, threshold: int = 15) -> DataFrame:
    """HexGrid::dense: count >= threshold (default HexBinFilter.cpp:76)."""
    return density_df.filter(F.col("count") >= threshold)


def estimate_edge(
    df: DataFrame,
    sample_size: int = 5000,
    density: int = 10,
    order_col: str = "page_id",
    x: str = "x",
    y: str = "y",
) -> float:
    """Auto edge estimation (Processor.cpp:56-66): over the first
    sample_size points in arrival order, height = density * mean
    consecutive-pair distance; edge = height / sqrt(3).

    Inherently order-dependent (the reference samples arrival order);
    we pin order with order_col and run driver-side on the small sample.
    """
    rows = (
        df.select(order_col, x, y).orderBy(order_col).limit(sample_size).collect()
    )
    if len(rows) < 2:
        raise ValueError("need at least 2 points to estimate edge length")
    dist = 0.0
    for a, b in zip(rows, rows[1:]):
        dist += math.hypot(b[x] - a[x], b[y] - a[y])
    height = density * dist / len(rows)
    return height / SQRT_3


# ---------------------------------------------------------------------------
# geometry of a cell + boundary trace (driver-side, dense cells only)
# ---------------------------------------------------------------------------


def hex_corners(
    hx: int, hy: int, edge_length: float, origin_x: float, origin_y: float
) -> list[tuple[float, float]]:
    """The 6 vertices of cell (hx, hy), in hexer's offset order
    (HexGrid.cpp:60-66 m_offsets; anchor math Segment.cpp:128-139)."""
    height = edge_length * SQRT_3
    width = (3.0 / (2.0 * SQRT_3_HEXER)) * height
    ax = hx * width + origin_x
    ay = hy * height + (height / 2.0 if hx % 2 else 0.0) + origin_y
    offs = [
        (0.0, 0.0),
        (-width / 3.0, height / 2.0),
        (0.0, height),
        (2.0 * width / 3.0, height),
        (width, height / 2.0),
        (2.0 * width / 3.0, 0.0),
    ]
    return [(ax + dx, ay + dy) for dx, dy in offs]


def boundary_wkt(
    cells: list[tuple[int, int]],
    edge_length: float,
    origin_x: float,
    origin_y: float,
    ndigits: int = 9,
) -> str:
    """Exact union outline of a set of hex cells as WKT MULTIPOLYGON.

    Interior edges (shared by two cells in the set) cancel; remaining
    directed edges chain into rings. Replaces hexer's segment-walk
    (Path/Segment.cpp) with an order-free edge-cancellation construction
    — same outline, no smoothing.
    """
    def q(p):
        return (round(p[0], ndigits), round(p[1], ndigits))

    edges: dict[tuple, tuple] = {}
    for hx, hy in cells:
        cs = [q(p) for p in hex_corners(hx, hy, edge_length, origin_x, origin_y)]
        for i in range(6):
            a, b = cs[i], cs[(i + 1) % 6]
            if (b, a) in edges:
                del edges[(b, a)]
            else:
                edges[(a, b)] = (a, b)

    succ: dict[tuple, list[tuple]] = {}
    for a, b in edges:
        succ.setdefault(a, []).append(b)

    rings: list[list[tuple]] = []
    while succ:
        start = next(iter(succ))
        ring = [start]
        cur = start
        while True:
            nxts = succ.get(cur)
            if not nxts:
                break
            nxt = nxts.pop()
            if not nxts:
                del succ[cur]
            if nxt == start:
                break
            ring.append(nxt)
            cur = nxt
        rings.append(ring)

    # classify: hexer corner order winds CLOCKWISE (m_offsets,
    # HexGrid.cpp:60-66), and edge directions are preserved through
    # cancellation — so outer shells come out clockwise (negative signed
    # area) and holes counterclockwise (positive). Assign each hole to the
    # shell containing its first vertex.
    def area(r):
        s = 0.0
        for (x1, y1), (x2, y2) in zip(r, r[1:] + [r[0]]):
            s += x1 * y2 - x2 * y1
        return s / 2.0

    shells = [r for r in rings if area(r) < 0]
    holes = [r for r in rings if area(r) >= 0]

    def contains(poly, pt):
        inside = False
        px, py = pt
        for (x1, y1), (x2, y2) in zip(poly, poly[1:] + [poly[0]]):
            if (y1 > py) != (y2 > py) and px < (x2 - x1) * (py - y1) / (y2 - y1) + x1:
                inside = not inside
        return inside

    polys: list[list[list[tuple]]] = [[s] for s in shells]
    for h in holes:
        for p in polys:
            if contains(p[0], h[0]):
                p.append(h)
                break

    def ring_wkt(r):
        pts = r + [r[0]]
        return "(" + ", ".join(f"{px:.9g} {py:.9g}" for px, py in pts) + ")"

    body = ", ".join("(" + ", ".join(ring_wkt(r) for r in p) + ")" for p in polys)
    return f"MULTIPOLYGON ({body})"


def density_layer(
    df: DataFrame,
    edge_length: float,
    origin_x: float,
    origin_y: float,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """kernels.density output layer (/root/reference/kernels/
    DensityKernel.cpp:103-123 writeHexbinOutput): one feature per
    occupied hex cell — COUNT + the cell's hexagon POLYGON WKT (the
    reference writes these into an OGR layer; here it is a DataFrame a
    writer can sink anywhere). Corner math stays a pure Column
    expression via the shared hex anchor formulas — no per-row Python.
    """
    height = edge_length * SQRT_3
    width = (3.0 / (2.0 * SQRT_3_HEXER)) * height
    dens = density(df, edge_length, origin_x, origin_y, x, y)
    ax = F.col("hex_x") * width + origin_x
    ay = (
        F.col("hex_y") * height
        + F.when(F.col("hex_x") % 2 != 0, height / 2.0).otherwise(0.0)
        + origin_y
    )
    offs = [
        (0.0, 0.0),
        (-width / 3.0, height / 2.0),
        (0.0, height),
        (2.0 * width / 3.0, height),
        (width, height / 2.0),
        (2.0 * width / 3.0, 0.0),
    ]
    pts = [
        F.concat_ws(" ", F.format_number(ax + dx, 9), F.format_number(ay + dy, 9))
        for dx, dy in offs
    ]
    ring = F.concat_ws(", ", *pts, pts[0])
    return dens.select(
        "hex_x", "hex_y", "count",
        F.concat(F.lit("POLYGON (("), ring, F.lit("))")).alias("wkt"),
    )
