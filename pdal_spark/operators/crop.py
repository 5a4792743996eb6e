"""filters.crop — keep points inside (or outside) boxes / circles / polygons.

Reference semantics (/root/reference/filters/CropFilter.cpp):
  * box:    inclusive contains, `cropOutside != contains` (252-258;
            Bounds.hpp:122 `minx <= x && x <= maxx && ...`)
  * circle: bbox pre-reject on |dx|,|dy|(,|dz|) > d, then strict
            `x²+y²(+z²) < d²` (295-318)
  * polygon: exact point-in-polygon; reference accelerates with a grid
            (GridPnp.hpp:60-80) — ours is the same even-odd ray cast
            over per-cell edge lists behind a bbox prefilter
            (polygon_pnp_sql)
  * batch mode emits ONE VIEW PER GEOMETRY (221-248) → `geom_id` column
  * stream mode ORs all geometries (146-162) → `crop_any`

Scale notes: geometries are small and travel inside the plan as literals;
every crop predicate runs inside the JVM, with no Python worker. Every
polygon test starts with its bbox as a plain predicate, which Spark
pushes to the parquet scan. The ring test is one expression of the same
size for any edge count: the edges are folded array literals, the
bbox is cut into a grid of cells, and each row folds over the edges of
its own cell only.
"""

from __future__ import annotations

import functools
import math
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdal_spark import geo


@dataclass(frozen=True)
class Box:
    minx: float
    miny: float
    maxx: float
    maxy: float
    minz: float | None = None
    maxz: float | None = None


@dataclass(frozen=True)
class Circle:
    x: float
    y: float
    distance: float
    z: float | None = None


@dataclass(frozen=True)
class Polygon:
    """Single exterior ring + optional holes, each [(x, y), ...] closed or open."""

    exterior: tuple[tuple[float, float], ...]
    holes: tuple[tuple[tuple[float, float], ...], ...] = field(default_factory=tuple)

    def rings(self):
        return (self.exterior, *self.holes)

    def bbox(self) -> Box:
        xs = [p[0] for p in self.exterior]
        ys = [p[1] for p in self.exterior]
        return Box(min(xs), min(ys), max(xs), max(ys))


def box_contains_sql(
    b: Box, x: str = "x", y: str = "y", z: str | None = None,
    dialect: str = "duckdb",
) -> str:
    """Inclusive box test; the z bounds apply when both they and `z` are set."""
    d = functools.partial(geo.sql_double, dialect=dialect)
    c = (
        f"{d(b.minx)} <= {x} AND {x} <= {d(b.maxx)} "
        f"AND {d(b.miny)} <= {y} AND {y} <= {d(b.maxy)}"
    )
    if b.minz is not None and z is not None:
        c += f" AND {d(b.minz)} <= {z} AND {z} <= {d(b.maxz)}"
    return f"({c})"


def circle_contains_sql(
    c: Circle, x: str = "x", y: str = "y", z: str | None = None,
    dialect: str = "duckdb",
) -> str:
    """Per-axis |d| <= distance pre-reject, then a strict squared-distance test."""
    d = functools.partial(geo.sql_double, dialect=dialect)
    r = d(c.distance)
    deltas = [f"abs({x} - {d(c.x)})", f"abs({y} - {d(c.y)})"]
    if c.z is not None and z is not None:
        deltas.append(f"abs({z} - {d(c.z)})")
    pre = " AND ".join(f"{v} <= {r}" for v in deltas)
    d2 = " + ".join(f"{v} * {v}" for v in deltas)
    return f"({pre} AND ({d2}) < {d(c.distance * c.distance)})"


# ---------------------------------------------------------------------------
# WKT parsing (POLYGON / MULTIPOLYGON)
# ---------------------------------------------------------------------------


def _split_depth0(s: str) -> list[str]:
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts]


def _wkt_ring(s: str) -> tuple:
    s = s.strip()
    if not (s.startswith("(") and s.endswith(")")):
        raise ValueError(f"bad WKT ring: {s[:40]!r}")
    pts = []
    for tok in s[1:-1].split(","):
        c = tok.split()
        xy = (float(c[0]), float(c[1]))  # Z (if any) ignored — 2-D crop
        if not all(map(math.isfinite, xy)):
            raise ValueError(f"non-finite WKT coordinate: {tok.strip()!r}")
        pts.append(xy)
    return tuple(pts)


def _wkt_poly(body: str) -> Polygon:
    rings = [_wkt_ring(r) for r in _split_depth0(body)]
    return Polygon(exterior=rings[0], holes=tuple(rings[1:]))


def parse_wkt_polygons(wkt: str) -> list[Polygon]:
    """Minimal WKT parser: POLYGON / MULTIPOLYGON, 2-D or 3-D
    coordinates (Z dropped — the reference's polygon crop is 2-D:
    CropFilter / EptReader passesPolyFilter both test (x, y) only)."""
    s = wkt.strip()
    u = s.upper()
    if "(" not in s or not s.endswith(")"):
        raise ValueError(f"bad WKT: {s[:60]!r}")
    body = s[s.index("(") + 1:len(s) - 1]
    if u.startswith("MULTIPOLYGON"):
        out = []
        for g in _split_depth0(body):
            g = g.strip()
            if not (g.startswith("(") and g.endswith(")")):
                raise ValueError(f"bad WKT polygon group: {g[:40]!r}")
            out.append(_wkt_poly(g[1:-1]))
        return out
    if u.startswith("POLYGON"):
        return [_wkt_poly(body)]
    raise ValueError(f"unsupported WKT geometry: {s[:30]!r}")


# ---------------------------------------------------------------------------
# Exact point-in-polygon: vectorized even-odd ray cast (numpy).
# ---------------------------------------------------------------------------


def _edges(poly: Polygon):
    """Every (x1, y1, x2, y2) edge over all rings, closing each ring."""
    for ring in poly.rings():
        pts = list(ring)
        if pts[0] == pts[-1]:
            pts = pts[:-1]
        n = len(pts)
        for i in range(n):
            yield (*pts[i], *pts[(i + 1) % n])


def pnp_even_odd_np(px: np.ndarray, py: np.ndarray, poly: Polygon) -> np.ndarray:
    """Even-odd (crossing-number) test over all rings; holes flip parity.

    Same decision procedure as the reference's GridPnp ray cast
    (filters/private/pnp/GridPnp.hpp:60-80), vectorized: for each edge
    (x1,y1)->(x2,y2), a rightward ray from p crosses iff
    (y1 > py) != (y2 > py) and px < x-at-py on the edge.
    """
    inside = np.zeros(len(px), dtype=bool)
    for x1, y1, x2, y2 in _edges(poly):
        crosses = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= crosses & (px < xint)
    return inside


# The grid's folded literals may hold at most this many entries per edge,
# plus a small constant (see _grid).
_GRID_FILL = 8


@dataclass(frozen=True)
class _Grid:
    """polygon_pnp_sql's edge index over the polygon's bbox: ky rows of
    height h by kx columns of width w. Per cell, in row-major order: the
    1-based start and length in `idx` of a prefix of its row's partial
    list, the start and length of its own list, and `base`, the parity of
    the edges that every point of the cell crosses."""

    h: float
    w: float
    ky: int
    kx: int
    idx: np.ndarray
    part_start: np.ndarray
    part_len: np.ndarray
    cell_start: np.ndarray
    cell_len: np.ndarray
    base: np.ndarray


def _expand(first: np.ndarray, count: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(owner, value) for every value in each range first[i] + [0, count[i])."""
    owner = np.repeat(np.arange(len(first)), count)
    return owner, first[owner] + np.arange(len(owner)) - np.repeat(np.cumsum(count) - count, count)


def _rows(e: np.ndarray, b: Box, m: float, ky: int):
    """(h, edge, row, spans, xmin, xmax) for every pair of an edge and a
    grid row whose y-ranges, the row's grown by m, meet: whether the edge
    spans the grown row, and its x-range between the grown row's bounds,
    grown by m."""
    x1, y1, x2, y2 = e.T
    lo, hi = np.minimum(y1, y2), np.maximum(y1, y2)
    h = ((b.maxy - b.miny) or 1.0) / ky
    ys = b.miny + h * np.arange(ky + 1)
    j0 = np.minimum(np.searchsorted(ys[1:] + m, lo), ky - 1)
    j1 = np.maximum(np.searchsorted(ys[:-1] - m, hi, "right") - 1, j0)
    k, j = _expand(j0, j1 - j0 + 1)
    spans = (lo[k] < ys[j] - m) & (hi[k] > ys[j + 1] + m)
    xa, xb = ((x2 - x1)[k] * (np.clip(v, lo[k], hi[k]) - y1[k]) / (y2 - y1)[k] + x1[k]
              for v in (ys[j] - m, ys[j + 1] + m))
    return h, k, j, spans, np.minimum(xa, xb) - m, np.maximum(xa, xb) + m


def _grid(e: np.ndarray, b: Box) -> _Grid:
    """Index the non-horizontal edges `e` (rows x1, y1, x2, y2) on a grid
    over the bbox `b`.

    A row of the bbox in cell (j, i), found by the SQL's DOUBLE steps,
    lies within the cell's rectangle grown by `m` on each side: `m` is
    1e-9 of the bbox's size and magnitude, far above the rounding of those
    steps and of the crossing point (x2 - x1) * (py - y1) / (y2 - y1) + x1.
    So, for each edge and each grid row its y-range meets (_rows):
      * if the edge spans the grown row, so that the y half of its
        crossing test holds for every point there, then every point in a
        column that ends left of the edge's x-range crosses it (`base`),
        no point in a column that starts right of it does, and the columns
        between list it;
      * otherwise it is in the row's partial list, ordered by its last
        column, and each cell tests the prefix that reaches the cell.
    Every edge a row can cross is tested exactly or counted in `base`,
    so the parity is pnp_even_odd_np's.

    The grid starts as one cell and doubles its rows or its columns,
    whichever lowers the mean number of edges a cell tests more, while
    that number falls and the literals hold at most _GRID_FILL entries
    per edge.
    """
    m = 1e-9 * (max(map(abs, (b.minx, b.miny, b.maxx, b.maxy)))
                + max(b.maxx - b.minx, b.maxy - b.miny))
    rows = functools.cache(lambda ky: _rows(e, b, m, ky))

    def columns(ky: int, kx: int):
        """rows(ky) with each pair's columns: [0, left) end before the
        edge, and (last, kx) start after it."""
        h, k, j, spans, xmin, xmax = rows(ky)
        w = ((b.maxx - b.minx) or 1.0) / kx
        xs = b.minx + w * np.arange(kx + 1)
        left = np.searchsorted(xs[1:] + m, xmin)
        last = np.minimum(np.searchsorted(xs[:-1] - m, xmax, "right") - 1, kx - 1)
        return h, w, k, j, spans, left, last

    def cost(ky: int, kx: int) -> tuple[float, int]:
        """Mean edges a cell tests, and literal entries."""
        *_, spans, left, last = columns(ky, kx)
        listed = int(np.maximum(last - left + 1, 0)[spans].sum())
        tested = int((last + 1)[~spans].sum()) + listed
        return tested / (ky * kx), int((~spans).sum()) + listed + 5 * ky * kx

    budget = _GRID_FILL * len(e) + 64
    best = (cost(1, 1)[0], (1, 1))
    while True:
        ky, kx = best[1]
        fits = [(c, shape) for shape in ((2 * ky, kx), (ky, 2 * kx))
                for c, size in [cost(*shape)] if size <= budget]
        step = min(fits, default=best)
        if step[0] >= best[0]:
            break
        best = step

    ky, kx = best[1]
    h, w, k, j, spans, left, last = columns(ky, kx)
    p, s = ~spans, spans
    # partial lists, by row and then by last column, latest first; reach[j,
    # c] counts row j's partial edges whose last column is c - 1, and cell
    # (j, i) tests those whose last column is i or later
    part = k[p][np.lexsort((-last[p], j[p]))]
    reach = np.bincount(j[p] * (kx + 1) + last[p] + 1, minlength=ky * (kx + 1))
    part_len = np.cumsum(reach.reshape(ky, kx + 1)[:, ::-1], axis=1)[:, ::-1][:, 1:]
    per_row = np.bincount(j[p], minlength=ky)
    # spanning edges: base parity left of each, listed in the columns it meets
    flips = (np.bincount(j[s] * (kx + 1), minlength=ky * (kx + 1))
             - np.bincount(j[s] * (kx + 1) + np.minimum(left[s], kx), minlength=ky * (kx + 1)))
    base = np.cumsum(flips.reshape(ky, kx + 1), axis=1)[:, :kx] % 2
    pair, col = _expand(left[s], np.maximum(last[s] - left[s] + 1, 0))
    cell = j[s][pair] * kx + col
    cell_len = np.bincount(cell, minlength=ky * kx)
    return _Grid(
        h, w, ky, kx,
        idx=np.concatenate([part, k[s][pair][np.argsort(cell, kind="stable")]]) + 1,
        part_start=np.repeat(np.cumsum(per_row) - per_row, kx) + 1,
        part_len=part_len.ravel(),
        cell_start=len(part) + np.cumsum(cell_len) - cell_len + 1,
        cell_len=cell_len,
        base=base.ravel(),
    )


def polygon_pnp_sql(
    poly: Polygon, x: str = "x", y: str = "y", dialect: str = "duckdb"
) -> str:
    """Bbox test AND the even-odd crossing parity, as one SQL string whose
    expression tree has the same size at 6 edges or 10,000.

    The bbox test is a plain conjunct, which Spark pushes to the scan.
    The non-horizontal edges travel as folded array literals (horizontal
    edges never cross, which also keeps ANSI mode off a division by
    zero), with the grid of _grid. A row computes its cell, clamped in
    DOUBLE so NaN and +-Inf never reach the cast, starts from the cell's
    `base` parity and folds over the cell's edges only. Per edge, the
    crossing test is pnp_even_odd_np's, in the same operation order, with
    x2 - x1 and y2 - y1 folded in Python, so the result is bit-identical
    to numpy's. A null coordinate tests FALSE.
    """
    d = functools.partial(geo.sql_double, dialect=dialect)
    arr = functools.partial(geo.sql_array, dialect=dialect)
    at = functools.partial(geo.sql_at, dialect=dialect)
    b = poly.bbox()
    bbox = box_contains_sql(b, x, y, dialect=dialect)
    e = np.array([s for s in _edges(poly) if s[1] != s[3]], dtype=np.float64)
    if not len(e):
        return f"({bbox} AND FALSE)"
    g = _grid(e, b)
    x1, y1, x2, y2 = e.T
    cols = [arr(v, "DOUBLE") for v in (x1, y1, y2, x2 - x1, y2 - y1)]
    IDX, PS, PN, CS, CN, BASE = (arr(v, "INT") for v in (
        g.idx, g.part_start, g.part_len, g.cell_start, g.cell_len, g.base))

    def cell(px: str, py: str) -> str:
        """The 1-based cell number of (px, py)."""
        def axis(v: str, lo: float, step: float, k: int) -> str:
            c = f"least(greatest(({v} - {d(lo)}) / {d(step)}, {d(0.0)}), {d(k - 1.0)})"
            return geo.sql_trunc(c, dialect, "INT")
        return f"({axis(py, b.miny, g.h, g.ky)} * {g.kx} + {axis(px, b.minx, g.w, g.kx)} + 1)"

    def crossing(px: str, py: str, ex1: str, ey1: str, ey2: str, edx: str, edy: str) -> str:
        return (f"(({ey1} > {py}) <> ({ey2} > {py})) AND "
                f"({px} < {edx} * ({py} - {ey1}) / {edy} + {ex1})")

    if dialect == "spark":
        # one-element exists bind x and y, then the cell, once per row, so
        # a computed coordinate is not evaluated again for each edge; the
        # parity is a boolean accumulator, which allocates nothing per
        # edge, and no crossing test sees a null
        edges = (f"concat(slice({IDX}, {at(PS, '_k')}, {at(PN, '_k')}), "
                 f"slice({IDX}, {at(CS, '_k')}, {at(CN, '_k')}))")
        hit = crossing("_p.x", "_p.y", *(at(c, "_i") for c in cols))
        fold = (
            f"exists(array(named_struct('x', {x}, 'y', {y})), _p -> "
            f"_p.x IS NOT NULL AND _p.y IS NOT NULL AND "
            f"exists(array({cell('_p.x', '_p.y')}), _k -> "
            f"aggregate({edges}, {at(BASE, '_k')} = 1, "
            f"(_c, _i) -> _c <> ({hit}))))"
        )
    else:
        # DuckDB folds no constant inside a lambda, so the edges reach it
        # as one zipped list, selected outside the lambda
        k = cell(x, y)

        def span(start: str, n: str) -> str:
            return f"list_slice({IDX}, {at(start, k)}, {at(start, k)} + {at(n, k)} - 1)"

        edges = (f"list_select(list_zip({', '.join(cols)}), "
                 f"list_concat({span(PS, PN)}, {span(CS, CN)}))")
        hit = crossing(x, y, *(f"_e[{j}]" for j in range(1, 6)))
        fold = (f"{x} IS NOT NULL AND {y} IS NOT NULL AND "
                f"(coalesce(list_sum(list_transform({edges}, "
                f"_e -> CASE WHEN {hit} THEN 1 ELSE 0 END)), 0) + {at(BASE, k)}) % 2 = 1")
    return f"({bbox} AND ({fold}))"


def polygon_contains_col(poly: Polygon, x: str = "x", y: str = "y") -> Column:
    """Exact even-odd PnP over columns `x`, `y` (names) as one Column:
    polygon_pnp_sql in the Spark dialect, whose bbox conjunct Spark
    pushes to the scan and whose ring test runs inside the JVM."""
    return F.expr(polygon_pnp_sql(poly, geo.sql_ident(x), geo.sql_ident(y), "spark"))


def polygon_contains(
    df: DataFrame, poly: Polygon, x: str = "x", y: str = "y", out: str = "_inside"
) -> DataFrame:
    """Add a boolean `out` column: exact PnP (see polygon_contains_col)."""
    return df.withColumn(out, polygon_contains_col(poly, x, y))


# ---------------------------------------------------------------------------
# The operator
# ---------------------------------------------------------------------------

Geometry = Box | Circle | Polygon


def crop(
    df: DataFrame,
    geometries: list[Geometry],
    outside: bool = False,
    mode: str = "batch",
    x: str = "x",
    y: str = "y",
    z: str | None = None,
) -> DataFrame:
    """Crop `df` to the given geometries.

    mode="batch"  -> one output view per geometry: result carries `geom_id`
                     (CropFilter.cpp:221-248; a point inside k geometries
                     appears k times, under k geom_ids).
    mode="stream" -> OR of all geometries, no duplication, no geom_id
                     (CropFilter.cpp:146-162).
    """
    if not geometries:
        raise ValueError("crop requires at least one geometry")
    if mode not in ("batch", "stream"):
        raise ValueError(f"mode must be 'batch' or 'stream', got {mode!r}")
    qx, qy = geo.sql_ident(x), geo.sql_ident(y)
    qz = geo.sql_ident(z) if z else None

    def contains(g: Geometry) -> Column:
        if isinstance(g, Box):
            return F.expr(box_contains_sql(g, qx, qy, qz, "spark"))
        if isinstance(g, Circle):
            return F.expr(circle_contains_sql(g, qx, qy, qz, "spark"))
        if isinstance(g, Polygon):
            return polygon_contains_col(g, x, y)
        raise TypeError(g)

    keep = [~contains(g) if outside else contains(g) for g in geometries]

    if mode == "stream":
        return df.filter(functools.reduce(lambda a, b: a | b, keep))

    # batch: tag each row with the array of geom_ids that keep it, explode.
    tags = F.array(*[F.when(c, F.lit(i)) for i, c in enumerate(keep)])
    return df.withColumn("geom_id", F.explode(F.filter(tags, lambda v: v.isNotNull())))


def hexagon_ring(cx: float, cy: float, r: float) -> Polygon:
    """Regular hexagon helper for tests (CropFilterTest uses WKT fixtures)."""
    pts = tuple(
        (cx + r * math.cos(math.pi / 3 * k), cy + r * math.sin(math.pi / 3 * k))
        for k in range(6)
    )
    return Polygon(exterior=pts)
