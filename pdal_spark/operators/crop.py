"""filters.crop — keep points inside (or outside) boxes / circles / polygons.

Reference semantics (/root/reference/filters/CropFilter.cpp):
  * box:    inclusive contains, `cropOutside != contains` (252-258;
            Bounds.hpp:122 `minx <= x && x <= maxx && ...`)
  * circle: bbox pre-reject on |dx|,|dy|(,|dz|) > d, then strict
            `x²+y²(+z²) < d²` (295-318)
  * polygon: exact point-in-polygon; reference accelerates with a grid
            (GridPnp.hpp:60-80) — ours is the same even-odd ray cast
            behind a bbox prefilter (polygon_contains_col)
  * batch mode emits ONE VIEW PER GEOMETRY (221-248) → `geom_id` column
  * stream mode ORs all geometries (146-162) → `crop_any`

Scale notes: geometries are small and travel inside the plan as literals
(or in a UDF closure); box & circle predicates stay entirely in
WholeStageCodegen. Every polygon test starts with its bbox as a plain
predicate, which Spark pushes to the parquet scan. Up to
_EXPR_EDGE_LIMIT edges the ring test is one code-generated SQL
expression; above it a scalar Arrow UDF receives only the (x, y)
columns, and under a filter only the rows inside the bbox, and runs the
numpy ray cast on them.
"""

from __future__ import annotations

import functools
import math
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType
from pyspark.sql.udf import UserDefinedFunction
from pyspark.util import PythonEvalType

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


# Up to this many total edges the ring test is one SQL expression the JVM
# code-generates; above it the unrolled expression grows too large to plan
# quickly, so the ring test runs as an Arrow UDF over (x, y) instead.
_EXPR_EDGE_LIMIT = 512


def polygon_pnp_sql(
    poly: Polygon, x: str = "x", y: str = "y", dialect: str = "duckdb"
) -> str:
    """Bbox test AND the even-odd crossing sum, as one SQL string.

    Per edge, the crossing test is pnp_even_odd_np's, in the same
    operation order, with x2 - x1 and y2 - y1 folded in Python, so the
    engine's result is bit-identical to numpy's. Horizontal edges never
    cross and are skipped, which also keeps ANSI mode off a division by
    zero.
    """
    d = functools.partial(geo.sql_double, dialect=dialect)
    terms = [
        f"CASE WHEN (({d(y1)} > {y}) <> ({d(y2)} > {y})) AND "
        f"({x} < {d(x2 - x1)} * ({y} - {d(y1)}) / {d(y2 - y1)}"
        f" + {d(x1)}) THEN 1 ELSE 0 END"
        for x1, y1, x2, y2 in _edges(poly)
        if y1 != y2
    ]
    # a sum of 32-term sums: one left-deep chain of ~500 terms takes the
    # analyzer twice as long and can overflow the JVM stack in codegen,
    # while deeper parenthesis nesting slows the SQL parser down
    sums = [" + ".join(terms[i:i + 32]) for i in range(0, len(terms), 32)]
    odd = f"(((({') + ('.join(sums)})) % 2) = 1)" if terms else "FALSE"
    return f"({box_contains_sql(poly.bbox(), x, y, dialect=dialect)} AND {odd})"


def _pnp_expr_sql(poly: Polygon, x: str = "x", y: str = "y") -> str:
    """polygon_pnp_sql in the Spark dialect, over column names `x`, `y`."""
    return polygon_pnp_sql(poly, geo.sql_ident(x), geo.sql_ident(y), "spark")


def _pnp_arrow_col(poly: Polygon, x: str = "x", y: str = "y") -> Column:
    """Bbox test AND a scalar Arrow UDF over (x, y) only.

    The bbox stays a plain predicate, so Spark pushes it to the scan and
    evaluates the UDF only on rows that pass it; the UDF repeats the bbox
    test in numpy because a projection (batch mode, overlay) evaluates it
    on every row. A null coordinate reads as NaN and tests false, as in
    the SQL form, where its crossing terms all fall to ELSE 0.
    """
    b = poly.bbox()

    def pnp(xa: pa.Array, ya: pa.Array) -> pa.Array:
        px = np.asarray(xa.to_numpy(zero_copy_only=False), dtype=np.float64)
        py = np.asarray(ya.to_numpy(zero_copy_only=False), dtype=np.float64)
        cand = (b.minx <= px) & (px <= b.maxx) & (b.miny <= py) & (py <= b.maxy)
        res = np.zeros(len(px), dtype=bool)
        if cand.any():
            res[cand] = pnp_even_odd_np(px[cand], py[cand], poly)
        return pa.array(res)

    # evalType given outright: under postponed annotations, inferring it
    # from the type hints is fragile and warns
    udf = UserDefinedFunction(
        pnp, BooleanType(), name="polygon_pnp",
        evalType=PythonEvalType.SQL_SCALAR_ARROW_UDF,
    )
    qx, qy = geo.sql_ident(x), geo.sql_ident(y)
    return F.expr(box_contains_sql(b, qx, qy, dialect="spark")) & udf(F.col(qx), F.col(qy))


def polygon_contains_col(poly: Polygon, x: str = "x", y: str = "y") -> Column:
    """Exact even-odd PnP over columns `x`, `y` (names) as one Column.

    Same decision procedure as pnp_even_odd_np / polygon_pnp_sql, behind
    a bbox test that Spark pushes to the scan. Up to _EXPR_EDGE_LIMIT
    edges the whole test is one code-generated SQL expression, handed to
    the JVM in one call instead of several per edge; above
    it the ring test is a scalar Arrow UDF that receives only (x, y) and,
    under a filter, only the rows inside the bbox.
    """
    if sum(len(r) for r in poly.rings()) <= _EXPR_EDGE_LIMIT:
        return F.expr(_pnp_expr_sql(poly, x, y))
    return _pnp_arrow_col(poly, x, y)


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
