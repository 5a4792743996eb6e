"""Deterministic geocoding + spatial cell math: SQL text rendered per
dialect, plus numpy.

Every formula here has two sources where parity testing needs it. A
``*_sql`` builder writes it once as SQL text, rendered for one of two
dialects: ``"spark"``, which the engine wraps in one ``F.expr`` (the
Spark entry point of the same name without ``_sql``, taking column
names; JVM-side and codegen'd, the production path), and ``"duckdb"``,
which the DuckDB oracle runs. The other source is a numpy
implementation (the slow obviously-correct oracle used by tests,
mirroring the reference's stream-vs-standard dual-run pattern).

Reference semantics matched:
  * splitter tile assignment — int-cast-then-decrement floor and strict
    buffer inequalities per /root/reference/filters/SplitterFilter.cpp:129-178
  * hexbin cell addressing — offset-rectangle + mini-column slope
    correction per /root/reference/filters/private/hexer/HexGrid.cpp:181-260
    with C++ truncated-division ``%``/``(int)`` semantics
  * raster cell indexing — truncating index, y-flipped rows per
    /root/reference/io/private/GDALGrid.hpp:120-127
"""

from __future__ import annotations

import functools
import hashlib
import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

SQRT_3 = math.sqrt(3.0)
# The reference hexer library uses a TRUNCATED root-3 constant for the grid
# width (HexGrid.hpp:53 `static const double SQRT_3 = 1.732050808`) while
# HexBinFilter computes height with the exact sqrt(3) (HexBinFilter.cpp:100).
# Bit-parity on cell assignment requires replicating both choices exactly
# (verified against a compiled build of the reference hexer sources).
SQRT_3_HEXER = 1.732050808

# ---------------------------------------------------------------------------
# SQL rendering. The two dialects differ in DOUBLE literals, truncation,
# bit shifts and array lookups only, and these renderers are the only code
# that knows them. Builders splice the column expressions they are given
# as is; Spark entry points quote their column names with sql_ident first.
# ---------------------------------------------------------------------------


def sql_double(v: float, dialect: str) -> str:
    """A DOUBLE SQL literal that parses back to exactly `v`.

    Both engines read a bare ``1.5`` as DECIMAL: Spark would then divide
    in DECIMAL, and DuckDB's DECIMAL-to-DOUBLE cast can land one ulp off.
    Spark reads ``1.5D`` as DOUBLE; DuckDB reads an exponent form such as
    ``1.5e0`` as DOUBLE.
    """
    v = float(v)
    if not math.isfinite(v):
        raise ValueError(f"non-finite SQL literal: {v!r}")
    s = repr(v)
    if dialect == "spark":
        s += "D"
    elif "e" not in s:
        s += "e0"
    # parenthesised when signed, so the sign stays bound wherever it is spliced
    return f"({s})" if math.copysign(1.0, v) < 0 else s


def sql_trunc(e: str, dialect: str, to: str = "BIGINT") -> str:
    """DOUBLE `e` truncated toward zero to BIGINT (or `to`), like C++
    static_cast.

    Spark's CAST truncates; DuckDB's CAST rounds, so it truncates first.
    """
    if dialect == "spark":
        return f"CAST({e} AS {to})"
    return f"CAST(trunc({e}) AS {to})"


def sql_ident(name: str) -> str:
    """A column name as a quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_shiftleft(e: str, k: int, dialect: str) -> str:
    """Integer `e` shifted left by `k` bits. Spark's parser rejects the
    shift operators, so Spark calls its function; DuckDB has only the
    operator."""
    if dialect == "spark":
        return f"shiftleft({e}, {k})"
    return f"({e} << {k})"


def sql_shiftright(e: str, k: int, dialect: str) -> str:
    """Integer `e` shifted right by `k` bits (see sql_shiftleft)."""
    if dialect == "spark":
        return f"shiftright({e}, {k})"
    return f"({e} >> {k})"


def sql_array(values, elem: str, dialect: str) -> str:
    """An array of `elem` ("DOUBLE", "INT" or "BIGINT") carried as one
    string literal that the engine splits and casts.

    The optimizer folds the cast to one array constant, so the
    expression tree is a few nodes whatever the length; an
    ``array(v1, v2, ...)`` literal is one node per element to parse,
    analyze and fold. Floats travel as ``repr``, which both engines parse
    back to the same double.
    """
    py = float if elem == "DOUBLE" else int
    text = ",".join(map(repr, map(py, values)))
    if not text:
        raise ValueError("empty SQL array")
    if dialect == "spark":
        return f"CAST(split('{text}', ',') AS ARRAY<{elem}>)"
    return f"CAST(string_split('{text}', ',') AS {elem}[])"


def sql_at(arr: str, i: str, dialect: str) -> str:
    """Element `i` (1-based) of the array `arr`."""
    if dialect == "spark":
        return f"element_at({arr}, {i})"
    return f"list_extract({arr}, {i})"


def sql_int_lut(values: list[int], i: str, dialect: str) -> str:
    """`values[i]` as BIGINT, for a 0-based integer index `i`."""
    return sql_at(sql_array(values, "BIGINT", dialect), f"CAST({i} + 1 AS INT)", dialect)


# ---------------------------------------------------------------------------
# Geocoding: deterministic (key -> lon/lat). Two flavors:
#   * LCG over an integer id — expressible in pure SQL (Spark AND DuckDB),
#     used for oracle-checked queries over the shared test tables.
#   * SHA-256 over (url, warc_ts) — the pages-table geocode from the north
#     star; 52-bit mantissa slices so the double is exact everywhere.
# ---------------------------------------------------------------------------

# Two multiply-mod rounds: one round leaves small ids unmixed (id*a < 2^31
# never wraps), two rounds distribute uniformly. All intermediates < 2^63,
# so plain BIGINT arithmetic — identical in Spark, DuckDB, and numpy.
_HX = (2654435761, 12345, 48271, 11)
_HY = (2246822519, 101, 69621, 7)
_LCG_M = 2147483648  # 2^31


def _mix_sql(id_expr: str, p: tuple[int, int, int, int]) -> str:
    a1, c1, a2, c2 = p
    return f"((({id_expr} * {a1} + {c1}) % {_LCG_M}) * {a2} + {c2}) % {_LCG_M}"


def geocode_lcg_sql(id_expr: str, dialect: str = "duckdb") -> tuple[str, str]:
    """(x/lon in [-180, 180), y/lat in [-90, 90)) from an int64 id; exact
    in float64."""
    d = functools.partial(sql_double, dialect=dialect)
    m = d(_LCG_M)
    x = f"(({_mix_sql(id_expr, _HX)}) / {m}) * {d(360.0)} - {d(180.0)}"
    y = f"(({_mix_sql(id_expr, _HY)}) / {m}) * {d(180.0)} - {d(90.0)}"
    return x, y


def geocode_lcg_x(id_col: str) -> Column:
    return F.expr(geocode_lcg_sql(sql_ident(id_col), "spark")[0])


def geocode_lcg_y(id_col: str) -> Column:
    return F.expr(geocode_lcg_sql(sql_ident(id_col), "spark")[1])


def geocode_lcg_np(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    ids = ids.astype(np.int64)
    hx = ((ids * _HX[0] + _HX[1]) % _LCG_M * _HX[2] + _HX[3]) % _LCG_M
    hy = ((ids * _HY[0] + _HY[1]) % _LCG_M * _HY[2] + _HY[3]) % _LCG_M
    return (hx / _LCG_M) * 360.0 - 180.0, (hy / _LCG_M) * 180.0 - 90.0


_POW52 = float(1 << 52)


def geocode_sha2_x(url: Column, warc_ts: Column) -> Column:
    """lon from sha256(url|iso-ts): first 13 hex chars (52 bits, exact)."""
    h = F.sha2(
        F.concat(url, F.lit("|"), F.date_format(warc_ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")),
        256,
    )
    v = F.conv(F.substring(h, 1, 13), 16, 10).cast("double")
    return (v / F.lit(_POW52)) * F.lit(360.0) - F.lit(180.0)


def geocode_sha2_y(url: Column, warc_ts: Column) -> Column:
    """lat from sha256(url|iso-ts): hex chars 14..26 (52 bits, exact)."""
    h = F.sha2(
        F.concat(url, F.lit("|"), F.date_format(warc_ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")),
        256,
    )
    v = F.conv(F.substring(h, 14, 13), 16, 10).cast("double")
    return (v / F.lit(_POW52)) * F.lit(180.0) - F.lit(90.0)


def geocode_sha2_py(url: str, warc_ts_iso: str) -> tuple[float, float]:
    """Python oracle for geocode_sha2_{x,y}. ``warc_ts_iso`` like 2024-01-01T00:00:00Z."""
    h = hashlib.sha256(f"{url}|{warc_ts_iso}".encode()).hexdigest()
    x = (int(h[0:13], 16) / _POW52) * 360.0 - 180.0
    y = (int(h[13:26], 16) / _POW52) * 180.0 - 90.0
    return x, y


# ---------------------------------------------------------------------------
# Splitter tiles (SplitterFilter.cpp:129-178 semantics)
# ---------------------------------------------------------------------------


def tile_coord_sql(
    v: str, origin: float, length: float, dialect: str = "duckdb"
) -> str:
    """One axis of the splitter tile id: int-cast then decrement-if-negative.

    NOT plain floor: a point exactly on a negative tile boundary
    (dv/length integral and < 0) lands one tile lower than floor would
    put it — matching SplitterFilter.cpp:131-141 exactly.
    """
    dv = f"({v} - {sql_double(origin, dialect)})"
    pos = sql_trunc(f"{dv} / {sql_double(length, dialect)}", dialect)
    return f"(CASE WHEN {dv} < 0 THEN {pos} - 1 ELSE {pos} END)"


def tile_coord(v: str, origin: float, length: float) -> Column:
    return F.expr(tile_coord_sql(sql_ident(v), origin, length, "spark"))


def tile_coord_np(v: np.ndarray, origin: float, length: float) -> np.ndarray:
    dv = v - origin
    pos = np.trunc(dv / length).astype(np.int64)
    pos[dv < 0] -= 1
    return pos


def square_contains_sql(
    xpos: str, ypos: str, x: str, y: str,
    origin_x: float, origin_y: float, length: float, buffer: float,
    dialect: str = "duckdb",
) -> str:
    """Strict-inequality buffered-square test of tile (xpos, ypos)
    (SplitterFilter.cpp:170-178)."""
    d = functools.partial(sql_double, dialect=dialect)
    minx = f"({d(origin_x)} + CAST({xpos} AS DOUBLE) * {d(length)} - {d(buffer)})"
    maxx = f"({minx} + {d(length)} + {d(2.0 * buffer)})"
    miny = f"({d(origin_y)} + CAST({ypos} AS DOUBLE) * {d(length)} - {d(buffer)})"
    maxy = f"({miny} + {d(length)} + {d(2.0 * buffer)})"
    return f"({minx} < {x} AND {x} < {maxx} AND {miny} < {y} AND {y} < {maxy})"


# ---------------------------------------------------------------------------
# Hexbin cell addressing (HexGrid.cpp:181-260)
# ---------------------------------------------------------------------------


def hex_dims(height: float) -> tuple[float, float]:
    """(width, height) of the pointy-top hex grid (HexGrid.cpp:57-59) —
    width uses the reference's truncated SQRT_3 constant."""
    return (3.0 / (2.0 * SQRT_3_HEXER)) * height, height


def hex_cell_np(
    px: np.ndarray, py: np.ndarray, origin_x: float, origin_y: float, height: float
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized port of HexGrid::findHexagon (HexGrid.cpp:181-260).

    C++ semantics preserved: floor() for column/row, truncation for
    ``(int)halfrow``, truncated ``%`` (sign of dividend) for parity tests.
    The grid origin is an explicit parameter (the reference uses the first
    point — order-dependent, so callers must pin it; cf. SURVEY §7.3).
    """
    width = (3.0 / (2.0 * SQRT_3_HEXER)) * height
    x0 = np.asarray(px, dtype=np.float64) - origin_x
    y0 = np.asarray(py, dtype=np.float64) - origin_y

    col = x0 / width
    x = np.floor(col).astype(np.int64)
    x_even = (x % 2) == 0  # numpy % is floored, but ==0 test matches C for any sign
    y = np.where(
        x_even,
        np.floor(y0 / height),
        np.floor((y0 - (height / 2.0)) / height),
    ).astype(np.int64)

    xcol = col - np.floor(col)
    mini = xcol > (2.0 / 3.0)
    xoff = (xcol - 2.0 / 3.0) * 3.0

    halfrow = y0 / (height / 2.0)
    halfy = np.trunc(halfrow).astype(np.int64)  # C (int) cast: toward zero
    yrow = halfrow - np.floor(halfrow)

    # C++ `%` truncates toward zero: halfy % 2 in {-1, 0, 1}.
    halfy_even = (halfy - np.trunc(halfy / 2.0).astype(np.int64) * 2) == 0
    x_odd = ~x_even

    neg_slope = (halfy_even & x_even) | (x_odd & ~halfy_even)
    bump_neg = mini & neg_slope & (xoff > yrow)
    bump_pos = mini & ~neg_slope & (yrow > xoff)

    y = y - (bump_neg & x_even).astype(np.int64)
    y = y + (bump_pos & x_odd).astype(np.int64)
    x = x + (bump_neg | bump_pos).astype(np.int64)
    return x, y


def hex_cell_sql(
    px: str, py: str, origin_x: float, origin_y: float, height: float,
    dialect: str = "duckdb",
) -> tuple[str, str]:
    """SQL twin of hex_cell_np: (hex_x, hex_y) as BIGINT expressions.

    floor() for column/row, a truncating cast for ``(int)halfrow``, and
    `%` on integers truncates in both engines (as in C), so the
    even-tests are safe for negative cells.
    """
    d = functools.partial(sql_double, dialect=dialect)
    width = (3.0 / (2.0 * SQRT_3_HEXER)) * height
    x0 = f"({px} - {d(origin_x)})"
    y0 = f"({py} - {d(origin_y)})"
    col = f"({x0} / {d(width)})"
    x = f"CAST(floor({col}) AS BIGINT)"
    x_even = f"(({x}) % 2 = 0)"
    y = (
        f"CAST(CASE WHEN {x_even} THEN floor({y0} / {d(height)}) "
        f"ELSE floor(({y0} - {d(height / 2.0)}) / {d(height)}) END AS BIGINT)"
    )
    xcol = f"({col} - floor({col}))"
    mini = f"({xcol} > {d(2.0 / 3.0)})"
    xoff = f"(({xcol} - {d(2.0 / 3.0)}) * {d(3.0)})"
    halfrow = f"({y0} / {d(height / 2.0)})"
    halfy = sql_trunc(halfrow, dialect)
    yrow = f"({halfrow} - floor({halfrow}))"
    halfy_even = f"(({halfy}) % 2 = 0)"
    x_odd = f"(NOT {x_even})"
    neg = f"(({halfy_even} AND {x_even}) OR ({x_odd} AND NOT {halfy_even}))"
    bump_neg = f"({mini} AND {neg} AND ({xoff} > {yrow}))"
    bump_pos = f"({mini} AND NOT {neg} AND ({yrow} > {xoff}))"
    y_sql = (
        f"({y} - CASE WHEN {bump_neg} AND {x_even} THEN 1 ELSE 0 END"
        f" + CASE WHEN {bump_pos} AND {x_odd} THEN 1 ELSE 0 END)"
    )
    x_sql = f"({x} + CASE WHEN {bump_neg} OR {bump_pos} THEN 1 ELSE 0 END)"
    return x_sql, y_sql


def hex_cell(
    px: str, py: str, origin_x: float, origin_y: float, height: float
) -> tuple[Column, Column]:
    hx, hy = hex_cell_sql(
        sql_ident(px), sql_ident(py), origin_x, origin_y, height, "spark"
    )
    return F.expr(hx), F.expr(hy)


# ---------------------------------------------------------------------------
# Raster cell indexing (GDALGrid.hpp:120-127): truncating, y-flipped rows.
# ---------------------------------------------------------------------------


def raster_cell_sql(
    x: str, y: str, origin_x: float, origin_y: float, edge: float, height: int,
    dialect: str = "duckdb",
) -> tuple[str, str]:
    """(col, row) of a point's raster cell as BIGINT expressions."""
    d = functools.partial(sql_double, dialect=dialect)
    i = sql_trunc(f"({x} - {d(origin_x)}) / {d(edge)}", dialect)
    j = sql_trunc(f"({y} - {d(origin_y)}) / {d(edge)}", dialect)
    return i, f"({int(height)} - {j} - 1)"


def raster_cell(
    x: str, y: str, origin_x: float, origin_y: float, edge: float, height: int
) -> tuple[Column, Column]:
    i, j = raster_cell_sql(
        sql_ident(x), sql_ident(y), origin_x, origin_y, edge, height, "spark"
    )
    return F.expr(i), F.expr(j)


def raster_cell_np(
    x: np.ndarray, y: np.ndarray, origin_x: float, origin_y: float,
    edge: float, height: int,
) -> tuple[np.ndarray, np.ndarray]:
    i = np.trunc((x - origin_x) / edge).astype(np.int64)
    j = height - np.trunc((y - origin_y) / edge).astype(np.int64) - 1
    return i, j
