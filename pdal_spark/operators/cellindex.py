"""S2-style hierarchical quadtree cell index over the page coordinate
domain — the "H3/S2 index" of the north rule.

Layout mirrors the public S2 cell-id trick (s2geometry.io/devguide/
s2cell_hierarchy): a 64-bit id carries the interleaved (y, x) position
bits followed by a single sentinel "lsb" bit that encodes the level:

    id(level L) = pos << (2*(MAX_LEVEL-L) + 1)  |  1 << (2*(MAX_LEVEL-L))

where pos is the 2L-bit Morton interleave (y bit above x bit per pair)
of the level-L grid coordinates. Consequences, all O(1) integer math:

  * every descendant of a cell lies in the CONTIGUOUS range
    [id - lsb + 1, id + lsb - 1]  (lsb = id & -id) — so a spatial
    region query compiles to a handful of BETWEEN predicates on a
    stored finest-level cell id, which parquet row-group stats prune
    (the classic S2 range-scan pushdown; see test_cellindex for the
    PushedFilters evidence);
  * parent(id, L') = (id & ~(2*lsb' - 1)) | lsb' — a mask, no rescan
    of the coordinates, so multi-level rollups run on already-
    aggregated data;
  * tokens are the hex id with trailing zeros stripped (S2 token form)
    — prefix-comparable: a cell's token is a prefix-truncation of its
    descendants' ids.

Everything is pure BIGINT column arithmetic, written once as SQL text
(the ``*_sql`` builders below, rendered per dialect by pdal_spark.geo):
Spark wraps it in one ``F.expr``, the DuckDB oracle runs it, and both
are bit-identical to numpy; zero Python in the hot path.

The planar analog: PDAL buckets space with hexbin/splitter grids
(flat, single-level); this index adds the hierarchical/range-scan
layer a 10^12-row table needs for partition pruning.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdal_spark.geo import sql_double, sql_ident

MAX_LEVEL = 20  # 2*20 position bits + sentinel = 41 bits < 63

# domain of the deterministic page geocode (geo.geocode_lcg)
DOMAIN = (-180.0, -90.0, 180.0, 90.0)


def _grid_coord_sql(v: str, lo: float, hi: float, level: int, dialect: str) -> str:
    """Clamped level-L grid coordinate in [0, 2^L - 1]."""
    n = 1 << level
    d = functools.partial(sql_double, dialect=dialect)
    raw = f"CAST(floor((({v}) - {d(lo)}) / {d(hi - lo)} * {d(n)}) AS BIGINT)"
    return f"least(greatest({raw}, 0), {n - 1})"


def _interleave_sql(yi: str, xi: str, level: int) -> str:
    """2L-bit Morton position: y bit above x bit per pair."""
    # NB: DuckDB/Postgres give << and | EQUAL precedence with left
    # associativity ("a | b << 3" is "(a | b) << 3"), so every term
    # must close its own parens around the shift.
    terms = []
    for b in range(level):
        terms.append(f"(((({xi}) >> {b}) & 1) << {2 * b})")
        terms.append(f"(((({yi}) >> {b}) & 1) << {2 * b + 1})")
    return "(" + " | ".join(terms) + ")"


def cell_id_sql(
    x: str, y: str, level: int,
    domain: tuple[float, float, float, float] = DOMAIN,
    dialect: str = "duckdb",
) -> str:
    """Level-L cell id of a point."""
    if not 0 < level <= MAX_LEVEL:
        raise ValueError(f"level must be in 1..{MAX_LEVEL}")
    x0, y0, x1, y1 = domain
    xi = _grid_coord_sql(x, x0, x1, level, dialect)
    yi = _grid_coord_sql(y, y0, y1, level, dialect)
    pos = _interleave_sql(f"({yi})", f"({xi})", level)
    shift = 2 * (MAX_LEVEL - level)
    return f"(({pos} << {shift + 1}) | {1 << shift})"


# parent and token render the same text in both dialects: integer
# literals and functions that Spark and DuckDB share


def cell_parent_sql(cid: str, level: int) -> str:
    """Ancestor of a cell id at a coarser level — mask arithmetic only."""
    lsb = 1 << (2 * (MAX_LEVEL - level))
    mask = ~(2 * lsb - 1) & ((1 << 63) - 1)  # ids are positive, 63-bit safe
    return f"((({cid}) & {mask}) | {lsb})"


def cell_token_sql(cid: str) -> str:
    """S2-form token: lowercase hex, trailing zeros stripped (the
    sentinel bit guarantees at least one non-zero nibble)."""
    return f"regexp_replace(printf('%016x', {cid}), '0+$', '')"


def cell_id(
    x: str, y: str, level: int,
    domain: tuple[float, float, float, float] = DOMAIN,
) -> Column:
    return F.expr(cell_id_sql(sql_ident(x), sql_ident(y), level, domain, "spark"))


def cell_parent(cid: str, level: int) -> Column:
    return F.expr(cell_parent_sql(sql_ident(cid), level))


def cell_token(cid: str) -> Column:
    return F.expr(cell_token_sql(sql_ident(cid)))


def cell_level(cid: int) -> int:
    """Level of a python-int cell id (driver-side)."""
    lsb = cid & -cid
    return MAX_LEVEL - (lsb.bit_length() - 1) // 2


def cell_range(cid: int) -> tuple[int, int]:
    """[lo, hi] id range covered by the cell's descendants (inclusive)."""
    lsb = cid & -cid
    return cid - lsb + 1, cid + lsb - 1


def covering(
    bbox: tuple[float, float, float, float], level: int,
    domain: tuple[float, float, float, float] = DOMAIN,
) -> list[int]:
    """Driver-side: the level-L cells intersecting a bbox (the small
    metadata computation of a region query — the data-side predicate is
    covering_ranges below)."""
    x0, y0, x1, y1 = domain
    n = 1 << level

    def g(v: float, lo: float, hi: float) -> int:
        import math

        raw = int(math.floor((v - lo) / (hi - lo) * n))
        return min(max(raw, 0), n - 1)

    bx0, by0, bx1, by1 = bbox
    cells = []
    shift = 2 * (MAX_LEVEL - level)
    for yi in range(g(by0, y0, y1), g(by1, y0, y1) + 1):
        for xi in range(g(bx0, x0, x1), g(bx1, x0, x1) + 1):
            pos = 0
            for b in range(level):
                pos |= ((xi >> b) & 1) << (2 * b)
                pos |= ((yi >> b) & 1) << (2 * b + 1)
            cells.append((pos << (shift + 1)) | (1 << shift))
    return sorted(cells)


def normalize_covering(cells: list[int]) -> list[int]:
    """S2-style covering normalization: whenever all 4 children of one
    parent are present, replace them with the parent; iterate to a
    fixpoint. An aligned box whose covering is O(4^L) cells collapses
    to O(L) cells — which keeps the pushdown predicate small."""
    cur = set(cells)
    changed = True
    while changed:
        changed = False
        by_parent: dict[int, list[int]] = {}
        for c in cur:
            lvl = cell_level(c)
            if lvl == 0:
                continue
            lsb = 1 << (2 * (MAX_LEVEL - (lvl - 1)))
            p = (c & ~(2 * lsb - 1)) | lsb
            by_parent.setdefault(p, []).append(c)
        for p, kids in by_parent.items():
            if len(kids) == 4:
                cur.difference_update(kids)
                cur.add(p)
                changed = True
    return sorted(cur)


def covering_ranges(
    bbox: tuple[float, float, float, float], level: int,
    domain: tuple[float, float, float, float] = DOMAIN,
) -> list[tuple[int, int]]:
    """Merged inclusive [lo, hi] id ranges whose union contains every
    finer-level id inside the (normalized) covering — the BETWEEN
    predicates a region query pushes down onto a stored cell_id
    column."""
    cells = normalize_covering(covering(bbox, level, domain))
    ranges = sorted(cell_range(c) for c in cells)
    merged: list[list[int]] = []
    for lo, hi in ranges:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    return [(lo, hi) for lo, hi in merged]


def range_filter(cid: Column, ranges: list[tuple[int, int]]) -> Column:
    """OR-of-BETWEEN predicate over a stored cell id column — plain
    comparisons, so parquet row-group stats prune the scan. The OR tree
    is built balanced so a many-range covering can't overflow the
    analyzer stack."""
    preds = [((cid >= F.lit(lo)) & (cid <= F.lit(hi))) for lo, hi in ranges]
    if not preds:
        return F.lit(False)
    while len(preds) > 1:
        preds = [
            preds[i] | preds[i + 1] if i + 1 < len(preds) else preds[i]
            for i in range(0, len(preds), 2)
        ]
    return preds[0]


def range_filter_sql(cid: str, ranges: list[tuple[int, int]]) -> str:
    if not ranges:
        return "FALSE"
    return (
        "(" + " OR ".join(f"({cid} BETWEEN {lo} AND {hi})" for lo, hi in ranges) + ")"
    )


def range_scan_join(
    df: DataFrame, cid_col: str, ranges: list[tuple[int, int]]
) -> DataFrame:
    """Region query over a COMPUTED cell-id column: broadcast the tiny
    covering-ranges table and semi-join on BETWEEN. The id expression
    is evaluated once per row (a projection), never substituted into
    each predicate — inlining range_filter over a computed id copies
    the whole interleave expression per range and blows up planning.
    For a STORED id column use range_filter instead: plain comparisons
    reach the parquet scan as PushedFilters."""
    if not ranges:
        return df.filter(F.lit(False))
    spark = df.sparkSession
    rdf = spark.createDataFrame(ranges, "_lo long, _hi long")
    cid = F.col(cid_col)
    return df.join(
        F.broadcast(rdf), (cid >= F.col("_lo")) & (cid <= F.col("_hi")),
        "left_semi",
    )


def cell_pnp_join(
    df: DataFrame, polygons: list, level: int = 6,
    cid_col: str = "cell_id", x: str = "x", y: str = "y",
) -> DataFrame:
    """Two-phase spatial join of points against a polygon set — the
    index-accelerated form of filters.crop batch mode (one output row
    per (point, containing polygon)):

      phase 1 (prune): each polygon's bbox covering compiles to a few
        [lo, hi] id ranges; the (geom_id, lo, hi) table is broadcast
        and range-joined on the cell id — candidates only, no PnP yet;
      phase 2 (refine): the exact even-odd PnP column
        (crop.polygon_contains_col) runs per candidate geom.

    At 10^12 rows phase 1 is what makes the join feasible: each point
    meets only the polygons whose covering it falls in, instead of
    evaluating every polygon's full ring test on every row. Ranges per
    geom are merged-disjoint, so a point joins each geom at most once
    (no dedup pass needed). Semantically equal to exact PnP per
    polygon — the oracle runs the index-free form."""
    from pdal_spark.operators import crop as crop_mod

    spark = df.sparkSession
    rows = []
    for gid, poly in enumerate(polygons):
        b = poly.bbox()
        for lo, hi in covering_ranges((b.minx, b.miny, b.maxx, b.maxy), level):
            rows.append((gid, lo, hi))
    if not rows:  # no polygons -> empty join result, keep the schema
        return df.withColumn("geom_id", F.lit(0)).filter(F.lit(False))
    rdf = spark.createDataFrame(rows, "geom_id int, _lo long, _hi long")
    cid = F.col(cid_col)
    cand = df.join(
        F.broadcast(rdf), (cid >= F.col("_lo")) & (cid <= F.col("_hi")), "inner"
    )
    # balanced OR tree, same reason as range_filter: a linear chain of
    # ring tests nests the analyzer hundreds deep for big polygon sets
    preds = [
        (F.col("geom_id") == gid)
        & crop_mod.polygon_contains_col(poly, x, y)
        for gid, poly in enumerate(polygons)
    ]
    while len(preds) > 1:
        preds = [
            preds[i] | preds[i + 1] if i + 1 < len(preds) else preds[i]
            for i in range(0, len(preds), 2)
        ]
    return cand.filter(preds[0]).drop("_lo", "_hi")


def cell_rollup(
    df: DataFrame, levels: list[int], x: str = "x", y: str = "y",
    domain: tuple[float, float, float, float] = DOMAIN,
) -> DataFrame:
    """Multi-level cell counts: ONE exchange at the finest level, then
    parent-mask rollups over the already-aggregated (small) table —
    the hypertable rollup shape; coarser levels never rescan the data.

    Output: (level, cell_id, n)."""
    finest = max(levels)
    base = df.groupBy(
        cell_id(x, y, finest, domain).alias("cell_id")
    ).agg(F.count(F.lit(1)).alias("n"))
    base = base.persist()
    out = base.withColumn("level", F.lit(finest))
    for lv in sorted(set(levels) - {finest}, reverse=True):
        up = (
            base.groupBy(cell_parent("cell_id", lv).alias("cell_id"))
            .agg(F.sum("n").alias("n"))
            .withColumn("level", F.lit(lv))
        )
        out = out.unionByName(up)
    return out.select("level", "cell_id", "n")


def cell_rollup_sql(
    table: str, levels: list[int], x: str = "x", y: str = "y",
    domain: tuple[float, float, float, float] = DOMAIN,
) -> str:
    finest = max(levels)
    base = (
        f"SELECT {cell_id_sql(x, y, finest, domain)} AS cell_id, "
        f"count(*) AS n FROM {table} GROUP BY 1"
    )
    parts = [f"SELECT {finest} AS level, cell_id, n FROM base"]
    for lv in sorted(set(levels) - {finest}, reverse=True):
        parts.append(
            f"SELECT {lv} AS level, {cell_parent_sql('cell_id', lv)} AS cell_id, "
            f"CAST(sum(n) AS BIGINT) AS n FROM base GROUP BY 2"
        )
    return f"WITH base AS ({base}) " + " UNION ALL ".join(parts)
