"""filters.splitter + kernels.tile — square-grid tiling with buffer overlap.

Reference semantics (/root/reference/filters/SplitterFilter.cpp:129-178):
  * tile id per axis: `int(dv/length)`, decrement if dv < 0
    (exact-boundary negatives land one tile lower than floor — matched)
  * buffer: a point is DUPLICATED into at most one x-neighbor, one
    y-neighbor, and one diagonal neighbor — the first tile in each
    else-if chain whose buffered square strictly contains it
  * buffer < length/2 enforced (SplitterFilter.cpp:73-81)
  * origin defaults to the first point in the reference — order-dependent,
    so we require it explicitly (same choice as kernels/TileKernel.cpp:225-229
    when driven at scale)

Spark shape: each tile id is one SQL expression (geo.tile_coord_sql, the
text the DuckDB oracle runs too) in WholeStageCodegen;
buffer duplication is a single explode over a ≤4-element array built with
the same strict inequalities — no join, no shuffle. The shuffle happens
once, at the partitioned write (kernels.tile), on the tile key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdal_spark import geo


def split(
    df: DataFrame,
    length: float,
    origin_x: float,
    origin_y: float,
    buffer: float = 0.0,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Assign (tile_x, tile_y); with buffer > 0, emit duplicate rows for
    tiles whose buffered square contains the point (≤4 rows per point)."""
    if buffer >= length / 2:
        raise ValueError(f"Buffer ({buffer}) must be less than half of length ({length})")

    out = df.withColumns({
        "tile_x": geo.tile_coord(x, origin_x, length),
        "tile_y": geo.tile_coord(y, origin_y, length),
    })
    if buffer <= 0.0:
        return out

    tx, ty = F.col("tile_x"), F.col("tile_y")

    def first(*offsets: tuple[int, int]) -> Column:
        """The first neighbour tile, in `offsets` order, whose buffered
        square strictly contains the point; null when none does."""
        chain = F.lit(None)
        for dx, dy in reversed(offsets):
            inside = F.expr(geo.square_contains_sql(
                f"(`tile_x` {dx:+d})", f"(`tile_y` {dy:+d})",
                geo.sql_ident(x), geo.sql_ident(y),
                origin_x, origin_y, length, buffer, "spark",
            ))
            cell = F.struct((tx + dx).alias("tx"), (ty + dy).alias("ty"))
            chain = F.when(inside, cell).otherwise(chain)
        return chain

    # else-if chains (SplitterFilter.cpp:147-166): at most one winner each.
    x_nb = first((-1, 0), (1, 0))
    y_nb = first((0, -1), (0, 1))
    d_nb = first((-1, -1), (-1, 1), (1, -1), (1, 1))
    cells = F.filter(
        F.array(F.struct(tx.alias("tx"), ty.alias("ty")), x_nb, y_nb, d_nb),
        lambda s: s.isNotNull(),
    )
    return (
        out.withColumn("_cell", F.explode(cells))
        .withColumn("tile_x", F.col("_cell.tx"))
        .withColumn("tile_y", F.col("_cell.ty"))
        .drop("_cell")
    )


def split_sql(
    length: float, origin_x: float, origin_y: float, x: str = "x", y: str = "y"
) -> tuple[str, str]:
    """DuckDB text of the unbuffered tile id expressions (geo.tile_coord_sql)."""
    return (
        geo.tile_coord_sql(x, origin_x, length),
        geo.tile_coord_sql(y, origin_y, length),
    )


def tile_job(
    df: DataFrame,
    out_path: str,
    length: float,
    origin_x: float,
    origin_y: float,
    buffer: float = 0.0,
    x: str = "x",
    y: str = "y",
    mode: str = "overwrite",
    tindex_path: str | None = None,
    tindex_hex_edge: float | None = None,
) -> None:
    """kernels.tile (/root/reference/kernels/TileKernel.cpp:90-310): the
    flagship throughput job — tile every page and write one directory per
    tile. PDAL streams with one open writer per live tile; the Spark
    equivalent is a single shuffle on the tile key feeding a partitioned
    parquet write (each task owns whole tiles → no tiny-file explosion).

    tindex_path: optionally also write the kernels.tindex-style per-tile
    boundary manifest (operators.tindex) as a sidecar parquet — the
    small catalog later scans prune against.
    """
    tiled = split(df, length, origin_x, origin_y, buffer, x=x, y=y)
    (
        tiled.repartition(F.col("tile_x"), F.col("tile_y"))
        .write.mode(mode)
        .partitionBy("tile_x", "tile_y")
        .parquet(out_path)
    )
    if tindex_path is not None:
        from pdal_spark.operators.tindex import tindex as tindex_op

        manifest = tindex_op(
            df, length, origin_x, origin_y,
            tindex_hex_edge or length / 8.0, x=x, y=y,
        )
        manifest.write.mode(mode).parquet(tindex_path)
