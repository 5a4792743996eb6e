"""kernels.tindex analog — per-tile boundary manifest.

Reference: /root/reference/kernels/TIndexKernel.cpp (createFile/
FileInfo loop): for every input FILE it records location, point count,
and a boundary geometry (hexbin-derived, or the bbox with
--fast_boundary) into one small index layer that later merge/crop runs
prune against.

Here the file unit is the splitter TILE (the FlexWriter '#' unit that
tile_job writes): the manifest has one row per tile with its point
count, exact bbox, and the hexer-exact union outline of the tile's
occupied hex cells (hexbin.boundary_wkt) — or the bbox polygon in
fast mode (TIndexKernel.cpp --fast_boundary twin).

Execution shape: per-(tile, hexcell) counts are one distributed
aggregate over the points (map-side combine); ring-building runs per
tile over its OWN cell list via applyInPandas — thousands of tiny
independent kernels, no driver collect. The manifest is tile-count
sized, i.e. the small table a 100 TB catalog scan prunes with.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdal_spark import geo
from pdal_spark.operators.hexbin import boundary_wkt


def tindex(
    df: DataFrame,
    tile_len: float,
    origin_x: float,
    origin_y: float,
    hex_edge: float,
    x: str = "x",
    y: str = "y",
    fast_boundary: bool = False,
) -> DataFrame:
    """One manifest row per occupied tile:
    (tile_x, tile_y, n_points, minx, miny, maxx, maxy, boundary WKT)."""
    height = hex_edge * math.sqrt(3.0)
    hx, hy = geo.hex_cell(x, y, origin_x, origin_y, height)
    tiled = (
        df.withColumn("tile_x", geo.tile_coord(x, origin_x, tile_len))
        .withColumn("tile_y", geo.tile_coord(y, origin_y, tile_len))
        .withColumn("_hx", hx)
        .withColumn("_hy", hy)
    )
    cells = tiled.groupBy("tile_x", "tile_y", "_hx", "_hy").agg(
        F.count("*").alias("_n"),
        F.min(x).alias("_minx"), F.min(y).alias("_miny"),
        F.max(x).alias("_maxx"), F.max(y).alias("_maxy"),
    )

    if fast_boundary:
        per_tile = cells.groupBy("tile_x", "tile_y").agg(
            F.sum("_n").alias("n_points"),
            F.min("_minx").alias("minx"), F.min("_miny").alias("miny"),
            F.max("_maxx").alias("maxx"), F.max("_maxy").alias("maxy"),
        )
        ring = F.concat_ws(
            "",
            F.lit("POLYGON (("),
            F.col("minx"), F.lit(" "), F.col("miny"), F.lit(", "),
            F.col("maxx"), F.lit(" "), F.col("miny"), F.lit(", "),
            F.col("maxx"), F.lit(" "), F.col("maxy"), F.lit(", "),
            F.col("minx"), F.lit(" "), F.col("maxy"), F.lit(", "),
            F.col("minx"), F.lit(" "), F.col("miny"),
            F.lit("))"),
        )
        return per_tile.withColumn("boundary", ring)

    schema = (
        "tile_x long, tile_y long, n_points long, minx double, miny double, "
        "maxx double, maxy double, boundary string"
    )

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        wkt = boundary_wkt(
            list(zip(pdf["_hx"].astype(int), pdf["_hy"].astype(int))),
            hex_edge, origin_x, origin_y,
        )
        return pd.DataFrame({
            "tile_x": [tx], "tile_y": [ty],
            "n_points": [int(pdf["_n"].sum())],
            "minx": [float(pdf["_minx"].min())],
            "miny": [float(pdf["_miny"].min())],
            "maxx": [float(pdf["_maxx"].max())],
            "maxy": [float(pdf["_maxy"].max())],
            "boundary": [wkt],
        })

    return cells.groupBy("tile_x", "tile_y").applyInPandas(kernel, schema=schema)


def tindex_prune(
    manifest: DataFrame,
    bbox: tuple[float, float, float, float],
) -> DataFrame:
    """readers.tindex consumer (TIndexKernel.cpp mergeFile: each index
    feature's geometry is tested against the query region and only
    intersecting files are read): keep manifest rows whose tile bbox
    intersects the query bbox. Join the surviving (tile_x, tile_y) keys
    against a partitioned tile store and the parquet source prunes those
    directories — the catalog-scan shape for 100 TB."""
    qminx, qminy, qmaxx, qmaxy = bbox
    return manifest.filter(
        (F.col("minx") <= qmaxx) & (F.col("maxx") >= qminx)
        & (F.col("miny") <= qmaxy) & (F.col("maxy") >= qminy)
    )


def write_tindex_layer(manifest: DataFrame, path: str) -> None:
    """kernels.tindex FILE product (TIndexKernel.cpp): one vector
    feature per tile — its bbox polygon (the kernel's fast-boundary
    shape) plus location/count properties — as distributed GeoJSONSeq
    shards readable by any OGR stack."""
    from pdal_spark.operators import ogr as ogr_op

    wkt = F.format_string(
        "POLYGON ((%s %s, %s %s, %s %s, %s %s, %s %s))",
        "minx", "miny", "maxx", "miny", "maxx", "maxy", "minx", "maxy",
        "minx", "miny",
    )
    feats = manifest.select(
        wkt.alias("_wkt"),
        F.concat_ws("_", "tile_x", "tile_y").alias("location"),
        F.col("n_points"),
    )
    ogr_op.geojson_polygon_lines(
        feats, "_wkt", ["location", "n_points"]
    ).write.mode("overwrite").text(path)


def write_file_tindex(manifest: DataFrame, path: str) -> None:
    """kernels.tindex over a FILE manifest (the write_las_parts shape:
    group/path/count/minx..maxy): one bbox-polygon GeoJSONSeq feature
    per written file, carrying location + point count — the index layer
    readers.tindex prunes against."""
    from pdal_spark.operators import ogr as ogr_op

    wkt = F.format_string(
        "POLYGON ((%s %s, %s %s, %s %s, %s %s, %s %s))",
        "minx", "miny", "maxx", "miny", "maxx", "maxy", "minx", "maxy",
        "minx", "miny",
    )
    feats = manifest.select(
        wkt.alias("_wkt"),
        F.col("group").alias("location"),
        F.col("count").alias("n_points"),
    )
    ogr_op.geojson_polygon_lines(
        feats, "_wkt", ["location", "n_points"]
    ).write.mode("overwrite").text(path)


def read_tindex(
    spark,
    layer_path: str,
    bbox: tuple[float, float, float, float],
    path_for,
    reader,
):
    """readers.tindex (io/TIndexReader.cpp): read the OGR-style
    tile-index layer, keep only the features whose geometry intersects
    the query bbox (TIndexReader's OGR spatial filter), and dispatch
    ONLY the surviving files to the point reader.

    `path_for(location) -> file path` maps index locations to data
    files; `reader(spark, paths) -> DataFrame` is the dispatched format
    reader (e.g. formats.las.read_las). The index layer is
    manifest-sized (one feature per file), so parsing + pruning runs as
    a distributed filter and only the pruned LOCATION LIST — never point
    data — reaches the driver. At 100 TB this is the catalog scan: the
    files a query touches are decided before any data task runs.
    """
    feat_schema = (
        "type string, "
        "geometry struct<type: string, "
        "coordinates: array<array<array<double>>>>, "
        "properties struct<location: string, n_points: bigint>"
    )
    feats = spark.read.text(layer_path).select(
        F.from_json(F.col("value"), feat_schema).alias("f")
    )
    ring = F.col("f.geometry.coordinates")[0]
    xs = F.transform(ring, lambda p: p[0])
    ys = F.transform(ring, lambda p: p[1])
    qminx, qminy, qmaxx, qmaxy = [float(v) for v in bbox]
    pruned = (
        feats.select(
            F.col("f.properties.location").alias("location"),
            F.array_min(xs).alias("minx"), F.array_min(ys).alias("miny"),
            F.array_max(xs).alias("maxx"), F.array_max(ys).alias("maxy"),
        )
        .filter(
            (F.col("minx") <= qmaxx) & (F.col("maxx") >= qminx)
            & (F.col("miny") <= qmaxy) & (F.col("maxy") >= qminy)
        )
    )
    locations = sorted(r.location for r in pruned.select("location").collect())
    if not locations:
        raise ValueError("tindex query bbox matches no index features")
    return reader(spark, [path_for(loc) for loc in locations]), locations
