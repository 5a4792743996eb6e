"""Splitter parity tests.

Goldens: the analytic 16-tile lattice fixture from
/root/reference/test/unit/filters/SplitterTest.cpp:159-210 (test_buffer2):
FauxReader grid mode over BOX(0,0,1000,1000) = 1000x1000 integer lattice
(x = i % 1000, y = (i/1000) % 1000, io/FauxReader.cpp:194-203), splitter
length=300 origin=(500,500) buffer=25 -> 16 tiles with exact counts.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pdal_spark import geo
from pdal_spark.operators import splitter
from pdal_spark.synth import synth_points

GOLD_BUFFER2 = [
    50625, 78525, 78525, 50400, 78525, 121801, 121801, 78176,
    78525, 121801, 121801, 78176, 50400, 78176, 78176, 50176,
]


def lattice(spark, n=1000):
    df = spark.range(0, n * n, 1, 8)
    return df.select(
        F.col("id").alias("page_id"),
        (F.col("id") % n).cast("double").alias("x"),
        ((F.col("id") / n).cast("long") % n).cast("double").alias("y"),
    )


def test_buffer2_lattice_counts(spark):
    df = lattice(spark)
    out = splitter.split(df, length=300.0, origin_x=500.0, origin_y=500.0, buffer=25.0)
    counts = (
        out.groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n"), F.min("x").alias("minx"), F.min("y").alias("miny"))
        .orderBy("minx", "miny")
        .collect()
    )
    assert len(counts) == 16
    assert [r["n"] for r in counts] == GOLD_BUFFER2


def test_negative_boundary_truncation(spark):
    # dx exactly on a negative tile boundary lands one tile LOWER than
    # floor: SplitterFilter.cpp:131-135 (trunc then decrement).
    df = spark.createDataFrame(
        [(0, 200.0, 500.0), (1, 500.0, 500.0), (2, 800.0, 500.0)],
        "page_id long, x double, y double",
    )
    out = splitter.split(df, length=300.0, origin_x=500.0, origin_y=500.0)
    rows = {r["page_id"]: (r["tile_x"], r["tile_y"]) for r in out.collect()}
    assert rows[0] == (-2, 0)  # dx=-300 exact boundary -> -2, not floor's -1
    assert rows[1] == (0, 0)
    assert rows[2] == (1, 0)


def square_contains_py(xp, yp, x, y, length, ox, oy, buffer):
    """SplitterFilter::squareContains: strict inequalities against tile
    (xp, yp)'s buffered square."""
    minx = ox + xp * length - buffer
    maxx = minx + length + 2 * buffer
    miny = oy + yp * length - buffer
    maxy = miny + length + 2 * buffer
    return minx < x < maxx and miny < y < maxy


def numpy_split_oracle(ids, xs, ys, length, ox, oy, buffer):
    """Slow obviously-correct port of SplitterFilter::processPoint."""
    out = []

    def sq(xp, yp, x, y):
        return square_contains_py(xp, yp, x, y, length, ox, oy, buffer)

    for i, x, y in zip(ids, xs, ys):
        dx, dy = x - ox, y - oy
        xp = int(dx / length) - (1 if dx < 0 else 0)
        yp = int(dy / length) - (1 if dy < 0 else 0)
        out.append((i, xp, yp))
        if buffer > 0:
            if sq(xp - 1, yp, x, y):
                out.append((i, xp - 1, yp))
            elif sq(xp + 1, yp, x, y):
                out.append((i, xp + 1, yp))
            if sq(xp, yp - 1, x, y):
                out.append((i, xp, yp - 1))
            elif sq(xp, yp + 1, x, y):
                out.append((i, xp, yp + 1))
            if sq(xp - 1, yp - 1, x, y):
                out.append((i, xp - 1, yp - 1))
            elif sq(xp - 1, yp + 1, x, y):
                out.append((i, xp - 1, yp + 1))
            elif sq(xp + 1, yp - 1, x, y):
                out.append((i, xp + 1, yp - 1))
            elif sq(xp + 1, yp + 1, x, y):
                out.append((i, xp + 1, yp + 1))
    return sorted(out)


@pytest.mark.parametrize("buffer", [0.0, 7.5])
def test_split_matches_numpy_oracle_on_hashed_points(spark, buffer):
    df = synth_points(spark, 3000)
    out = splitter.split(df, length=40.0, origin_x=-180.0, origin_y=-90.0, buffer=buffer)
    got = sorted(
        (r["page_id"], r["tile_x"], r["tile_y"])
        for r in out.select("page_id", "tile_x", "tile_y").collect()
    )
    ids = np.arange(3000)
    xs, ys = geo.geocode_lcg_np(ids)
    want = numpy_split_oracle(ids.tolist(), xs.tolist(), ys.tolist(), 40.0, -180.0, -90.0, buffer)
    assert got == want


def test_split_partition_invariance(spark):
    # Spark analog of the reference's standard-vs-stream dual run
    # (test/unit/StreamingTest.cpp:48-166): results identical at any
    # partitioning.
    df = synth_points(spark, 2000)
    a = splitter.split(df.repartition(1), 25.0, 0.0, 0.0, buffer=5.0)
    b = splitter.split(df.repartition(8), 25.0, 0.0, 0.0, buffer=5.0)
    key = ["page_id", "tile_x", "tile_y"]
    assert sorted(map(tuple, a.select(key).collect())) == sorted(
        map(tuple, b.select(key).collect())
    )


def test_tindex_manifest(spark, tmp_path):
    """kernels.tindex analog: per-tile counts/bbox + hexer boundary WKT
    (literal golden via a direct boundary_wkt call on the same cells),
    and the fast_boundary bbox-polygon twin."""
    import math

    import pandas as pd

    from pdal_spark.operators import tindex as ti
    from pdal_spark.operators.hexbin import boundary_wkt
    from pdal_spark import geo as geo_mod

    rows = [
        (0, 1.0, 1.0), (1, 2.0, 2.0), (2, 8.0, 9.0),   # tile (0,0)
        (3, 12.0, 1.0), (4, 17.0, 7.0),                 # tile (1,0)
    ]
    df = spark.createDataFrame(rows, "page_id long, x double, y double")
    out = ti.tindex(df, tile_len=10.0, origin_x=0.0, origin_y=0.0,
                    hex_edge=2.0).toPandas().sort_values("tile_x")
    assert list(out.tile_x) == [0, 1]
    assert list(out.n_points) == [3, 2]
    t0 = out[out.tile_x == 0].iloc[0]
    assert (t0.minx, t0.miny, t0.maxx, t0.maxy) == (1.0, 1.0, 8.0, 9.0)
    # literal golden: boundary == boundary_wkt over this tile's hex cells
    height = 2.0 * math.sqrt(3.0)
    cells = set()
    for _, px, py in rows[:3]:
        hx, hy = geo_mod.hex_cell_np(
            pd.Series([px]).to_numpy(), pd.Series([py]).to_numpy(),
            0.0, 0.0, height,
        )
        cells.add((int(hx[0]), int(hy[0])))
    assert t0.boundary == boundary_wkt(sorted(cells), 2.0, 0.0, 0.0)

    fast = ti.tindex(df, 10.0, 0.0, 0.0, hex_edge=2.0,
                     fast_boundary=True).toPandas().sort_values("tile_x")
    b0 = fast[fast.tile_x == 0].iloc[0].boundary
    assert b0 == "POLYGON ((1.0 1.0, 8.0 1.0, 8.0 9.0, 1.0 9.0, 1.0 1.0))"


def test_tile_job_tindex_sidecar(spark, tmp_path):
    from pdal_spark import synth
    from pdal_spark.operators.splitter import tile_job

    df = synth.synth_points(spark, 300, num_partitions=4)
    tile_job(df, str(tmp_path / "tiles"), 30.0, -180.0, -90.0,
             tindex_path=str(tmp_path / "tindex"))
    man = spark.read.parquet(str(tmp_path / "tindex"))
    assert man.count() > 0
    assert man.agg({"n_points": "sum"}).collect()[0][0] == 300
    assert set(man.columns) >= {"tile_x", "tile_y", "n_points", "boundary"}


def test_tindex_prune(spark):
    from pdal_spark.operators import tindex as ti

    rows = [(0, 1.0, 1.0), (1, 8.0, 9.0), (2, 12.0, 1.0), (3, 25.0, 25.0)]
    df = spark.createDataFrame(rows, "page_id long, x double, y double")
    man = ti.tindex(df, 10.0, 0.0, 0.0, hex_edge=2.0, fast_boundary=True)
    kept = ti.tindex_prune(man, (5.0, 0.0, 15.0, 10.0)).toPandas()
    assert set(zip(kept.tile_x, kept.tile_y)) == {(0, 0), (1, 0)}


def test_text_bytes_identical_through_full_tile_pipeline(spark, tmp_path):
    """North-rule per-row invariant: the extracted text (and raw html
    bytes) of every url survive geocode -> crop -> tile -> partitioned
    write -> read back BYTE-IDENTICAL, and the surviving row set is
    exactly the crop predicate's."""
    from pdal_spark import synth
    from pdal_spark.operators import crop as crop_op
    from pdal_spark.operators import splitter as splitter_op

    pages = synth.with_coords(synth.synth_pages(spark, 3000))
    box = crop_op.Box(-120.0, -50.0, 120.0, 65.0)
    cropped = crop_op.crop(pages, [box], mode="stream")
    out = str(tmp_path / "tiles")
    splitter_op.tile_job(cropped, out, 30.0, -180.0, -90.0)
    back = spark.read.parquet(out)

    src = {
        r.url: (r.text, bytes(r.html), r.warc_ts)
        for r in pages.select("url", "text", "html", "warc_ts").collect()
    }
    expect_urls = {
        r.url
        for r in pages.collect()
        if -120.0 <= r.x <= 120.0 and -50.0 <= r.y <= 65.0
    }
    got = back.select("url", "text", "html", "warc_ts").collect()
    assert {r.url for r in got} == expect_urls
    assert len(got) == len(expect_urls)  # no duplicates introduced
    for r in got:
        t, h, ts = src[r.url]
        assert r.text == t
        assert bytes(r.html) == h
        assert r.warc_ts == ts


def test_tindex_geojson_layer(spark, tmp_path):
    """kernels.tindex OGR file product: bbox-polygon feature per tile
    with location + count properties (TIndexKernel.cpp shape)."""
    import glob
    import json

    from pdal_spark.operators import tindex as ti

    df = spark.range(400).select(
        (F.col("id") % 37 * 2.0).alias("x"),
        (F.col("id") % 19 * 3.0).alias("y"),
    )
    man = ti.tindex(df, 20.0, 0.0, 0.0, hex_edge=2.0, fast_boundary=True)
    out = str(tmp_path / "ti")
    ti.write_tindex_layer(man, out)
    feats = []
    for p in glob.glob(out + "/part-*"):
        feats += [json.loads(l) for l in
                  open(p).read().strip().splitlines()]
    assert sum(f["properties"]["n_points"] for f in feats) == 400
    for f in feats:
        ring = f["geometry"]["coordinates"][0]
        assert ring[0] == ring[-1] and len(ring) == 5
        assert "_" in f["properties"]["location"]


def test_read_tindex_prunes_and_dispatches(spark, tmp_path):
    """readers.tindex end-to-end: LAS per tile + index layer; a bbox
    query must read back EXACTLY the points of intersecting tiles and
    touch only those files."""
    from pdal_spark.formats import las as las_fmt
    from pdal_spark.operators import tindex as ti

    df = lattice(spark, 100).select(
        "x", "y", F.lit(0.0).alias("z"),
        F.col("page_id").cast("double").alias("gps_time"),
    )
    tiled = splitter.split(df, 30.0, 0.0, 0.0).withColumn(
        "tile", F.concat_ws("_", "tile_x", "tile_y")
    )
    d = str(tmp_path / "tiles")
    man = las_fmt.write_las_parts(
        tiled.select("x", "y", "z", "gps_time", "tile"), d, by="tile", fmt=1
    )
    layer = str(tmp_path / "layer")
    ti.write_file_tindex(man, layer)

    # bbox hits tiles (0,0),(1,0),(0,1),(1,1) only
    out, locs = ti.read_tindex(
        spark, layer, (5.0, 5.0, 40.0, 40.0),
        path_for=lambda loc: f"{d}/{loc}.las",
        reader=las_fmt.read_las,
    )
    assert set(locs) == {"0_0", "1_0", "0_1", "1_1"}
    # every point of the dispatched tiles, none from others
    assert out.count() == tiled.filter(
        (F.col("tile_x") <= 1) & (F.col("tile_y") <= 1)
    ).count()
    # gps_time carried doc ids; quantization at 0.01 is exact on ints
    back = out.select(F.col("gps_time").cast("long").alias("pid"), "x", "y")
    exp = tiled.filter((F.col("tile_x") <= 1) & (F.col("tile_y") <= 1)).select(
        F.col("gps_time").cast("long").alias("pid"), "x", "y"
    )
    assert back.exceptAll(exp).count() == 0 and exp.exceptAll(back).count() == 0


def test_read_tindex_no_match_raises(spark, tmp_path):
    from pdal_spark.formats import las as las_fmt
    from pdal_spark.operators import tindex as ti

    df = lattice(spark, 10).select(
        "x", "y", F.lit(0.0).alias("z"),
        F.col("page_id").cast("double").alias("gps_time"),
        F.lit("0_0").alias("tile"),
    )
    d = str(tmp_path / "t")
    man = las_fmt.write_las_parts(df, d, by="tile", fmt=1)
    layer = str(tmp_path / "l")
    ti.write_file_tindex(man, layer)
    with pytest.raises(ValueError, match="no index features"):
        ti.read_tindex(
            spark, layer, (1000.0, 1000.0, 2000.0, 2000.0),
            path_for=lambda loc: f"{d}/{loc}.las",
            reader=las_fmt.read_las,
        )
