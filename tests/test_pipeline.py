"""Pipeline JSON front-end tests — dialect parsing rules from
PipelineReaderJSON.cpp (bare filenames, tags/inputs, option validation)
plus end-to-end execution equivalence with direct operator calls.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from pdal_spark import pipeline as pl
from pdal_spark import synth
from pdal_spark.operators import crop as crop_op
from pdal_spark.operators import splitter as splitter_op

SF_DIR = "/root/testdata/sf0.001"


def test_parse_bare_filenames():
    specs = pl.parse([f"{SF_DIR}/documents.parquet", "out.parquet"])
    assert specs[0].type == "readers.infer"
    assert specs[1].type == "writers.infer"


def test_parse_object_form_and_tags():
    doc = {"pipeline": [
        {"type": "readers.faux", "count": 10, "tag": "src"},
        {"type": "filters.head", "count": 5, "inputs": ["src"]},
    ]}
    specs = pl.parse(doc)
    assert specs[0].tag == "src"
    assert specs[1].inputs == ["src"]


def test_validate_rejects_unknown_stage():
    with pytest.raises(pl.PipelineError, match="unknown stage type"):
        pl.validate([{"type": "filters.nosuch"}])


def test_validate_rejects_missing_required_option():
    with pytest.raises(pl.PipelineError, match="missing option 'limits'"):
        pl.validate([{"type": "readers.faux"}, {"type": "filters.range"}])


def test_validate_rejects_reader_with_inputs():
    with pytest.raises(pl.PipelineError, match="inputs not permitted"):
        pl.parse([
            {"type": "readers.faux", "tag": "a"},
            {"type": "readers.faux", "inputs": ["a"]},
        ])


def test_validate_rejects_unknown_tag():
    with pytest.raises(pl.PipelineError, match="unknown input tag"):
        pl.validate([
            {"type": "readers.faux"},
            {"type": "filters.head", "inputs": ["nope"]},
        ])


def test_run_crop_splitter_pipeline(spark):
    """JSON pipeline ≡ direct operator calls (crop bbox -> splitter)."""
    doc = [
        {"type": "readers.faux", "count": 500, "mode": "points"},
        {"type": "filters.crop", "bounds": [-90.0, -45.0, 90.0, 45.0]},
        {"type": "filters.splitter", "length": 30.0,
         "origin_x": -180.0, "origin_y": -90.0},
    ]
    out = pl.run(spark, doc).toPandas()

    direct = splitter_op.split(
        crop_op.crop(
            synth.synth_points(spark, 500),
            [crop_op.Box(-90.0, -45.0, 90.0, 45.0)], mode="stream",
        ),
        30.0, -180.0, -90.0,
    ).toPandas()
    key = ["page_id"]
    out = out.sort_values(key).reset_index(drop=True)
    direct = direct.sort_values(key).reset_index(drop=True)
    assert out.equals(direct)


def test_run_reader_chain_merges(spark):
    """Two readers accumulate and a filter consumes the union — the
    reader-accumulation rule of PipelineReaderJSON."""
    doc = [
        {"type": "readers.faux", "count": 100},
        {"type": "readers.faux", "count": 50},
        {"type": "filters.head", "count": 120},
    ]
    out = pl.run(spark, doc)
    assert out.count() == 120


def test_run_with_writer(spark, tmp_path):
    path = str(tmp_path / "tiles")
    doc = [
        {"type": "readers.faux", "count": 300},
        {"type": "filters.splitter", "length": 90.0,
         "origin_x": -180.0, "origin_y": -90.0},
        {"type": "writers.parquet", "filename": path,
         "partition_by": ["tile_x", "tile_y"]},
    ]
    pl.run(spark, doc)
    back = spark.read.parquet(path)
    assert back.count() == 300
    assert {"tile_x", "tile_y"} <= set(back.columns)


def test_run_range_stats_pipeline(spark):
    doc = [
        {"type": "readers.parquet", "filename": f"{SF_DIR}/lineitem.parquet"},
        {"type": "filters.range", "limits": "l_quantity[10:20]"},
        {"type": "filters.stats", "dimensions": "l_quantity"},
    ]
    out = pl.run(spark, doc).toPandas()
    assert out["l_quantity_minimum"].iloc[0] >= 10
    assert out["l_quantity_maximum"].iloc[0] <= 20


def test_json_string_form(spark):
    doc = json.dumps([
        {"type": "readers.faux", "count": 50},
        {"type": "filters.head", "count": 7},
    ])
    assert pl.run(spark, doc).count() == 7


def test_shell_filter_gated_and_passthrough(spark, tmp_path, monkeypatch):
    # ShellFilter.cpp:69-73 — refuses without PDAL_ALLOW_SHELL
    monkeypatch.delenv("PDAL_ALLOW_SHELL", raising=False)
    doc = [
        {"type": "readers.faux", "count": 10},
        {"type": "filters.shell", "command": "true"},
    ]
    with pytest.raises(pl.PipelineError, match="PDAL_ALLOW_SHELL"):
        pl.run(spark, doc)

    monkeypatch.setenv("PDAL_ALLOW_SHELL", "1")
    marker = tmp_path / "ran.txt"
    doc = [
        {"type": "readers.faux", "count": 10},
        {"type": "filters.shell", "command": f"echo hi > {marker}"},
        {"type": "filters.head", "count": 4},
    ]
    assert pl.run(spark, doc).count() == 4  # view passes through
    assert marker.read_text().strip() == "hi"

    # non-zero exit raises with output (ShellFilter.cpp:84-89)
    doc = [
        {"type": "readers.faux", "count": 10},
        {"type": "filters.shell", "command": "echo boom >&2; false"},
    ]
    with pytest.raises(pl.PipelineError, match="failed to execute.*boom"):
        pl.run(spark, doc)


def test_translate_kernel_analog(spark, tmp_path):
    """kernels/TranslateKernel.cpp: reader/writer inferred from
    extensions, filters chained in order."""
    src = str(tmp_path / "in.las")
    pl.run(spark, [
        {"type": "readers.faux", "count": 200},
        {"type": "filters.ferry", "dimensions": "x=>z"},
        {"type": "writers.las", "filename": src, "dataformat_id": 0},
    ])
    out = str(tmp_path / "out.ply")
    pl.translate(
        spark, src, out,
        filters=[{"type": "filters.crop", "bounds": [-90, -45, 90, 45]}],
        writer_options={"storage_mode": "binary_le"},
    )
    got = pl.run(spark, [out]).count()
    want = pl.run(spark, [
        src, {"type": "filters.crop", "bounds": [-90, -45, 90, 45]}
    ]).count()
    assert got == want > 0
    # trailing bare string writes via the extension map too
    out2 = str(tmp_path / "out2.pcd")
    pl.run(spark, [src, out2])
    assert pl.run(spark, [out2]).count() == 200


def test_crop_stage_accepts_wkt_polygon(spark):
    """The reference's filters.crop polygon option is WKT (one string
    or a list); pipeline JSON now parses it — same rows as the direct
    Polygon-object crop."""
    import pdal_spark.synth as synth
    from pdal_spark.operators import crop as crop_op

    wkt = ("POLYGON ((-90 -45 3, 90 -45 3, 90 45 3, -90 45 3, "
           "-90 -45 3))")
    doc = [
        {"type": "readers.faux", "count": 500, "mode": "points"},
        {"type": "filters.crop", "polygon": wkt + "/ EPSG:4326"},
    ]
    out = pl.run(spark, doc).toPandas()
    direct = crop_op.crop(
        synth.synth_points(spark, 500),
        crop_op.parse_wkt_polygons(wkt), mode="stream",
    ).toPandas()
    key = list(out.columns)
    assert (out.sort_values(key).reset_index(drop=True)
            .equals(direct.sort_values(key).reset_index(drop=True)))
    assert 0 < len(out) < 500

    multi = ("MULTIPOLYGON (((-90 -45, 0 -45, 0 45, -90 45, -90 -45)),"
             " ((10 -45, 90 -45, 90 45, 10 45, 10 -45)))")
    doc2 = [
        {"type": "readers.faux", "count": 500, "mode": "points"},
        {"type": "filters.crop", "polygon": multi},
    ]
    out2 = pl.run(spark, doc2).toPandas()
    direct2 = crop_op.crop(
        synth.synth_points(spark, 500),
        crop_op.parse_wkt_polygons(multi), mode="stream",
    ).toPandas()
    assert len(out2) == len(direct2) > 0


def test_ept_reader_stage_polygon_origin(spark):
    """readers.ept pipeline options polygon + origin flow through to
    the reader (reference goldens pinned in test_ept.py)."""
    import os

    ref = "/root/reference/test/data/ept/1.2-with-color"
    lone = "/root/reference/test/data/ept/lone-star-laszip"
    if not os.path.isdir(ref):
        pytest.skip("reference fixture unavailable")
    wkt = open(
        "/root/reference/test/data/autzen/autzen-selection.wkt").read()
    out = pl.run(spark, [
        {"type": "readers.ept", "filename": ref,
         "polygon": wkt + "/ EPSG:3644"},
    ])
    assert out.count() == 47  # EptReaderTest boundedCrop
    o1 = pl.run(spark, [
        {"type": "readers.ept", "filename": lone, "origin": "split-3"},
    ])
    assert o1.count() == 132693  # sources list golden


SIMPLE_LAS = "/root/reference/test/data/las/simple.las"
needs_simple = pytest.mark.skipif(
    not __import__("os").path.exists(SIMPLE_LAS),
    reason="reference fixture unavailable")


@needs_simple
def test_kernel_merge(spark, tmp_path):
    """pdal merge (kernels/MergeKernel.cpp): N readers -> merge ->
    writer; double-merge of the same file doubles the rows."""
    from pdal_spark.formats.las import read_las

    out = str(tmp_path / "merged.las")
    pl.merge(spark, [SIMPLE_LAS, SIMPLE_LAS], out)
    assert read_las(spark, out).count() == 2130
    pl.merge(spark, [SIMPLE_LAS], str(tmp_path / "one.las"))
    assert read_las(spark, str(tmp_path / "one.las")).count() == 1065


def test_kernel_merge_single_input(spark, tmp_path):
    """pdal merge with one input file plus the output (MergeKernel
    accepts it): the output holds the input's rows; no input at all
    is still an error."""
    src, out = str(tmp_path / "in.parquet"), str(tmp_path / "out.parquet")
    synth.synth_points(spark, 50, 2).write.parquet(src)
    pl.merge(spark, [src], out)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == sorted(map(tuple, spark.read.parquet(src).collect()))
    assert len(got) == 50
    with pytest.raises(pl.PipelineError):
        pl.merge(spark, [], str(tmp_path / "x.parquet"))


@needs_simple
def test_kernel_sort_morton_laz(spark, tmp_path):
    """pdal sort (kernels/SortKernel.cpp): mortonorder between reader
    and writer; -z compresses (the .laz extension alone implies it
    too, like the reference's LasWriter)."""
    from pdal_spark.formats import laz as lazmod
    from pdal_spark.formats.las import read_las

    out = str(tmp_path / "sorted.laz")
    pl.sort(spark, SIMPLE_LAS, out, compress=True)
    buf = open(out, "rb").read()
    assert buf[104] & 0x80  # really compressed
    lazmod.laz_vlr_info(buf)
    back = read_las(spark, out)
    assert back.count() == 1065
    a = sorted(map(tuple, back.select("x", "y", "z").collect()))
    b = sorted(map(tuple, read_las(spark, SIMPLE_LAS)
                   .select("x", "y", "z").collect()))
    assert a == b  # same point set, reordered


def test_kernel_random(spark, tmp_path):
    """pdal random (kernels/RandomKernel.cpp): faux -> writer."""
    from pdal_spark.formats.las import read_las

    out = str(tmp_path / "rand.las")
    pl.random(spark, out, count=400)
    assert read_las(spark, out).count() == 400
    with pytest.raises(pl.PipelineError, match="distribution"):
        pl.random(spark, str(tmp_path / "n.las"), distribution="normal")


@needs_simple
def test_kernel_ground(spark, tmp_path):
    """pdal ground (kernels/GroundKernel.cpp:92-148): reset-assign ->
    smrf -> Classification[2:2] extract; output is ground-only."""
    from pdal_spark.formats.las import read_las

    out = str(tmp_path / "ground.las")
    pl.ground(spark, SIMPLE_LAS, out, extract=True, reset=True,
              cell_size=20.0)
    g = read_las(spark, out)
    n = g.count()
    assert 0 < n < 1065
    assert [r[0] for r in g.select("classification").distinct()
            .collect()] == [2]


@needs_simple
def test_outlier_stage_statistical(spark):
    """filters.outlier as a pipeline stage (statistical method) tags
    noise with Classification 7 and keeps every row."""
    doc = [
        {"type": "readers.infer", "filename": SIMPLE_LAS},
        {"type": "filters.outlier", "method": "statistical",
         "mean_k": 8, "multiplier": 2.0},
    ]
    out = pl.run(spark, doc)
    assert out.count() == 1065
    assert out.filter("classification = 7").count() > 0


def test_outlier_stage_statistical_faux(spark):
    """filters.outlier (statistical, the default method) on generated
    readers.faux points: every row kept, and Classification 7 exactly
    where the numpy oracle puts it — mean distance to the 8 nearest
    other points >= mean + 2 * sample stdev of those means."""
    import numpy as np

    doc = [
        {"type": "readers.faux", "count": 500, "mode": "points"},
        {"type": "filters.outlier", "mean_k": 8, "multiplier": 2.0},
    ]
    got = pl.run(spark, doc).select("page_id", "x", "y", "classification") \
        .toPandas().sort_values("page_id")
    assert len(got) == 500
    xs, ys = got["x"].to_numpy(), got["y"].to_numpy()
    d2 = (xs[:, None] - xs[None, :]) ** 2 + (ys[:, None] - ys[None, :]) ** 2
    np.fill_diagonal(d2, np.inf)
    mean_d = np.sort(np.sqrt(d2), axis=1)[:, :8].mean(axis=1)
    want = np.where(mean_d >= mean_d.mean() + 2.0 * mean_d.std(ddof=1), 7, 0)
    assert 0 < (want == 7).sum() < 500
    assert got["classification"].tolist() == want.tolist()


@needs_simple
def test_pmf_stage(spark):
    """filters.pmf as a pipeline stage classifies ground (2) vs not."""
    doc = [
        {"type": "readers.infer", "filename": SIMPLE_LAS},
        {"type": "filters.pmf", "cell_size": 20.0},
    ]
    out = pl.run(spark, doc)
    classes = {r[0] for r in out.select("classification")
               .distinct().collect()}
    assert out.count() == 1065 and classes <= {1, 2} and 2 in classes


def test_reprojection_and_projpipeline_stages(spark):
    """filters.reprojection + filters.projpipeline as pipeline stages:
    forward to UTM 31N, then the reference's coord_op shape (inverse
    utm + rad->deg) recovers the lon/lat of the faux points."""
    import numpy as np

    import pdal_spark.synth as synth

    base = synth.synth_points(spark, 300).toPandas()
    doc = [
        {"type": "readers.faux", "count": 300, "mode": "points"},
        # keep points near zone 31 (lon0 = 3): the TM series is a
        # zone-local expansion, so the mm-level roundtrip claim only
        # holds in-zone
        {"type": "filters.crop", "bounds": [-3.0, -80.0, 9.0, 80.0]},
        {"type": "filters.reprojection", "out_srs": "EPSG:32631"},
        {"type": "filters.projpipeline",
         "coord_op": "+proj=pipeline +step +inv +proj=utm +zone=31 "
                     "+ellps=WGS84 +step +proj=unitconvert +xy_in=rad "
                     "+xy_out=deg"},
    ]
    out = pl.run(spark, doc).toPandas().sort_values("page_id")
    keep = base[base.page_id.isin(out.page_id)].sort_values("page_id")
    assert 0 < len(out) <= 300 and len(out) == len(keep)
    np.testing.assert_allclose(out.x.values, keep.x.values, atol=2e-8)
    np.testing.assert_allclose(out.y.values, keep.y.values, atol=2e-8)
    with pytest.raises(pl.PipelineError):
        pl.validate([{"type": "readers.faux"},
                     {"type": "filters.projpipeline"}])


def test_projpipeline_stage_transforms_z(spark, tmp_path):
    """filters.projpipeline applies the coord_op to Z as well as X/Y,
    like the reference: a z unitconvert rescales the z column."""
    path = str(tmp_path / "xyz")
    src = synth.synth_points(spark, 50).withColumn(
        "z", (F.col("page_id") * 10).cast("double"))
    src.write.parquet(path)
    doc = [
        {"type": "readers.parquet", "filename": path},
        {"type": "filters.projpipeline",
         "coord_op": "+proj=unitconvert +z_in=m +z_out=km"},
    ]
    out = pl.run(spark, doc).select("page_id", "x", "y", "z")
    want = {r.page_id: (r.x, r.y, r.z / 1000.0) for r in src.collect()}
    got = {r.page_id: (r.x, r.y, r.z) for r in out.collect()}
    assert got.keys() == want.keys()
    for k, (x, y, z) in got.items():
        assert (x, y) == want[k][:2]
        assert z == pytest.approx(want[k][2])


def test_las_writer_compression_none_is_uncompressed(spark, tmp_path):
    """writers.las reads PDAL's string option: "none" means no LASzip,
    so the point-format byte keeps its compression bit (7) clear."""
    out = str(tmp_path / "plain.las")
    src = synth.synth_points(spark, 100).withColumn(
        "z", (F.col("page_id") % 7).cast("double"))
    path = str(tmp_path / "src")
    src.write.parquet(path)
    pl.run(spark, [
        {"type": "readers.parquet", "filename": path},
        {"type": "writers.las", "filename": out, "compression": "none"},
    ])
    buf = open(out, "rb").read()
    assert not buf[104] & 0x80
    with pytest.raises(pl.PipelineError, match="compression"):
        pl.run(spark, [
            {"type": "readers.parquet", "filename": path},
            {"type": "writers.las", "filename": str(tmp_path / "b.las"),
             "compression": "zip"},
        ])
