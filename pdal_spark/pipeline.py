"""Pipeline JSON front-end — the reference's pipeline dialect over the
Spark operator library.

Parsing rules mirror /root/reference/pdal/PipelineReaderJSON.cpp:57-165:
  * the document is a JSON array (or {"pipeline": [...]});
  * bare strings are filenames — a leading/non-last string infers a
    reader, a trailing string infers a writer;
  * objects carry "type", optional "filename", "tag", "inputs" (tag
    refs), and stage options;
  * stages chain linearly unless "inputs" names tags (diamond DAGs);
  * readers may not have inputs; a writer consumes ALL accumulated
    inputs (merged — union in our engine).

Execution: tag -> DataFrame map; each stage is a function
(spark, inputs: list[DataFrame], options) -> DataFrame. ``validate()``
checks stage names/option spellings without running anything — the
``pdal pipeline --validate`` analog.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdal_spark import geo, synth
from pdal_spark.operators import chipper as chipper_op
from pdal_spark.operators import crop as crop_op
from pdal_spark.operators import hexbin as hexbin_op
from pdal_spark.operators import pointcloud as pc_op
from pdal_spark.operators import relational as rel_op
from pdal_spark.operators import splitter as splitter_op
from pdal_spark.operators import stats as stats_op
from pdal_spark.parquet import read_parquet


class PipelineError(ValueError):
    pass


@dataclass
class StageSpec:
    type: str
    options: dict[str, Any] = field(default_factory=dict)
    tag: str | None = None
    inputs: list[str] = field(default_factory=list)
    filename: str | None = None


# ---------------------------------------------------------------------------
# parsing (PipelineReaderJSON.cpp rules)
# ---------------------------------------------------------------------------

_META_KEYS = {"type", "filename", "tag", "inputs"}


def parse(doc: Any) -> list[StageSpec]:
    if isinstance(doc, str):
        doc = json.loads(doc)
    if isinstance(doc, dict):
        if "pipeline" not in doc:
            raise PipelineError("object form requires a 'pipeline' key")
        doc = doc["pipeline"]
    if not isinstance(doc, list) or not doc:
        raise PipelineError("pipeline must be a non-empty JSON array")

    specs: list[StageSpec] = []
    last = len(doc) - 1
    for i, node in enumerate(doc):
        if isinstance(node, str):
            # bare filename: reader unless it's the trailing stage
            inferred = "readers.infer" if (i == 0 or i != last) else "writers.infer"
            specs.append(StageSpec(type=inferred, filename=node))
            continue
        if not isinstance(node, dict):
            raise PipelineError(f"stage {i}: must be string or object")
        t = node.get("type", "")
        filename = node.get("filename")
        if not t:
            if filename is None:
                raise PipelineError(f"stage {i}: missing 'type'")
            # PipelineReaderJSON.cpp: type.empty() && (i == 0 || i != last)
            # -> reader; a single-stage pipeline is a reader, not a writer.
            t = "readers.infer" if (i == 0 or i != last) else "writers.infer"
        ins = node.get("inputs", [])
        if isinstance(ins, str):
            ins = [ins]
        spec = StageSpec(
            type=t,
            options={k: v for k, v in node.items() if k not in _META_KEYS},
            tag=node.get("tag"),
            inputs=list(ins),
            filename=filename,
        )
        if t.startswith("readers.") and spec.inputs:
            raise PipelineError(f"stage {i}: inputs not permitted for a reader")
        specs.append(spec)
    return specs


# ---------------------------------------------------------------------------
# stage implementations
# ---------------------------------------------------------------------------


def _one(inputs: list[DataFrame], t: str) -> DataFrame:
    if len(inputs) == 0:
        raise PipelineError(f"{t}: no input stage")
    if len(inputs) == 1:
        return inputs[0]
    out = inputs[0]
    for df in inputs[1:]:
        out = out.unionByName(df)  # implicit merge, like Stage multi-input
    return out


def _infer_reader(spark, inputs, o, filename):
    if filename is None:
        raise PipelineError("reader requires filename")
    if filename.endswith(".parquet"):
        return _r_parquet(spark, inputs, o, filename)
    if filename.endswith((".csv", ".txt")):
        return spark.read.csv(filename, header=True, inferSchema=True)
    if filename.endswith(".las"):
        # StageFactory::inferReaderDriver extension map (readers.las)
        return _r_las(spark, inputs, o, filename)
    if filename.endswith(".ply"):
        return _r_ply(spark, inputs, o, filename)
    if filename.endswith(".sbet"):
        return _r_sbet(spark, inputs, o, filename)
    if filename.endswith(".pts"):
        return _r_pts(spark, inputs, o, filename)
    if filename.endswith(".bpf"):
        return _r_bpf(spark, inputs, o, filename)
    if filename.endswith(".qi"):
        return _r_qfit(spark, inputs, o, filename)
    if filename.endswith(".bin"):
        return _r_terrasolid(spark, inputs, o, filename)
    if filename.endswith(".csd"):
        return _r_optech(spark, inputs, o, filename)
    if filename.endswith(".pcd"):
        return _r_pcd(spark, inputs, o, filename)
    raise PipelineError(f"cannot infer reader for {filename}")


def _r_parquet(spark, inputs, o, filename):
    return read_parquet(spark, [filename or o["filename"]])


def _r_text(spark, inputs, o, filename):
    # readers.text: CSV/whitespace numeric text with header (TextReader.cpp)
    sep = o.get("separator", ",")
    return spark.read.csv(filename or o["filename"], header=True,
                          inferSchema=True, sep=sep)


def _r_las(spark, inputs, o, filename):
    """readers.las (io/LasReader.cpp): chunk-parallel uncompressed LAS
    decode — see pdal_spark/formats/las.py."""
    from pdal_spark.formats import las as las_fmt

    return las_fmt.read_las(
        spark,
        filename or o["filename"],
        chunk_points=int(o.get("chunk_points", 1_000_000)),
    )


def _r_ply(spark, inputs, o, filename):
    """readers.ply (io/PlyReader.cpp): vertex element, ascii/binary."""
    from pdal_spark.formats import ply as ply_fmt

    return ply_fmt.read_ply(
        spark,
        filename or o["filename"],
        chunk_points=int(o.get("chunk_points", 1_000_000)),
    )


def _r_sbet(spark, inputs, o, filename):
    """readers.sbet (io/SbetReader.cpp): 17-double trajectory records."""
    from pdal_spark.formats import sbet as sbet_fmt

    return sbet_fmt.read_sbet(
        spark,
        filename or o["filename"],
        angles_as_degrees=bool(o.get("angles_as_degrees", True)),
    )


def _r_pts(spark, inputs, o, filename):
    """readers.pts (io/PtsReader.cpp): count header + xyz[i[rgb]] text."""
    from pdal_spark.formats import pts as pts_fmt

    return pts_fmt.read_pts(
        spark, filename or o["filename"],
        separator=o.get("separator", " "),
    )


def _r_bpf(spark, inputs, o, filename):
    """readers.bpf (io/BpfReader.cpp): v3, all interleaves, zlib."""
    from pdal_spark.formats import bpf as bpf_fmt

    return bpf_fmt.read_bpf(
        spark,
        filename or o["filename"],
        chunk_points=int(o.get("chunk_points", 1_000_000)),
    )


def _r_qfit(spark, inputs, o, filename):
    """readers.qfit (io/QfitReader.cpp): ATM .qi records."""
    from pdal_spark.formats import qfit as qfit_fmt

    return qfit_fmt.read_qfit(
        spark, filename or o["filename"],
        scale_z=float(o.get("scale_z", 0.001)),
        flip_x=bool(o.get("flip_coordinates", True)),
    )


def _r_terrasolid(spark, inputs, o, filename):
    """readers.terrasolid (io/TerrasolidReader.cpp): TScan .bin."""
    from pdal_spark.formats import terrasolid as ts_fmt

    return ts_fmt.read_terrasolid(spark, filename or o["filename"])


def _r_ilvis2(spark, inputs, o, filename):
    """readers.ilvis2 (io/Ilvis2Reader.cpp): LVIS L2 text shots."""
    from pdal_spark.formats import ilvis2 as ilvis2_fmt

    return ilvis2_fmt.read_ilvis2(
        spark, filename or o["filename"],
        mapping=str(o.get("mapping", "all")),
    )


def _r_optech(spark, inputs, o, filename):
    """readers.optech (io/OptechReader.cpp): CSD pulses, georeferenced."""
    from pdal_spark.formats import optech as optech_fmt

    return optech_fmt.read_optech(
        spark, filename or o["filename"],
        chunk_points=int(o.get("chunk_points", 1_000_000)),
    )


def _r_ept(spark, inputs, o, filename):
    """readers.ept (io/EptReader.cpp): octree query pushdown — bounds,
    resolution, polygon (WKT, node-pruned + exact PnP crop) and origin
    (source selection) options, all three dataTypes."""
    from pdal_spark.formats import ept as ept_fmt

    fn = filename or o["filename"]
    if fn.startswith("ept://"):
        fn = fn[len("ept://"):]
    if fn.endswith("ept.json"):
        fn = fn[: -len("/ept.json")]
    bounds = o.get("bounds")
    return ept_fmt.read_ept(
        spark, fn,
        bounds=tuple(bounds) if bounds else None,
        resolution=(float(o["resolution"]) if "resolution" in o else None),
        polygon=o.get("polygon"),
        origin=o.get("origin"),
    )


def _r_pcd(spark, inputs, o, filename):
    """readers.pcd (io/PcdReader.cpp): ascii (any separator) + binary."""
    from pdal_spark.formats import pcd as pcd_fmt

    return pcd_fmt.read_pcd(
        spark, filename or o["filename"],
        chunk_points=int(o.get("chunk_points", 1_000_000)),
    )


def _r_faux(spark, inputs, o, filename):
    """readers.faux analog: deterministic synthetic pages/points
    (FauxReader.cpp grid/ramp modes ≈ our seeded generator)."""
    n = int(o.get("count", 1000))
    mode = o.get("mode", "points")
    if mode == "pages":
        return synth.with_coords(synth.synth_pages(spark, n))
    return synth.synth_points(spark, n)


def _geom_from_options(o) -> list:
    geoms: list = []
    b = o.get("bounds")
    if b:
        if isinstance(b, (list, tuple)):
            geoms.append(crop_op.Box(*b))
        else:
            raise PipelineError("bounds must be [minx, miny, maxx, maxy]")
    if "point" in o:
        px, py = o["point"]
        geoms.append(crop_op.Circle(px, py, float(o.get("distance", 1.0))))
    if "polygon" in o:
        p = o["polygon"]
        # the reference's option is WKT (one string or a list of them,
        # FilterCrop.cpp / Polygon.cpp); a raw [[x, y], ...] ring is
        # kept as a convenience form
        if isinstance(p, str):
            p = [p]
        if p and isinstance(p[0], str):
            for wkt in p:
                body = wkt
                tail = body.rfind("/")
                if tail > body.rfind(")"):
                    body = body[:tail]  # "WKT/ SRS" override form
                geoms.extend(crop_op.parse_wkt_polygons(body))
        else:
            geoms.append(
                crop_op.Polygon(exterior=tuple(map(tuple, p))))
    if not geoms:
        raise PipelineError("filters.crop: needs bounds/point/polygon")
    return geoms


def _f_crop(spark, inputs, o, filename):
    return crop_op.crop(
        _one(inputs, "crop"), _geom_from_options(o),
        outside=bool(o.get("outside", False)),
        mode=o.get("mode", "stream"),
    )


def _dim_col(df: DataFrame, name: str) -> str:
    """Map a PDAL-canonical dimension name (Classification,
    ReturnNumber, GpsTime, X, ...) to this DataFrame's column — the
    reference's pipeline options speak canonical names while our
    readers emit snake_case."""
    if name in df.columns:
        return name
    import re as _re

    snake = _re.sub(r"(?<!^)(?=[A-Z])", "_", name).lower()
    if snake in df.columns:
        return snake
    if name.lower() in df.columns:
        return name.lower()
    raise PipelineError(f"unknown dimension {name!r} "
                        f"(columns: {df.columns})")


def _rewrite_dim(df: DataFrame, spec: str) -> str:
    """Rewrite the leading dimension name of a 'Dim[lo:hi]...' spec."""
    import re as _re

    return _re.sub(
        r"^(\s*!?\s*)([A-Za-z_][A-Za-z0-9_]*)",
        lambda m: m.group(1) + _dim_col(df, m.group(2)), spec)


def _f_range(spark, inputs, o, filename):
    limits = o["limits"]
    if isinstance(limits, str):
        limits = [s.strip() for s in limits.split(",")]
    df = _one(inputs, "range")
    return rel_op.range_filter(df, [_rewrite_dim(df, s) for s in limits])


def _f_mongo(spark, inputs, o, filename):
    return rel_op.mongo_filter(_one(inputs, "mongo"), o["expression"])


def _f_assign(spark, inputs, o, filename):
    a = o["assignment"]
    if isinstance(a, str):
        a = [a]
    df = _one(inputs, "assign")
    a = [_rewrite_dim(df, s) for s in a]
    cond = o.get("condition")
    return rel_op.assign(
        df, a, condition=_rewrite_dim(df, cond) if cond else None)


def _f_ferry(spark, inputs, o, filename):
    pairs = []
    dims = o["dimensions"]
    if isinstance(dims, str):
        dims = [d.strip() for d in dims.split(",")]
    for d in dims:
        src, dst = [s.strip() for s in d.split("=>")]
        pairs.append((src, dst))
    return rel_op.ferry(_one(inputs, "ferry"), pairs)


def _f_splitter(spark, inputs, o, filename):
    return splitter_op.split(
        _one(inputs, "splitter"),
        float(o.get("length", 1000.0)),
        float(o["origin_x"]), float(o["origin_y"]),
        buffer=float(o.get("buffer", 0.0)),
    )


def _f_chipper(spark, inputs, o, filename):
    return chipper_op.chip(
        _one(inputs, "chipper"), int(o.get("capacity", 5000)),
        order_col=o.get("order_col", "page_id"),
    )


def _f_decimation(spark, inputs, o, filename):
    return rel_op.decimation(
        _one(inputs, "decimation"), step=int(o.get("step", 1)),
        offset=int(o.get("offset", 0)),
        order_col=o.get("order_col", "page_id"),
        dense_index=bool(o.get("dense_index", False)),
    )


def _f_head(spark, inputs, o, filename):
    return rel_op.head(_one(inputs, "head"), int(o.get("count", 10)),
                       order_col=o.get("order_col", "page_id"))


def _f_tail(spark, inputs, o, filename):
    return rel_op.tail(_one(inputs, "tail"), int(o.get("count", 10)),
                       order_col=o.get("order_col", "page_id"))


def _f_divider(spark, inputs, o, filename):
    return rel_op.divider(
        _one(inputs, "divider"), count=o.get("count"),
        capacity=o.get("capacity"), mode=o.get("mode", "partition"),
        order_col=o.get("order_col", "page_id"),
    )


def _f_groupby(spark, inputs, o, filename):
    return rel_op.groupby_views(_one(inputs, "groupby"), o["dimension"])


def _f_merge(spark, inputs, o, filename):
    return _one(inputs, "merge")


def _f_reprojection(spark, inputs, o, filename):
    """filters.reprojection (ReprojectionFilter.cpp addArgs): in_srs /
    out_srs; our tables carry no SRS metadata, so in_srs defaults to
    EPSG:4326 (the geocoded-page coordinate system)."""
    from pdal_spark.operators import reprojection as reproj_op

    return reproj_op.reproject(
        _one(inputs, "reprojection"),
        o.get("in_srs", "EPSG:4326"), o["out_srs"])


def _f_projpipeline(spark, inputs, o, filename):
    """filters.projpipeline (ProjPipelineFilter.cpp:66-76): coord_op
    pipeline string + reverse_transfo flag."""
    from pdal_spark.operators.projpipeline import projpipeline

    df = _one(inputs, "projpipeline")
    try:
        z = _dim_col(df, "Z")  # the reference transforms X, Y AND Z
    except PipelineError:
        z = None
    return projpipeline(
        df, o["coord_op"],
        reverse_transfo=bool(o.get("reverse_transfo", False)), z=z)


def _f_smrf(spark, inputs, o, filename):
    """filters.smrf (SMRFilter.cpp addArgs): window/slope/threshold/
    cell/scalar/cut -> Classification 2 (ground) / 1."""
    from pdal_spark.operators import ground as ground_op

    return ground_op.smrf(
        _one(inputs, "smrf"),
        cell=float(o.get("cell", 1.0)),
        slope=float(o.get("slope", 0.15)),
        threshold=float(o.get("threshold", 0.5)),
        window=float(o.get("window", 18.0)),
        scalar=float(o.get("scalar", 1.25)),
        cut=float(o.get("cut", 0.0)),
    )


def _f_pmf(spark, inputs, o, filename):
    """filters.pmf (PMFFilter.cpp addArgs): cell_size/max_window_size/
    slope/initial_distance/max_distance/exponential."""
    from pdal_spark.operators import ground as ground_op

    return ground_op.pmf(
        _one(inputs, "pmf"),
        cell=float(o.get("cell_size", 1.0)),
        max_window=float(o.get("max_window_size", 33.0)),
        slope=float(o.get("slope", 1.0)),
        initial_distance=float(o.get("initial_distance", 0.15)),
        max_distance=float(o.get("max_distance", 2.5)),
        exponential=bool(o.get("exponential", True)),
    )


def _f_outlier(spark, inputs, o, filename):
    """filters.outlier (OutlierFilter.cpp): method=statistical
    (mean_k/multiplier) or radius (radius/min_k); noise rows get
    Classification 7.  Needs a unique id column for the kNN
    self-exclusion — page_id/doc_id when present, else a synthetic
    per-execution id."""
    from pdal_spark.operators import knn as knn_op

    df = _one(inputs, "outlier")
    idc = next((c for c in ("page_id", "doc_id", "id")
                if c in df.columns), None)
    tmp = idc is None
    if tmp:
        idc = "_oid"
        df = df.withColumn(idc, F.monotonically_increasing_id())
    method = o.get("method", "statistical")
    if method == "statistical":
        out = knn_op.outlier_statistical(
            df, mean_k=int(o.get("mean_k", 8)),
            multiplier=float(o.get("multiplier", 2.0)), id_col=idc)
    elif method == "radius":
        out = knn_op.outlier_radius(
            df, radius=float(o.get("radius", 1.0)),
            min_k=int(o.get("min_k", 2)), id_col=idc)
    else:
        raise PipelineError(f"filters.outlier method {method!r}")
    return out.drop(idc) if tmp else out


def _f_sort(spark, inputs, o, filename):
    return rel_op.sort_stable(
        _one(inputs, "sort"), o["dimension"],
        order=o.get("order", "ASC").upper(),
        arrival_col=o.get("order_col", "page_id"),
    )


def _f_locate(spark, inputs, o, filename):
    return rel_op.locate(_one(inputs, "locate"), o["dimension"],
                         o.get("minmax", "max"),
                         arrival_col=o.get("order_col", "page_id"))


def _f_stats(spark, inputs, o, filename):
    dims = o["dimensions"]
    if isinstance(dims, str):
        dims = [d.strip() for d in dims.split(",")]
    return stats_op.stats(_one(inputs, "stats"), dims)


def _f_hexbin(spark, inputs, o, filename):
    return hexbin_op.density(
        _one(inputs, "hexbin"),
        float(o["edge_length"]), float(o["origin_x"]), float(o["origin_y"]),
    )


def _f_voxeldownsize(spark, inputs, o, filename):
    return rel_op.voxel_downsize(
        _one(inputs, "voxeldownsize"), cell=float(o.get("cell", 1.0)),
        origin=tuple(o.get("origin", (0.0, 0.0))),
        order_col=o.get("order_col", "page_id"),
    )


def _f_elm(spark, inputs, o, filename):
    return pc_op.elm(_one(inputs, "elm"), cell=float(o.get("cell", 10.0)),
                     threshold=float(o.get("threshold", 1.0)),
                     noise_class=int(o.get("class", 7)),
                     order_col=o.get("order_col", "page_id"))


def _f_cluster(spark, inputs, o, filename):
    return pc_op.cluster(
        _one(inputs, "cluster"), tolerance=float(o.get("tolerance", 1.0)),
        min_points=int(o.get("min_points", 1)),
        max_points=o.get("max_points"),
        id_col=o.get("id_col", "page_id"),
    )


def _f_sample(spark, inputs, o, filename):
    return pc_op.sample(_one(inputs, "sample"), float(o["radius"]),
                        order_col=o.get("order_col", "page_id"))


def _f_mortonorder(spark, inputs, o, filename):
    df = _one(inputs, "mortonorder")
    oc = o.get("order_col")
    if oc is None:
        # tiebreak column: a row id when present, else (x, y)
        oc = next((c for c in ("page_id", "doc_id", "id")
                   if c in df.columns), "x")
    return pc_op.morton_order(df,
                              reverse=bool(o.get("reverse", False)),
                              order_col=oc)


def _f_delaunay(spark, inputs, o, filename):
    # filters.delaunay (DelaunayFilter.cpp): faces table replaces the
    # side-channel mesh of the reference
    from pdal_spark.operators import mesh as mesh_op

    df = _one(inputs, "delaunay")
    kw = {}
    if "tile_len" in o:
        kw.update(
            mode="tiled", tile_len=float(o["tile_len"]),
            halo=float(o["halo"]),
            origin=(float(o.get("origin_x", 0.0)), float(o.get("origin_y", 0.0))),
        )
    return mesh_op.delaunay(
        df, x=o.get("x", "x"), y=o.get("y", "y"),
        id_col=o.get("order_col", "page_id"), **kw,
    )


def _f_shell(spark, inputs, o, filename):
    """filters.shell (ShellFilter.cpp): run a driver-side command between
    stages; the view passes through unchanged. Gated on PDAL_ALLOW_SHELL
    exactly like the reference (ShellFilter.cpp:69-73); non-zero exit
    raises with the captured output (:84-89). Deliberately OUTSIDE the
    Spark plan — a shell hook has no distributed meaning."""
    import os
    import subprocess

    if os.environ.get("PDAL_ALLOW_SHELL") is None:
        raise PipelineError(
            "PDAL_ALLOW_SHELL environment variable not set, "
            "shell access is not allowed"
        )
    cmd = o["command"]
    proc = subprocess.run(
        cmd, shell=True, capture_output=True, text=True
    )
    if proc.returncode:
        raise PipelineError(
            f"Command '{cmd}' failed to execute with output "
            f"'{proc.stdout + proc.stderr}'"
        )
    return _one(inputs, "shell")


def _infer_writer(spark, inputs, o, filename):
    """Writer by output extension (StageFactory::inferWriterDriver);
    parquet is the engine-native default."""
    fn = filename or o.get("filename", "")
    ext_map = {
        ".las": _w_las, ".laz": _w_las, ".ply": _w_ply, ".pcd": _w_pcd,
        ".bpf": _w_bpf, ".sbet": _w_sbet, ".csv": _w_csv, ".txt": _w_csv,
        ".geojson": _w_ogr, ".json": _w_ogr,
    }
    for ext, fn_w in ext_map.items():
        if fn.endswith(ext):
            # the specific writer expects its own type name in _one()
            return fn_w(spark, inputs, o, filename)
    return _w_parquet(spark, inputs, o, filename)


def translate(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    filters: Sequence | None = None,
    reader_options: dict | None = None,
    writer_options: dict | None = None,
) -> DataFrame:
    """``pdal translate in out [filter...]`` analog
    (kernels/TranslateKernel.cpp): reader inferred from the input
    extension, named filters applied in order (each either a stage-type
    string or a full option dict), writer inferred from the output
    extension."""
    doc: list = [
        {"type": "readers.infer", "filename": input_path,
         **(reader_options or {})}
    ]
    for f in filters or []:
        doc.append(dict(f) if isinstance(f, dict) else {"type": f})
    doc.append(
        {"type": "writers.infer", "filename": output_path,
         **(writer_options or {})}
    )
    return run(spark, doc)


def merge(
    spark: SparkSession,
    input_paths: Sequence[str],
    output_path: str,
    writer_options: dict | None = None,
) -> DataFrame:
    """``pdal merge in1 in2 ... out`` (kernels/MergeKernel.cpp:73-90):
    N >= 1 inferred readers -> merge -> inferred writer (the reference
    counts the output among its files and needs two of them)."""
    if not input_paths:
        raise PipelineError("Must specify an input and output file.")
    doc: list = [
        {"type": "readers.infer", "filename": p} for p in input_paths
    ]
    doc.append({"type": "filters.merge"})
    doc.append({"type": "writers.infer", "filename": output_path,
                **(writer_options or {})})
    return run(spark, doc)


def sort(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    compress: bool = False,
) -> DataFrame:
    """``pdal sort in out`` (kernels/SortKernel.cpp:73-90): reader ->
    filters.mortonorder -> writer; -z forwards the compression flag."""
    return translate(
        spark, input_path, output_path,
        filters=[{"type": "filters.mortonorder"}],
        writer_options={"compression": True} if compress else {},
    )


def random(
    spark: SparkSession,
    output_path: str,
    count: int = 1000,
    distribution: str = "uniform",
    compress: bool = False,
) -> DataFrame:
    """``pdal random -o out`` (kernels/RandomKernel.cpp:77-105):
    readers.faux -> writer.  Our faux reader is a deterministic
    uniform LCG; the reference's normal mode needs a gaussian faux
    mode and raises honestly."""
    if distribution != "uniform":
        raise PipelineError(
            f"random: distribution {distribution!r} unsupported "
            "(deterministic uniform faux only)")
    # faux points + a deterministic z ramp (the reference's faux
    # reader always emits X/Y/Z; LAS-family writers need z)
    df = synth.synth_points(spark, int(count)).withColumn(
        "z", (F.col("page_id") % 1000).cast("double") * 0.05)
    opts = {"compression": True} if compress else {}
    return _infer_writer(spark, [df], opts, output_path)


def ground(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    max_window_size: float = 18.0,
    slope: float = 0.15,
    cell_size: float = 1.0,
    scalar: float = 1.25,
    threshold: float = 0.5,
    cut: float = 0.0,
    extract: bool = False,
    reset: bool = False,
    denoise: bool = False,
) -> DataFrame:
    """``pdal ground in out`` (kernels/GroundKernel.cpp:92-148): the
    canned chain [assign Classification:=0 if reset] -> [outlier if
    denoise] -> filters.smrf -> [range Classification[2:2] if
    extract] -> writer."""
    filters: list = []
    if reset:
        filters.append({"type": "filters.assign",
                        "assignment": "Classification[:]=0"})
    if denoise:
        filters.append({"type": "filters.outlier"})
    filters.append({"type": "filters.smrf", "window": max_window_size,
                    "slope": slope, "threshold": threshold,
                    "cell": cell_size, "cut": cut, "scalar": scalar})
    if extract:
        filters.append({"type": "filters.range",
                        "limits": "Classification[2:2]"})
    return translate(spark, input_path, output_path, filters=filters)


def _w_parquet(spark, inputs, o, filename):
    df = _one(inputs, "writers.parquet")
    path = filename or o["filename"]
    part = o.get("partition_by")
    w = df.write.mode(o.get("mode", "overwrite"))
    if part:
        if isinstance(part, str):
            part = [part]
        w = w.partitionBy(*part)  # FlexWriter '#' per-view files analog
    w.parquet(path)
    return df


def _w_csv(spark, inputs, o, filename):
    df = _one(inputs, "writers.text")
    (df.write.mode(o.get("mode", "overwrite"))
       .option("header", True).csv(filename or o["filename"]))
    return df


def _w_null(spark, inputs, o, filename):
    df = _one(inputs, "writers.null")
    df.write.format("noop").mode("overwrite").save()
    return df


def _las_compression(value) -> bool:
    """writers.las ``compression``: PDAL spells it as a string, so
    "none"/"false" must read as off rather than as a truthy string."""
    v = str(value).strip().lower()
    if v in ("none", "false", ""):
        return False
    if v in ("laszip", "lazperf", "true"):
        return True
    raise PipelineError(f"writers.las: unknown compression {value!r}")


def _w_las(spark, inputs, o, filename):
    """writers.las (io/LasWriter.cpp): single-file LAS with summary
    header; scale/offset options mirror the reference's
    scale_x/offset_x args (LasWriter.cpp addArgs)."""
    from pdal_spark.formats import las as las_fmt

    df = _one(inputs, "writers.las")
    scales = tuple(
        float(o.get(f"scale_{a}", 0.01)) for a in ("x", "y", "z")
    )
    offsets = tuple(
        float(o.get(f"offset_{a}", 0.0)) for a in ("x", "y", "z")
    )
    las_fmt.write_las(
        df,
        filename or o["filename"],
        fmt=int(o.get("dataformat_id", 3)),
        scales=scales,
        offsets=offsets,
        version_minor=(
            int(o["minor_version"]) if "minor_version" in o else None
        ),
        # a .laz filename implies compression, like the reference
        # (LasWriter infers laszip output from the extension)
        compression=_las_compression(o.get("compression", False))
        or (filename or o["filename"]).endswith(".laz"),
    )
    return df


def _w_ply(spark, inputs, o, filename):
    """writers.ply (io/PlyWriter.cpp): storage_mode + Ascii-only
    precision option (PlyWriter.cpp:80-82)."""
    from pdal_spark.formats import ply as ply_fmt

    df = _one(inputs, "writers.ply")
    mode = o.get("storage_mode", "ascii")
    if mode == "little endian":  # the reference's alias spelling
        mode = "binary_le"
    if "precision" in o and mode != "ascii":
        raise PipelineError(
            "Option 'precision' can only be set of the 'storage_mode' "
            "is ascii."  # PlyWriter.cpp:80-82 wording
        )
    ply_fmt.write_ply(
        df, filename or o["filename"], storage_mode=mode,
        precision=int(o.get("precision", 3)),
    )
    return df


def _w_sbet(spark, inputs, o, filename):
    """writers.sbet (io/SbetWriter.cpp): degrees->radians on write."""
    from pdal_spark.formats import sbet as sbet_fmt

    df = _one(inputs, "writers.sbet")
    sbet_fmt.write_sbet(
        df, filename or o["filename"],
        angles_are_degrees=bool(o.get("angles_are_degrees", True)),
    )
    return df


def _w_bpf(spark, inputs, o, filename):
    """writers.bpf (io/BpfWriter.cpp): point-major, auto offsets."""
    from pdal_spark.formats import bpf as bpf_fmt

    df = _one(inputs, "writers.bpf")
    bpf_fmt.write_bpf(df, filename or o["filename"])
    return df


def _w_pcd(spark, inputs, o, filename):
    """writers.pcd (io/PcdWriter.cpp): ascii precision / binary."""
    from pdal_spark.formats import pcd as pcd_fmt

    df = _one(inputs, "writers.pcd")
    pcd_fmt.write_pcd(
        df, filename or o["filename"],
        storage_mode=o.get("storage_mode", "ascii"),
        precision=int(o.get("precision", 2)),
    )
    return df


def _w_ogr(spark, inputs, o, filename):
    # writers.ogr (OGRWriter.cpp): vector-feature product as GeoJSONSeq
    from pdal_spark.operators import ogr as ogr_op

    df = _one(inputs, "writers.ogr")
    ogr_op.write_geojson_seq(
        df, filename or o["filename"],
        x=o.get("x", "x"), y=o.get("y", "y"), z=o.get("z"),
        properties=o.get("properties"), order_col=o.get("order_col"),
    )
    return df


StageFn = Callable[[SparkSession, list, dict, Any], DataFrame]

REGISTRY: dict[str, StageFn] = {
    "readers.infer": _infer_reader,
    "readers.parquet": _r_parquet,
    "readers.text": _r_text,
    "readers.faux": _r_faux,
    "readers.las": _r_las,
    "readers.ply": _r_ply,
    "readers.sbet": _r_sbet,
    "readers.pts": _r_pts,
    "readers.bpf": _r_bpf,
    "readers.qfit": _r_qfit,
    "readers.terrasolid": _r_terrasolid,
    "readers.ilvis2": _r_ilvis2,
    "readers.optech": _r_optech,
    "readers.ept": _r_ept,
    "readers.pcd": _r_pcd,
    "filters.crop": _f_crop,
    "filters.range": _f_range,
    "filters.mongo": _f_mongo,
    "filters.assign": _f_assign,
    "filters.ferry": _f_ferry,
    "filters.splitter": _f_splitter,
    "filters.chipper": _f_chipper,
    "filters.decimation": _f_decimation,
    "filters.head": _f_head,
    "filters.tail": _f_tail,
    "filters.divider": _f_divider,
    "filters.groupby": _f_groupby,
    "filters.merge": _f_merge,
    "filters.sort": _f_sort,
    "filters.locate": _f_locate,
    "filters.stats": _f_stats,
    "filters.hexbin": _f_hexbin,
    "filters.voxeldownsize": _f_voxeldownsize,
    "filters.elm": _f_elm,
    "filters.cluster": _f_cluster,
    "filters.sample": _f_sample,
    "filters.mortonorder": _f_mortonorder,
    "filters.reprojection": _f_reprojection,
    "filters.projpipeline": _f_projpipeline,
    "filters.smrf": _f_smrf,
    "filters.pmf": _f_pmf,
    "filters.outlier": _f_outlier,
    "filters.shell": _f_shell,
    "filters.delaunay": _f_delaunay,
    "writers.infer": _infer_writer,
    "writers.parquet": _w_parquet,
    "writers.text": _w_csv,
    "writers.null": _w_null,
    "writers.las": _w_las,
    "writers.ply": _w_ply,
    "writers.sbet": _w_sbet,
    "writers.bpf": _w_bpf,
    "writers.pcd": _w_pcd,
    "writers.ogr": _w_ogr,
}

_REQUIRED_OPTS = {
    "filters.reprojection": ["out_srs"],
    "filters.projpipeline": ["coord_op"],
    "filters.range": ["limits"],
    "filters.mongo": ["expression"],
    "filters.assign": ["assignment"],
    "filters.ferry": ["dimensions"],
    "filters.splitter": ["origin_x", "origin_y"],
    "filters.groupby": ["dimension"],
    "filters.sort": ["dimension"],
    "filters.locate": ["dimension"],
    "filters.stats": ["dimensions"],
    "filters.hexbin": ["edge_length", "origin_x", "origin_y"],
    "filters.sample": ["radius"],
    "filters.shell": ["command"],
}


def validate(doc: Any) -> list[StageSpec]:
    """Name/option check without execution (`pdal pipeline --validate`)."""
    specs = parse(doc)
    tags: set[str] = set()
    for i, s in enumerate(specs):
        if s.type not in REGISTRY:
            raise PipelineError(f"stage {i}: unknown stage type '{s.type}'")
        for req in _REQUIRED_OPTS.get(s.type, []):
            if req not in s.options:
                raise PipelineError(f"stage {i} ({s.type}): missing option '{req}'")
        for t in s.inputs:
            if t not in tags:
                raise PipelineError(f"stage {i}: unknown input tag '{t}'")
        if s.tag:
            tags.add(s.tag)
    return specs


def run(spark: SparkSession, doc: Any) -> DataFrame:
    """Execute a pipeline; returns the last stage's DataFrame."""
    specs = validate(doc)
    tags: dict[str, DataFrame] = {}
    chain: list[DataFrame] = []
    out: DataFrame | None = None
    for s in specs:
        fn = REGISTRY[s.type]
        if s.type.startswith("readers."):
            ins: list[DataFrame] = []
        elif s.inputs:
            ins = [tags[t] for t in s.inputs]
        else:
            ins = list(chain)
        out = fn(spark, ins, s.options, s.filename)
        if s.type.startswith("readers."):
            chain.append(out)  # readers accumulate (multi-input merge)
        else:
            chain = [out]
        if s.tag:
            tags[s.tag] = out
    assert out is not None
    return out
