"""Remaining PDAL filter inventory: elm, cluster, sample, fps,
mortonorder, separatescanline, colorinterp, overlay, dem, colorization,
hag.

Each docstring cites the reference semantics being matched; operators
that are inherently sequential in the reference (sample, fps) ship an
exact single-kernel parity mode plus a tile-partitioned scale mode with
documented tile-border divergence (SURVEY §7.3).
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from pdal_spark import geo
from pdal_spark.operators.knn import knn_join, knn_join_exact, radius_join
from pdal_spark.operators.layout import _SPREAD_LUT
from pdal_spark.operators.ordered import global_rank, running_total


# ---------------------------------------------------------------------------
# filters.elm — extended local minimum (ELMFilter.cpp:76-136)
# ---------------------------------------------------------------------------


def elm(
    df: DataFrame,
    cell: float = 10.0,
    threshold: float = 1.0,
    noise_class: int = 7,
    origin: tuple[float, float] | None = None,
    x: str = "x",
    y: str = "y",
    z: str = "z",
    order_col: str | None = None,
    class_col: str = "classification",
) -> DataFrame:
    """Mark low outliers per grid cell: walk cell points by ascending
    elevation; while each gap to the next point is >= threshold, the
    lower point is noise; stop at the first small gap (ELMFilter.cpp:
    106-130; the last point of a cell is never marked).

    The reference's cell formula is floor(x-minx)/cell — floor applied
    BEFORE the division (ELMFilter.cpp:94-95) — replicated verbatim.
    ``origin`` pins (minx, miny); None computes them (extra pass).
    """
    if origin is None:
        row = df.agg(F.min(x).alias("mx"), F.min(y).alias("my")).collect()[0]
        origin = (row.mx, row.my)
    ox, oy = origin
    cx = (F.floor(F.col(x) - F.lit(ox)) / cell).cast("long")
    cy = (F.floor(F.col(y) - F.lit(oy)) / cell).cast("long")
    ordc = F.col(order_col) if order_col else F.monotonically_increasing_id()
    work = df.withColumn("_ex", cx).withColumn("_ey", cy).withColumn("_eo", ordc)

    w = Window.partitionBy("_ex", "_ey").orderBy(F.col(z).asc(), F.col("_eo").asc())
    work = work.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_gap_small",
        F.when(
            F.lead(z, 1).over(w).isNotNull(),
            F.abs(F.col(z) - F.lead(z, 1).over(w)) < threshold,
        ).otherwise(F.lit(True)),  # last point: treated as stop
    )
    wc = Window.partitionBy("_ex", "_ey")
    first_stop = F.min(F.when(F.col("_gap_small"), F.col("_rk"))).over(wc)
    is_noise = F.col("_rk") < first_stop
    base = F.col(class_col) if class_col in df.columns else F.lit(0)
    return (
        work.withColumn(
            class_col, F.when(is_noise, F.lit(noise_class)).otherwise(base)
        )
        .drop("_ex", "_ey", "_eo", "_rk", "_gap_small")
    )


# ---------------------------------------------------------------------------
# filters.cluster — Euclidean clustering (Segmentation.cpp:53-115)
# ---------------------------------------------------------------------------


def _cc_roots(pts: DataFrame, edges: DataFrame, driver_max_edges: int,
              max_iters: int = 50) -> DataFrame:
    """Dispatch CC resolution: driver union-find under the edge cap,
    distributed min-label above it. The cap check IS the collect — a
    limit(cap+1) Arrow probe — so the common small-graph case pays ONE
    job over the edge list instead of count()-then-collect()."""
    probe = (
        edges.select("src_id", "cand_id")
        .limit(driver_max_edges + 1)
        .toPandas()
    )
    if len(probe) <= driver_max_edges:
        return _cc_union_find(pts, edges, pdf=probe)
    return _cc_min_label(pts.select("id"), edges, max_iters)


def _union_find_rows(pdf) -> list[tuple[int, int]]:
    """Driver union-find over an Arrow-collected edge frame ->
    [(id, root)] for every node APPEARING IN AN EDGE. Root = smallest
    member id (union by smaller id)."""
    src = pdf["src_id"].tolist()
    dst = pdf["cand_id"].tolist()
    parent: dict = {}
    for i in src:
        parent.setdefault(i, i)
    for i in dst:
        parent.setdefault(i, i)

    def find(a):
        root = a
        while parent[root] != root:
            root = parent[root]
        while parent[a] != root:
            parent[a], a = root, parent[a]
        return root

    for sa, sb in zip(src, dst):
        ra, rb = find(sa), find(sb)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return [(int(i), int(find(i))) for i in parent]


def cc_edge_roots(edges: DataFrame, driver_max_edges: int = 5_000_000,
                  max_iters: int = 50) -> DataFrame:
    """(id, root) restricted to nodes that APPEAR IN AN EDGE. Isolated
    nodes are their own root by definition, so callers that only need
    "drop iff root != id" (dedup survivor selection) skip both the
    touched-node distinct and the pts join that _cc_roots pays —
    several shuffles fewer per call. Same driver-cap dispatch."""
    probe = (
        edges.select("src_id", "cand_id")
        .limit(driver_max_edges + 1)
        .toPandas()
    )
    spark = edges.sparkSession
    if len(probe) <= driver_max_edges:
        rows = _union_find_rows(probe)
        if rows:
            return spark.createDataFrame(rows, "id long, root long")
        return spark.createDataFrame([], "id long, root long")
    pts = (
        edges.select(F.col("src_id").alias("id"))
        .union(edges.select(F.col("cand_id").alias("id")))
        .distinct()
    )
    return _cc_min_label(pts, edges, max_iters)


def _cc_union_find(pts: DataFrame, edges: DataFrame,
                   pdf=None) -> DataFrame:
    """(id, root) via driver union-find — the small-graph parity path.
    Root = smallest member id (union by smaller id).

    Only ids that APPEAR IN AN EDGE ever reach the driver (isolated
    points are their own root by definition and stay distributed — a
    left join + coalesce at the end), so driver memory is bounded by
    the edge list the caller already capped, not by |pts|. The edge
    list crosses the boundary as ONE Arrow batch (toPandas), not
    per-row pickled Rows — at the driver cap (5M edges) that is the
    difference between ~1 s and ~30 s of driver deserialization.
    ``pdf`` lets _cc_roots hand over its already-collected probe."""
    if pdf is None:
        pdf = edges.select("src_id", "cand_id").toPandas()
    rows = _union_find_rows(pdf)
    spark = pts.sparkSession
    edge_roots = (
        spark.createDataFrame(rows, "id long, _er long")
        if rows
        else spark.createDataFrame([], "id long, _er long")
    )
    # isolated points: root = self, resolved distributed
    return pts.select("id").join(F.broadcast(edge_roots), "id", "left").select(
        "id", F.coalesce("_er", F.col("id")).alias("root")
    )


def _cc_min_label(pts: DataFrame, edges: DataFrame, max_iters: int) -> DataFrame:
    """(id, root) via distributed min-label propagation with pointer
    jumping — the scale path (no driver collect of nodes or edges).

    Each round: label(v) <- min(label(v), min over neighbors label(u)),
    then compress label <- label(label). Labels only decrease and stay
    inside the component, so the fixpoint label IS the min member id —
    identical output to union-find. Pointer jumping halves chain depth
    per round (O(log diameter) rounds on paths); localCheckpoint
    truncates the iterative lineage."""
    sym = edges.select(
        F.col("src_id").alias("a"), F.col("cand_id").alias("b")
    ).union(edges.select(F.col("cand_id").alias("a"), F.col("src_id").alias("b")))
    lab = pts.select("id", F.col("id").alias("lbl")).localCheckpoint()
    for _ in range(max_iters):
        nb_min = (
            sym.join(lab.withColumnRenamed("id", "a"), "a")
            .groupBy(F.col("b").alias("id"))
            .agg(F.min("lbl").alias("lbl"))
        )
        cand = (
            lab.unionByName(nb_min).groupBy("id").agg(F.min("lbl").alias("lbl"))
        )
        jump = cand.select(F.col("id").alias("lbl"), F.col("lbl").alias("lbl2"))
        new = (
            cand.join(jump, "lbl", "left")
            .select("id", F.coalesce("lbl2", "lbl").alias("lbl"))
            .localCheckpoint()
        )
        changed = (
            new.withColumnRenamed("lbl", "_nl")
            .join(lab, "id")
            .filter(F.col("_nl") != F.col("lbl"))
            .count()
        )
        lab = new
        if changed == 0:
            return lab.withColumnRenamed("lbl", "root")
    raise ValueError(f"cluster(): label propagation needs > {max_iters} rounds")


def cluster(
    df: DataFrame,
    tolerance: float = 1.0,
    min_points: int = 1,
    max_points: int | None = None,
    id_col: str = "page_id",
    x: str = "x",
    y: str = "y",
    max_iters: int = 50,
    driver_max_edges: int = 5_000_000,
) -> DataFrame:
    """ClusterID labeling: connected components of the radius(<=tolerance)
    graph == the reference's BFS clusters; kept clusters (size within
    [min, max]) are numbered 1..k by their smallest member id — identical
    to the reference's seed-scan order (ClusterFilter.cpp:66-76).

    Execution: the radius graph is built distributed (cell-bucketed
    radius join). Components are resolved by driver union-find only while
    the edge list stays under `driver_max_edges`; above it, distributed
    min-label propagation (_cc_min_label) takes over — same roots, same
    numbering, no driver materialization. Both paths are equivalence-
    tested (tests/test_pointcloud.py)."""
    pts = df.select(F.col(id_col).alias("id"), x, y)
    edges = radius_join(
        pts.withColumnRenamed("id", "src_id"),
        pts.withColumnRenamed("id", "cand_id"),
        tolerance, src_id="src_id", cand_id="cand_id", x=x, y=y,
    ).filter(F.col("src_id") < F.col("cand_id")).select("src_id", "cand_id")
    edges = edges.persist()
    roots = _cc_roots(pts, edges, driver_max_edges, max_iters)

    sizes = roots.groupBy("root").agg(F.count("*").alias("_sz"))
    keep = F.col("_sz") >= min_points
    if max_points is not None:
        keep = keep & (F.col("_sz") <= max_points)
    from pdal_spark.operators.ordered import global_rank

    numbered = global_rank(
        sizes.filter(keep).select("root"), [F.col("root").asc()],
        out_col="cluster_id",
    )
    # numbered is one row per kept cluster — can itself be huge at scale,
    # so this is a plain shuffled join (AQE may still broadcast it)
    side = roots.join(numbered, "root", "left").select(
        F.col("id").alias("_cl_id"),
        F.coalesce("cluster_id", F.lit(0)).alias("cluster_id"),
    )
    return df.join(side, df[id_col] == side["_cl_id"], "left").drop("_cl_id")


# ---------------------------------------------------------------------------
# filters.sample — greedy Poisson-disk (SampleFilter.cpp:74-117)
# ---------------------------------------------------------------------------


def _sample_kernel_np(xs, ys, radius):
    """Greedy arrival-order mask: keep point unless within radius of an
    already-kept point (inclusive, KD radius semantics r^2 <=)."""
    cell = radius if radius > 0 else 1.0
    kept_cells: dict[tuple[int, int], list[int]] = {}
    keep = np.zeros(len(xs), dtype=bool)
    r2 = radius * radius
    for i in range(len(xs)):
        cxi = int(np.floor(xs[i] / cell))
        cyi = int(np.floor(ys[i] / cell))
        masked = False
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                for j in kept_cells.get((cxi + dx, cyi + dy), ()):
                    ddx = xs[i] - xs[j]
                    ddy = ys[i] - ys[j]
                    if ddx * ddx + ddy * ddy <= r2:
                        masked = True
                        break
                if masked:
                    break
            if masked:
                break
        if not masked:
            keep[i] = True
            kept_cells.setdefault((cxi, cyi), []).append(i)
    return keep


def sample(
    df: DataFrame,
    radius: float,
    order_col: str,
    x: str = "x",
    y: str = "y",
    partitioned: bool | None = None,
    tile_len: float | None = None,
    origin: tuple[float, float] = (0.0, 0.0),
    max_rows_exact: int = 2_000_000,
) -> DataFrame:
    """Poisson-disk subsample: scan in arrival order, keep a point iff no
    already-kept point lies within radius (masked-forever semantics).

    partitioned=False: exact single-kernel parity mode (one executor).
    partitioned=True: per-tile independent kernels (tile_len >> radius) —
    near-identical density, but points near tile borders may differ from
    the global scan (documented divergence; the reference itself is
    order-dependent, SURVEY §7.3).
    partitioned=None (default): single-kernel up to max_rows_exact, the
    tile-parallel mode above it (tile_len defaults to 256*radius) — big
    inputs sample without flags instead of raising.

    EXPLICIT partitioned=False REFUSES inputs above max_rows_exact
    (counting is cheap vs. the kernel): a caller who pinned parity mode
    on more rows than one executor holds must either accept the scale
    mode or raise the cap for the parity run."""

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="stable")
        keep = _sample_kernel_np(
            pdf[x].to_numpy(np.float64), pdf[y].to_numpy(np.float64), radius
        )
        return pdf[keep]

    n = None
    if partitioned is None:
        n = df.count()
        partitioned = n > max_rows_exact
        if partitioned:
            # parity-sensitive callers must notice the divergent mode:
            # tile-border keeps may differ from the global scan
            warnings.warn(
                f"sample(): {n} rows > max_rows_exact={max_rows_exact}; "
                "auto-switching to tile-parallel mode, whose results "
                "near tile borders may differ from the single-kernel "
                "global scan. Pass partitioned=False (with a raised "
                "max_rows_exact) to force exact parity mode.",
                stacklevel=2,
            )
        if partitioned and tile_len is None:
            tile_len = 256.0 * radius
    if partitioned:
        if not tile_len or tile_len < 2 * radius:
            raise ValueError("tile_len must be >= 2*radius")
        tiled = df.withColumn(
            "_tx", geo.tile_coord(x, origin[0], tile_len)
        ).withColumn("_ty", geo.tile_coord(y, origin[1], tile_len))
        out = tiled.groupBy("_tx", "_ty").applyInPandas(kernel, schema=tiled.schema)
        return out.drop("_tx", "_ty")
    if n is None:
        n = df.count()
    if n > max_rows_exact:
        raise ValueError(
            f"sample(): {n} rows exceed max_rows_exact={max_rows_exact} for "
            "the single-kernel parity mode; pass partitioned=True with a "
            "tile_len (scale mode) or raise max_rows_exact explicitly"
        )
    g = df.withColumn("_g", F.lit(0))
    return g.groupBy("_g").applyInPandas(kernel, schema=g.schema).drop("_g")


# ---------------------------------------------------------------------------
# filters.fps — farthest point sampling (FarthestPointSamplingFilter.cpp:69-125)
# ---------------------------------------------------------------------------


def fps(
    df: DataFrame, count: int, order_col: str, x: str = "x", y: str = "y"
) -> DataFrame:
    """Iteratively add the point farthest from the selected set, seeded
    with the first point in arrival order; returns the selected rows with
    fps_order. max_element tie rule = first (lowest arrival) index wins.

    Inherently sequential (count iterations, each depends on all prior) —
    runs on collected coordinates (driver numpy, vectorized min-distance
    updates); for corpus-scale inputs, pre-decimate or tile first."""
    rows = df.select(order_col, x, y).orderBy(order_col).collect()
    if len(rows) < count:
        return df.limit(0).withColumn("fps_order", F.lit(0).cast("long"))
    ids = np.array([r[0] for r in rows])
    xs = np.array([r[1] for r in rows])
    ys = np.array([r[2] for r in rows])
    n = len(ids)
    sel = [0]
    min_d = (xs - xs[0]) ** 2 + (ys - ys[0]) ** 2
    for _ in range(1, count):
        nxt = int(np.argmax(min_d))  # first max wins, like std::max_element
        sel.append(nxt)
        d = (xs - xs[nxt]) ** 2 + (ys - ys[nxt]) ** 2
        np.minimum(min_d, d, out=min_d)
    spark = df.sparkSession
    sel_df = spark.createDataFrame(
        [(int(ids[s]), i) for i, s in enumerate(sel)],
        f"{order_col} long, fps_order long",
    )
    return df.join(sel_df, order_col)


# ---------------------------------------------------------------------------
# filters.mortonorder (MortonOrderFilter.cpp:75-230)
# ---------------------------------------------------------------------------

_INT_MAX = 2147483647


# byte -> bit-reversed byte (for the reverse-morton 32-bit reversal)
_REV8_LUT = [int(f"{b:08b}"[::-1], 2) for b in range(256)]


def _lut(values: list[int]) -> Column:
    """A BIGINT lookup table as one folded array literal. The element
    type matters: shiftleft on IntegerType wraps the shift mod 32."""
    return F.expr(geo.sql_array(values, "BIGINT", "spark"))


def _interleave_bits(v: Column, bits: int) -> Column:
    """Spread the low `bits` bits of v to even positions (codegen expr).

    Bit-identical to the naive per-bit unroll, through layout's byte
    spread table: 4 lookups instead of 31 shift-mask-add terms, whose
    ~60-node tree Janino re-compiled per stage (the range-partitioner
    sample pass, the count pass and the final pass each paid ~2 s of
    codegen for a 5k-row input)."""
    lut = _lut(_SPREAD_LUT)
    out = F.lit(0).cast("long")
    for byte in range((bits + 7) // 8):
        idx = F.shiftright(v, 8 * byte).bitwiseAND(F.lit(255))
        out = out + F.shiftleft(F.element_at(lut, (idx + 1).cast("int")), 16 * byte)
    return out


def _reverse_bits32(code: Column) -> Column:
    """32-bit bit reversal (ReverseZOrder::reverse_morton) via byte LUT."""
    lut = _lut(_REV8_LUT)
    out = F.lit(0).cast("long")
    for byte in range(4):
        idx = F.shiftright(code, 8 * byte).bitwiseAND(F.lit(255))
        out = out + F.shiftleft(
            F.element_at(lut, (idx + 1).cast("int")), 8 * (3 - byte)
        )
    return out


def morton_order(
    df: DataFrame,
    reverse: bool = False,
    bounds: tuple[float, float, float, float] | None = None,
    n_rows: int | None = None,
    x: str = "x",
    y: str = "y",
    order_col: str | None = None,
) -> DataFrame:
    """Adds morton_key + morton_rank.

    Forward: normalized coords scaled by INT_MAX, bit-interleaved with y
    in the higher position — the total order of the reference's
    less_msb comparator (MortonOrderFilter.cpp:75-95).
    Reverse: sqrt(n)-cell grid, 16-bit morton code, bit-REVERSED
    (dispersed order, :100-163). n must be known (pass n_rows or it's
    counted); bounds likewise (order-independent pinning).
    """
    if bounds is None:
        r = df.agg(F.min(x), F.min(y), F.max(x), F.max(y)).collect()[0]
        bounds = (r[0], r[1], r[2], r[3])
    minx, miny, maxx, maxy = bounds
    xrange, yrange = maxx - minx, maxy - miny

    if not reverse:
        xi = ((F.col(x) - F.lit(minx)) / F.lit(xrange) * F.lit(_INT_MAX)).cast("long")
        yi = ((F.col(y) - F.lit(miny)) / F.lit(yrange) * F.lit(_INT_MAX)).cast("long")
        # less_msb comparator: on equal msb positions the FIRST coordinate
        # (x) decides — so x takes the higher interleave bit
        key = F.shiftleft(_interleave_bits(xi, 31), 1) + _interleave_bits(yi, 31)
    else:
        n = n_rows if n_rows is not None else df.count()
        celln = int(np.sqrt(n))
        cw, ch = xrange / celln, yrange / celln
        xp = F.floor((F.col(x) - F.lit(minx)) / F.lit(cw)).cast("long")
        yp = F.floor((F.col(y) - F.lit(miny)) / F.lit(ch)).cast("long")
        code = _interleave_bits(xp.bitwiseAND(F.lit(0xFFFF)), 16) + F.shiftleft(
            _interleave_bits(yp.bitwiseAND(F.lit(0xFFFF)), 16), 1
        )
        # 32-bit bit reversal (ReverseZOrder::reverse_morton), byte-LUT
        key = _reverse_bits32(code)
    keyed = df.withColumn("_mkey", key)
    rank_keys = [F.col("_mkey").asc()] + (
        [F.col(order_col).asc()] if order_col else []
    )
    return global_rank(keyed, rank_keys, out_col="morton_rank").withColumnRenamed(
        "_mkey", "morton_key"
    )


# ---------------------------------------------------------------------------
# filters.separatescanline (SeparateScanLineFilter.cpp:70-95)
# ---------------------------------------------------------------------------


def separate_scan_line(
    df: DataFrame, groupby: int = 1, flag_col: str = "edge_of_flight_line",
    order_col: str = "page_id",
) -> DataFrame:
    """view_id = floor(#flagged rows strictly before this row / groupby)
    — the running line counter of the reference's sequential scan,
    computed as a distributed exclusive prefix sum (ordered.running_total:
    range partition + per-partition offsets, no global window)."""
    staged = running_total(
        df, [F.col(order_col).asc()], F.col(flag_col), out_col="_flags_before"
    )
    return staged.withColumn(
        "view_id", (F.col("_flags_before") / groupby).cast("long")
    ).drop("_flags_before")


# ---------------------------------------------------------------------------
# filters.colorinterp (ColorinterpFilter.cpp:268-288)
# ---------------------------------------------------------------------------


def colorinterp(
    df: DataFrame,
    ramp: list[tuple[int, int, int]],
    dim: str,
    vmin: float | None = None,
    vmax: float | None = None,
    invert: bool = False,
) -> DataFrame:
    """RGB from a color ramp: skip rows with v < min or v >= max (RGB
    null); position = floor((v-min)/(max-min) * ramp_len), optional
    inversion. min/max default to the data range (extra pass)."""
    if vmin is None or vmax is None:
        r = df.agg(F.min(dim), F.max(dim)).collect()[0]
        vmin = vmin if vmin is not None else r[0]
        vmax = vmax if vmax is not None else r[1]
    width = len(ramp)
    v = F.col(dim)
    factor = (v - F.lit(vmin)) / F.lit(vmax - vmin)
    pos = F.floor(factor * width).cast("int")
    if invert:
        pos = F.lit(width - 1) - pos
    in_range = (v >= F.lit(vmin)) & (v < F.lit(vmax))
    reds = F.array(*[F.lit(c[0]) for c in ramp])
    greens = F.array(*[F.lit(c[1]) for c in ramp])
    blues = F.array(*[F.lit(c[2]) for c in ramp])
    sel = F.least(pos, F.lit(width - 1)) + 1  # element_at is 1-based
    return (
        df.withColumn("red", F.when(in_range, F.element_at(reds, sel)))
        .withColumn("green", F.when(in_range, F.element_at(greens, sel)))
        .withColumn("blue", F.when(in_range, F.element_at(blues, sel)))
    )


# ---------------------------------------------------------------------------
# filters.overlay (OverlayFilter.cpp:86-159)
# ---------------------------------------------------------------------------


def overlay(
    df: DataFrame,
    polygons: list[tuple["object", int]],
    dim: str,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Set `dim` = polygon attribute for containing polygons; polygons
    iterated in order, LAST match wins (OverlayFilter.cpp:150-157).
    polygons = [(crop.Polygon, value), ...] in layer order."""
    from pdal_spark.operators.crop import polygon_contains_col

    val: Column = F.col(dim) if dim in df.columns else F.lit(None).cast("long")
    for poly, v in polygons:  # later polygons overwrite earlier — last wins
        inside = polygon_contains_col(poly, x, y)
        val = F.when(inside, F.lit(v)).otherwise(val)
    return df.withColumn(dim, val)


# ---------------------------------------------------------------------------
# filters.dem / filters.colorization — point <-> raster joins
# ---------------------------------------------------------------------------


def dem_filter(
    df: DataFrame,
    cells: DataFrame,
    grid,
    band: str = "idw",
    limits: tuple[float, float] = (0.0, 0.0),
    x: str = "x",
    y: str = "y",
    z: str = "z",
) -> DataFrame:
    """filters.dem (DEMFilter.cpp:83-130): keep a row iff its z is within
    [band+lo, band+hi] of the raster band value at its cell. cells = a
    rasterize() output; broadcast-joined on the (col,row) key."""
    lo, hi = limits
    i, j = geo.raster_cell(x, y, grid.origin_x, grid.origin_y, grid.edge, grid.height)
    work = df.withColumn("col", i).withColumn("row", j)
    joined = work.join(
        F.broadcast(cells.select("col", "row", F.col(band).alias("_dem"))),
        ["col", "row"], "left",
    )
    keep = (
        F.col("_dem").isNotNull()
        & (F.col(z) >= F.col("_dem") + F.lit(lo))
        & (F.col(z) <= F.col("_dem") + F.lit(hi))
    )
    return joined.filter(keep).drop("_dem", "col", "row")


def colorization(
    df: DataFrame,
    cells: DataFrame,
    grid,
    bands: list[tuple[str, str, float]],
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """filters.colorization (ColorizationFilter.cpp:204-226): sample
    raster bands at each point's cell, write band*scale into new dims.
    bands = [(cell_column, out_dim, scale), ...]."""
    i, j = geo.raster_cell(x, y, grid.origin_x, grid.origin_y, grid.edge, grid.height)
    work = df.withColumn("col", i).withColumn("row", j)
    sel = cells.select("col", "row", *[b[0] for b in bands])
    joined = work.join(F.broadcast(sel), ["col", "row"], "left")
    for src, out, scale in bands:
        joined = joined.withColumn(out, F.col(src) * F.lit(scale))
    return joined.drop(*[b[0] for b in bands if b[0] not in df.columns]).drop(
        "col", "row"
    )


# ---------------------------------------------------------------------------
# filters.hag (HAGFilter.cpp:196-303)
# ---------------------------------------------------------------------------


def hag(
    df: DataFrame,
    count: int = 1,
    max_distance: float = 0.0,
    allow_extrapolation: bool = True,
    id_col: str = "page_id",
    x: str = "x",
    y: str = "y",
    z: str = "z",
    class_col: str = "classification",
    ground_class: int = 2,
    cell_size: float | None = None,
    validate: bool = False,
) -> DataFrame:
    """HeightAboveGround: ground rows (class==2) get 0; others get
    z - z_ground where z_ground = nearest ground z (count=1) or
    1/d^2-weighted IDW over the `count` nearest ground points, honoring
    the same-xy short-circuit and max_distance cutoff
    (HAGFilter.cpp:60-160 neighbor_interp_ground). Delaunay mode is out
    of scope (mesh family, SURVEY §1.1)."""
    ground = df.filter(F.col(class_col) == ground_class)
    non_ground = df.filter(F.col(class_col) != ground_class)

    g = ground.select(
        F.col(id_col).alias("_g_id"), F.col(x), F.col(y), F.col(z).alias("_gz")
    )
    q = non_ground.select(F.col(id_col).alias("_q_id"), F.col(x), F.col(y),
                          F.col(z).alias("_qz"))
    # Ground points are ~1/3 of a point cloud — never broadcastable at
    # scale. cell_size routes through the bucketed grid join (validate
    # proves exactness); the broadcast path stays for tiny ground sets.
    if cell_size is not None:
        knn = knn_join(
            q.select(F.col("_q_id").alias("src_id"), x, y),
            g.select(F.col("_g_id").alias("cand_id"), x, y),
            count, cell_size, src_id="src_id", cand_id="cand_id", x=x, y=y,
            validate=validate,
        )
    else:
        knn = knn_join_exact(
            q.select(F.col("_q_id").alias("src_id"), x, y),
            g.select(F.col("_g_id").alias("cand_id"), x, y),
            count, src_id="src_id", cand_id="cand_id", x=x, y=y,
        )
    nb = knn.join(
        g.select(F.col("_g_id").alias("cand_id"), F.col(x).alias("_gx"),
                 F.col(y).alias("_gy"), "_gz"),
        "cand_id",
    ).join(q.select(F.col("_q_id").alias("src_id"), F.col(x).alias("_qx"),
                    F.col(y).alias("_qy"), "_qz"), "src_id")

    same_xy = (F.col("rank") == 1) & (F.col("_qx") == F.col("_gx")) & (
        F.col("_qy") == F.col("_gy")
    )
    within = (
        F.lit(max_distance <= 0) | (F.col("dist") * F.col("dist") <= max_distance ** 2)
    )
    d2 = F.col("dist") * F.col("dist")
    wgt = F.when(d2 == 0, F.lit(None)).otherwise(1.0 / d2)
    per_src = nb.groupBy("src_id").agg(
        F.max(F.when(same_xy, F.col("_gz"))).alias("_exact_z"),
        (
            F.sum(F.when(within, F.col("_gz") * wgt))
            / F.sum(F.when(within, wgt))
        ).alias("_idw_z"),
    )
    hag_ng = non_ground.join(
        per_src.withColumnRenamed("src_id", "_h_id"),
        non_ground[id_col] == F.col("_h_id"), "left",
    )
    # fall back to the point's own z (HAG = 0) when no weight accumulated
    # (all neighbors beyond max_distance) — zDefault semantics
    z1 = F.coalesce("_exact_z", "_idw_z", F.col(z))
    if not allow_extrapolation:
        b = ground.agg(F.min(x), F.min(y), F.max(x), F.max(y)).collect()[0]
        outside = (
            (F.col(x) < b[0]) | (F.col(y) < b[1])
            | (F.col(x) > b[2]) | (F.col(y) > b[3])
        )
        z1 = F.when(outside, F.col(z)).otherwise(z1)
    hag_ng = hag_ng.withColumn(
        "height_above_ground", F.col(z) - z1
    ).drop("_h_id", "_exact_z", "_idw_z")
    hag_g = ground.withColumn("height_above_ground", F.lit(0.0))
    return hag_g.unionByName(hag_ng)
