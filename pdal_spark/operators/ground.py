"""filters.smrf — Simple Morphological Filter ground segmentation.

Reference: /root/reference/filters/SMRFilter.cpp (Pingel, Clarke,
McBride 2013 as implemented there) — run/createZImin/createLowMask/
createObjMask/createZIpro/classifyGround, plus the EigenUtils grid
helpers (erodeDiamond/dilateDiamond EigenUtils.cpp:278-355, gradX/gradY
EigenUtils.hpp:253-290, knnfill SMRFilter.cpp:575-633).

Execution split (the Spark-first shape):

  * POINT-side work is distributed: the minimum-Z surface is one
    ``groupBy(cell).agg(min(z))`` (map-side combine, single shuffle over
    the points), and the final classify is a broadcast join of the
    per-cell (DEM, threshold) table back onto the points — both scale
    with the point count across executors.
  * GRID-side work (morphological opening, inpainting, gradients) is an
    iterative stencil over the CELL GRID, whose size is
    O(extent / cell^2) — independent of the point count, orders of
    magnitude smaller (a 100 TB cloud over a city at 1 m cells is a
    ~10^8-cell grid). It runs as one vectorized numpy pass on the
    driver; for continent-scale grids the same kernel applies per
    splitter tile with a (4 * window/cell)-cell halo, the standard
    overlap-tile decomposition (splitter.py buffered tiles) — noted,
    not needed at the gated scales.

Semantics replicated from the reference, including the quirks:
  * cell key: ``floor(x - minx) / cell`` — floor BEFORE divide
    (SMRFilter.cpp:459-460, like ELM);
  * grid dims: ``int((max - min) / cell) + 1`` (:241-244);
  * progressive filter: erode the PREVIOUS erosion once per round,
    dilate by the current radius, diff against the previous OPENED
    surface, flag > slope * cell * radius (:637-700);
  * low-outlier mask = progressive filter on the NEGATED min surface
    with slope 5.0, window 1 (:370-383);
  * optional net cutting (cut > 0) with a (2*ceil(cut/cell))-iteration
    opening splashed onto a every-vth-row/col net (:397-427, :495-533);
  * inpainting: mean of the 8 nearest populated cells by center
    distance (:575-633);
  * thresholds: threshold + scalar * ||grad(DEM / cell)|| with the
    gradient surface inpainted too (:282-310);
  * classify: |DEM[cell] - z| > thresh[cell] -> class 1 else 2; cells
    with NaN DEM leave the input classification untouched (:359-368).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NOT_GROUND, GROUND = 1, 2


# ---------------------------------------------------------------------------
# grid kernels (numpy twins of the EigenUtils helpers)
# ---------------------------------------------------------------------------


def erode_diamond(g: np.ndarray, iterations: int) -> np.ndarray:
    """Morphological erosion with the 5-cell diamond element, iterated
    (EigenUtils.cpp:318-355)."""
    out = g
    for _ in range(iterations):
        p = np.pad(out, 1, constant_values=np.inf)
        out = np.minimum.reduce([
            p[1:-1, 1:-1], p[:-2, 1:-1], p[2:, 1:-1], p[1:-1, :-2], p[1:-1, 2:],
        ])
    return out


def dilate_diamond(g: np.ndarray, iterations: int) -> np.ndarray:
    """Diamond dilation, iterated (EigenUtils.cpp:278-316)."""
    out = g
    for _ in range(iterations):
        p = np.pad(out, 1, constant_values=-np.inf)
        out = np.maximum.reduce([
            p[1:-1, 1:-1], p[:-2, 1:-1], p[2:, 1:-1], p[1:-1, :-2], p[1:-1, 2:],
        ])
    return out


def grad_x(g: np.ndarray) -> np.ndarray:
    """MATLAB-style gradient along x/columns (EigenUtils.hpp:253-269)."""
    out = np.zeros_like(g)
    if g.shape[1] >= 2:
        out[:, 1:-1] = 0.5 * (g[:, 2:] - g[:, :-2])
        out[:, 0] = g[:, 1] - g[:, 0]
        out[:, -1] = g[:, -1] - g[:, -2]
    return out


def grad_y(g: np.ndarray) -> np.ndarray:
    """Gradient along y/rows (EigenUtils.hpp:278-290)."""
    out = np.zeros_like(g)
    if g.shape[0] >= 2:
        out[1:-1, :] = 0.5 * (g[2:, :] - g[:-2, :])
        out[0, :] = g[1, :] - g[0, :]
        out[-1, :] = g[-1, :] - g[-2, :]
    return out


_RING_CACHE: dict = {}


def _fill_nearest(
    g: np.ndarray,
    k: int,
    agg,
    origin: tuple[int, int] = (0, 0),
    lin_rows: int | None = None,
    algo: str = "auto",
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Shared kernel for knnfill (k=8, mean) and nn1fill (k=1, value).

    ``origin``/``lin_rows`` let a tiled caller break distance ties by the
    GLOBAL column-major linear index (origin = window's (row0, col0) in
    the global grid, lin_rows = global row count) so a window computation
    selects the same neighbors as the single-grid one.

    Two algorithms, identical selection rule (k nearest by squared
    Euclidean distance, ties by global column-major index):

    * small grids: per-hole lexsort over ALL populated cells — the
      simple reference form;
    * large grids (the tiled path's windows): per-hole EXPANDING
      CHEBYSHEV RINGS, stopping only once the next unexamined ring
      cannot contain a cell with d2 <= the current kth distance
      ((rad+1)^2 > d2_k — equality keeps expanding, ties beyond the
      ring must still be seen) — exact, O(holes x found-radius^2)
      instead of O(holes x populated).

    Returns (filled, holes[n,2], fill_dist[n]) where fill_dist is the
    Euclidean distance to the farthest neighbor each hole used — the
    quantity a tiled halo certificate must bound.
    """
    rows, cols = g.shape
    row0, col0 = origin
    nlr = rows if lin_rows is None else lin_rows
    pop = ~np.isnan(g)
    rr, cc = np.nonzero(pop)
    holes = np.argwhere(~pop)
    if len(rr) == 0:
        return g.copy(), holes, np.full(len(holes), np.inf)
    out = g.copy()
    k = min(k, len(rr))
    dist = np.zeros(len(holes))

    if algo == "dense" or (algo == "auto" and rows * cols <= 1 << 16):
        vals = g[rr, cc]
        # column-major like the reference; global index under tiling
        lin = (cc + col0).astype(np.int64) * nlr + (rr + row0)
        for i, (r, c) in enumerate(holes):
            d2 = (rr - r) ** 2 + (cc - c) ** 2
            order = np.lexsort((lin, d2))[:k]
            out[r, c] = agg(vals[order])
            dist[i] = float(np.sqrt(d2[order].max()))
        return out, holes, dist

    # ---- vectorized big-grid path --------------------------------------
    # KEY FACT: for two offsets i, j the lin-delta difference
    # (dc_i - dc_j) * lin_rows + (dr_i - dr_j) is INDEPENDENT of the
    # hole, so one global offset ordering by (d2, lin-delta) makes "the
    # first k populated offsets per hole" EXACTLY the k nearest under
    # the reference tie-break — no per-hole sort at all. A hole is
    # final once its kth hit's d2 <= R^2 (cells beyond the box have
    # d2 >= (R+1)^2 — no tie can cross the boundary); unresolved holes
    # escalate to a bigger box.
    hr = holes[:, 0]
    hc = holes[:, 1]
    fill = max(len(rr) / float(rows * cols), 1e-9)
    R = max(2, int(np.ceil(np.sqrt(k / (np.pi * fill)) * 2.0)))
    pending = np.arange(len(holes))
    out_flat = np.empty(len(holes))
    while len(pending):
        R = min(R, max(rows, cols))
        dr_g, dc_g = np.mgrid[-R:R + 1, -R:R + 1]
        dr_g, dc_g = dr_g.ravel(), dc_g.ravel()
        keep = (dr_g != 0) | (dc_g != 0)
        dr_g, dc_g = dr_g[keep], dc_g[keep]
        d2_off = dr_g * dr_g + dc_g * dc_g
        lind = dc_g.astype(np.int64) * nlr + dr_g
        order = np.lexsort((lind, d2_off))
        dr_g, dc_g, d2_off = dr_g[order], dc_g[order], d2_off[order]
        n_off = len(dr_g)
        dr32 = dr_g.astype(np.int32)
        dc32 = dc_g.astype(np.int32)
        chunk = max(1, int(4e6) // n_off)
        still: list[np.ndarray] = []
        for s in range(0, len(pending), chunk):
            idx = pending[s:s + chunk]
            pr = hr[idx].astype(np.int32)[:, None] + dr32[None, :]
            pc = hc[idx].astype(np.int32)[:, None] + dc32[None, :]
            inb = (pr >= 0) & (pr < rows) & (pc >= 0) & (pc < cols)
            np.clip(pr, 0, rows - 1, out=pr)
            np.clip(pc, 0, cols - 1, out=pc)
            prc, pcc = pr, pc
            valid = inb & pop[prc, pcc]
            csum = np.cumsum(valid, axis=1, dtype=np.int32)
            sel = valid & (csum <= k)
            cnt = csum[:, -1]
            # index (in offset order) of each row's kth hit
            kth = np.argmax(sel[:, ::-1], axis=1)
            kth = n_off - 1 - kth
            d2k = d2_off[kth]
            done = (cnt >= k) & (d2k <= R * R)
            if R >= max(rows, cols):
                done = done | (cnt >= min(k, len(rr)))
            if done.any():
                # compact the selected values into (m, k) in selection
                # order and reduce THAT — summing the sparse full-width
                # row groups numpy's pairwise reduction differently and
                # drifts a ulp from the small-grid np.mean
                buf = np.zeros((len(idx), k))
                ri, ci = np.nonzero(sel)
                buf[ri, csum[ri, ci] - 1] = g[prc[ri, ci], pcc[ri, ci]]
                nsel = np.minimum(cnt, k)
                out_flat[idx[done]] = (
                    buf.sum(axis=1) / np.maximum(nsel, 1)
                )[done]
                dist[idx[done]] = np.sqrt(d2k)[done]
            if (~done).any():
                still.append(idx[~done])
        pending = np.concatenate(still) if still else np.empty(0, np.int64)
        R = int(np.ceil(R * 1.6)) + 1
    # the vectorized path computes the MEAN of the selected k — for the
    # module's two aggs this is exact (knnfill: mean of 8; nn1fill:
    # mean of 1 == the value)
    out[hr, hc] = out_flat
    return out, holes, dist


def knnfill(
    g: np.ndarray,
    origin: tuple[int, int] = (0, 0),
    lin_rows: int | None = None,
) -> np.ndarray:
    """Fill NaN cells with the mean of the 8 nearest populated cells by
    center distance (SMRFilter.cpp:575-633); ties broken by linear cell
    index (the reference KD tie order is build order — unspecified;
    pinned here for determinism)."""
    return _fill_nearest(g, 8, np.mean, origin, lin_rows)[0]


def progressive_filter(
    g: np.ndarray, cell: float, slope: float, max_window: float
) -> np.ndarray:
    """Iteratively opened surface -> OBJ mask (SMRFilter.cpp:637-700)."""
    max_radius = int(np.ceil(max_window / cell))
    prev_surface = g
    prev_erosion = g
    obj = np.zeros(g.shape, dtype=np.int64)
    for radius in range(1, max_radius + 1):
        cur_erosion = erode_diamond(prev_erosion, 1)
        cur_opening = dilate_diamond(cur_erosion, radius)
        prev_erosion = cur_erosion
        thresh = slope * cell * radius
        obj = np.maximum(obj, (np.abs(prev_surface - cur_opening) > thresh).astype(np.int64))
        prev_surface = cur_opening
    return obj


def smrf_grid(
    zimin_raw: np.ndarray,
    cell: float,
    slope: float,
    threshold: float,
    window: float,
    scalar: float,
    cut: float = 0.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Grid pipeline: raw min-Z grid (NaN = empty) -> (ZIpro, thresh).

    Mirrors SMRFilter::run's grid stages in order: inpaint ZImin, low
    mask (negated surface, slope 5.0, window 1), net mask/cut, object
    mask, provisional DEM (re-inpainted), slope-aware thresholds."""
    zimin = knnfill(zimin_raw)
    low = progressive_filter(-zimin, cell, 5.0, 1.0)

    rows, cols = zimin.shape
    is_net = np.zeros(zimin.shape, dtype=bool)
    zinet = zimin
    if cut > 0.0:
        v = int(np.ceil(cut / cell))
        is_net[:, ::v] = True
        is_net[::v, :] = True
        big_open = dilate_diamond(erode_diamond(zimin, 2 * v), 2 * v)
        zinet = np.where(is_net, big_open, zimin)

    obj = progressive_filter(zinet, cell, slope, window)

    zipro_raw = np.where((obj == 1) | (low == 1) | is_net, np.nan, zimin)
    zipro = knnfill(zipro_raw)

    scaled = zipro / cell
    gx, gy = grad_x(scaled), grad_y(scaled)
    gsurfs = knnfill(np.sqrt(gx * gx + gy * gy))
    thresh = threshold + scalar * gsurfs
    return zipro, thresh


class GroundTilingError(ValueError):
    """A tile's halo could not PROVE its window computation equals the
    single-grid one (a knnfill reached past the halo, or the stencil
    radius exceeds it). Increase ``halo_cells`` — never a silent
    approximation."""


def _smrf_stencil_radius(cell: float, window: float, cut: float) -> int:
    """Chebyshev influence radius of the mask stages on the min surface:
    obj = 2*ceil(window/cell) (+ 4*ceil(cut/cell) through the net
    opening), low = 2*ceil(1.0/cell)."""
    R = int(np.ceil(window / cell))
    v = int(np.ceil(cut / cell)) if cut > 0.0 else 0
    return max(2 * R + 4 * v, 2 * int(np.ceil(1.0 / cell)))


def smrf_grid_window(
    gwin: np.ndarray,
    inner: tuple[int, int, int, int],
    glob_edges: tuple[bool, bool, bool, bool],
    origin: tuple[int, int],
    lin_rows: int,
    cell: float,
    slope: float,
    threshold: float,
    window: float,
    scalar: float,
    cut: float = 0.0,
) -> tuple[np.ndarray, np.ndarray]:
    """smrf_grid over a halo-expanded tile WINDOW, with a runtime
    certificate that the result at the INNER cells equals the
    single-grid computation — the overlap-tile decomposition the module
    docstring specifies, made exact-or-raise (the tiled-Delaunay
    pattern, mesh.py).

    ``inner`` = (r0, r1, c0, c1) half-open slice of the owned tile in
    window coordinates; ``glob_edges`` = (top, bottom, left, right)
    flags, True where the window edge IS the global grid boundary (the
    single computation sees the same edge there, so that direction needs
    no halo); ``origin`` = window's (row0, col0) in the global grid and
    ``lin_rows`` = global row count, so distance ties break by the same
    global column-major index as the single grid.

    Certificate (sufficient for inner-exactness, checked at runtime):
      * both knnfill passes: every hole whose fill can influence an
        inner output has its whole candidate disk inside the window
        (local top-8 == global top-8, same ties);
      * every influencing cell's stencil (S = obj/low/net radius) stays
        inside the window;
      * a window with fewer than 8 populated cells can't prove its
        k-truncation matches the global one unless it IS the grid.
    """
    wr, wc = gwin.shape
    ir0, ir1, ic0, ic1 = inner
    row0, col0 = origin
    S = _smrf_stencil_radius(cell, window, cut)

    def margin(r: int, c: int) -> float:
        m = np.inf
        if not glob_edges[0]:
            m = min(m, r)
        if not glob_edges[1]:
            m = min(m, wr - 1 - r)
        if not glob_edges[2]:
            m = min(m, c)
        if not glob_edges[3]:
            m = min(m, wc - 1 - c)
        return m

    def cheb_to_inner(r: int, c: int) -> int:
        dr = max(ir0 - r, 0, r - (ir1 - 1))
        dc = max(ic0 - c, 0, c - (ic1 - 1))
        return max(dr, dc)

    n_pop = int((~np.isnan(gwin)).sum())
    if n_pop == 0:
        raise GroundTilingError("window has no populated cells")
    if n_pop < 8 and not all(glob_edges):
        raise GroundTilingError(
            f"window has only {n_pop} populated cells — cannot certify "
            "the 8-NN fill against the halo; increase halo_cells"
        )

    zimin, holes1, dist1 = _fill_nearest(gwin, 8, np.mean, origin, lin_rows)
    low = progressive_filter(-zimin, cell, 5.0, 1.0)

    is_net = np.zeros(zimin.shape, dtype=bool)
    zinet = zimin
    if cut > 0.0:
        v = int(np.ceil(cut / cell))
        # net rows/cols are GLOBAL-index aligned (smrf_grid uses [::v]
        # from global index 0)
        is_net[:, (np.arange(wc) + col0) % v == 0] = True
        is_net[(np.arange(wr) + row0) % v == 0, :] = True
        big_open = dilate_diamond(erode_diamond(zimin, 2 * v), 2 * v)
        zinet = np.where(is_net, big_open, zimin)

    obj = progressive_filter(zinet, cell, slope, window)
    zipro_raw = np.where((obj == 1) | (low == 1) | is_net, np.nan, zimin)
    zipro, holes2, dist2 = _fill_nearest(zipro_raw, 8, np.mean, origin, lin_rows)

    # (a) zipro holes touching the inner ring (gradient reach 1): the
    # candidate disk must clear the window edge by S so every candidate's
    # mask (and value) is itself exact.
    Dp = 0
    for (r, c), d in zip(holes2, dist2):
        if cheb_to_inner(r, c) <= 1:
            dp = int(np.ceil(d))
            if dp + S > margin(r, c):
                raise GroundTilingError(
                    f"zipro fill at window cell ({r},{c}) reached "
                    f"distance {dp} with stencil slack {S} > margin "
                    f"{margin(r, c)}; increase halo_cells"
                )
            Dp = max(Dp, dp)
    # (b) the min surface must be exact wherever stage (a) or the masks
    # read it: within A = 1 + Dp + S of the inner tile.
    A = 1 + Dp + S
    for (r, c), d in zip(holes1, dist1):
        if cheb_to_inner(r, c) <= A and int(np.ceil(d)) > margin(r, c):
            raise GroundTilingError(
                f"zimin fill at window cell ({r},{c}) reached distance "
                f"{int(np.ceil(d))} > margin {margin(r, c)}; "
                "increase halo_cells"
            )
    # (c) the window itself must hold the whole influence region.
    inner_m = np.inf
    if not glob_edges[0]:
        inner_m = min(inner_m, ir0)
    if not glob_edges[1]:
        inner_m = min(inner_m, wr - ir1)
    if not glob_edges[2]:
        inner_m = min(inner_m, ic0)
    if not glob_edges[3]:
        inner_m = min(inner_m, wc - ic1)
    if inner_m < A:
        raise GroundTilingError(
            f"halo {inner_m} < required influence radius {A}; "
            "increase halo_cells"
        )

    scaled = zipro / cell
    gx, gy = grad_x(scaled), grad_y(scaled)
    gsurfs, holes3, _ = _fill_nearest(
        np.sqrt(gx * gx + gy * gy), 8, np.mean, origin, lin_rows
    )
    for r, c in holes3:  # zipro is fully filled, so this never fires
        if cheb_to_inner(r, c) <= 0:
            raise GroundTilingError("gradient surface hole at inner cell")
    thresh = threshold + scalar * gsurfs
    return zipro, thresh


# ---------------------------------------------------------------------------
# the distributed operator
# ---------------------------------------------------------------------------


def _halo_tiles(
    cells: DataFrame,
    ccol: str,
    crow: str,
    tile_cells: int,
    halo_cells: int,
    n_cols: int,
    n_rows: int,
) -> DataFrame:
    """Replicate each grid cell into every tile whose halo-expanded
    window contains it (the mesh.py tile-assign shape): tile ids
    (gx, gy) = cell // tile_cells, ring = ceil(halo/tile); the per-tile
    blow-up is ((T+2H)/T)^2 — bounded, no crossJoin over data."""
    spark = cells.sparkSession
    ring = int(np.ceil(halo_cells / tile_cells))
    offs = [(dx, dy) for dx in range(-ring, ring + 1)
            for dy in range(-ring, ring + 1)]
    off_df = spark.createDataFrame(offs, "dx int, dy int")
    T, H = tile_cells, halo_cells
    return (
        cells
        .crossJoin(F.broadcast(off_df))
        .withColumn("gx", (F.col(ccol) / T).cast("int") + F.col("dx"))
        .withColumn("gy", (F.col(crow) / T).cast("int") + F.col("dy"))
        .filter(
            (F.col(ccol) >= F.col("gx") * T - H)
            & (F.col(ccol) < F.col("gx") * T + T + H)
            & (F.col(crow) >= F.col("gy") * T - H)
            & (F.col(crow) < F.col("gy") * T + T + H)
            & (F.col("gx") >= 0) & (F.col("gx") < int(np.ceil(n_cols / T)))
            & (F.col("gy") >= 0) & (F.col("gy") < int(np.ceil(n_rows / T)))
        )
        .drop("dx", "dy")
    )


def smrf(
    df: DataFrame,
    cell: float = 1.0,
    slope: float = 0.15,
    threshold: float = 0.5,
    window: float = 18.0,
    scalar: float = 1.25,
    cut: float = 0.0,
    x: str = "x",
    y: str = "y",
    z: str = "z",
    class_col: str = "classification",
    bounds: tuple[float, float, float, float] | None = None,
    mode: str = "auto",
    tile_cells: int = 512,
    halo_cells: int | None = None,
    max_grid_driver: int = 4 << 20,
) -> DataFrame:
    """Classify every point GROUND (2) / NOT_GROUND (1) per SMRF.

    ``bounds`` pins (minx, miny, maxx, maxy); None computes them (one
    extra aggregate — order-independent either way).

    mode="driver": whole grid as one numpy pass on the driver — exact,
    O(extent/cell^2) driver memory, right for city-scale grids.
    mode="tiled": the 100 TB shape — per-cell min-Z stays a DataFrame,
    cells replicate into halo-expanded tiles, each tile runs the same
    grid kernels over its window via applyInPandas and CERTIFIES
    inner-exactness at runtime (smrf_grid_window) or raises
    GroundTilingError. mode="auto" picks driver below
    ``max_grid_driver`` grid cells, tiled above.
    """
    if bounds is None:
        b = df.agg(F.min(x), F.min(y), F.max(x), F.max(y)).collect()[0]
        bounds = (b[0], b[1], b[2], b[3])
    minx, miny, maxx, maxy = bounds
    n_cols = int((maxx - minx) / cell) + 1
    n_rows = int((maxy - miny) / cell) + 1

    # floor BEFORE divide, like the reference (SMRFilter.cpp:459-460)
    ccol = (F.floor(F.col(x) - F.lit(minx)) / cell).cast("int")
    crow = (F.floor(F.col(y) - F.lit(miny)) / cell).cast("int")
    work = df.withColumn("_sc", ccol).withColumn("_sr", crow)

    # distributed min-Z surface: one shuffle, map-side combine
    cells_df = work.groupBy("_sc", "_sr").agg(F.min(z).alias("_zmin"))
    if mode == "auto":
        mode = "driver" if n_rows * n_cols <= max_grid_driver else "tiled"

    spark = df.sparkSession
    if mode == "driver":
        zimin = np.full((n_rows, n_cols), np.nan)
        for r in cells_df.collect():
            zimin[r["_sr"], r["_sc"]] = r["_zmin"]
        zipro, thresh = smrf_grid(
            zimin, cell, slope, threshold, window, scalar, cut
        )
        rr, cc = np.nonzero(~np.isnan(zipro))
        side_rows = [
            (int(cc[i]), int(rr[i]), float(zipro[rr[i], cc[i]]),
             float(thresh[rr[i], cc[i]]))
            for i in range(len(rr))
        ]
        side = spark.createDataFrame(
            side_rows, "_sc int, _sr int, _dem double, _thr double"
        )
        side = F.broadcast(side)
    else:
        S = _smrf_stencil_radius(cell, window, cut)
        if halo_cells is not None:
            H = halo_cells
        else:
            # density-aware fill slack: the expected distance to the
            # 8th nearest populated cell at fill fraction f is
            # ~sqrt(8/(pi*f)); 6x covers the tail. The certificate
            # still guarantees exactness — this only sizes the default
            # so sparse grids don't refuse out of the box.
            n_cells = cells_df.count()
            fill = max(n_cells / float(n_rows * n_cols), 1e-6)
            H = S + 1 + max(16, int(np.ceil(6.0 * np.sqrt(8.0 / (np.pi * fill)))))
        T = tile_cells
        tiled = _halo_tiles(cells_df, "_sc", "_sr", T, H, n_cols, n_rows)
        nr, nc = n_rows, n_cols
        args = (cell, slope, threshold, window, scalar, cut)

        def tile_kernel(key, pdf):
            import pandas as pd

            gx, gy = int(key[0]), int(key[1])
            c_lo, c_hi = max(gx * T - H, 0), min(gx * T + T + H, nc)
            r_lo, r_hi = max(gy * T - H, 0), min(gy * T + T + H, nr)
            win = np.full((r_hi - r_lo, c_hi - c_lo), np.nan)
            pdf = pdf.dropna(subset=["_zmin"])
            win[pdf["_sr"].to_numpy() - r_lo,
                pdf["_sc"].to_numpy() - c_lo] = pdf["_zmin"].to_numpy()
            inner = (
                gy * T - r_lo, min(gy * T + T, nr) - r_lo,
                gx * T - c_lo, min(gx * T + T, nc) - c_lo,
            )
            edges = (r_lo == 0, r_hi == nr, c_lo == 0, c_hi == nc)
            zipro, thresh = smrf_grid_window(
                win, inner, edges, (r_lo, c_lo), nr, *args
            )
            own = pdf[(pdf["_sr"] // T == gy) & (pdf["_sc"] // T == gx)]
            sr = own["_sr"].to_numpy()
            sc = own["_sc"].to_numpy()
            return pd.DataFrame({
                "_sc": sc.astype("int32"), "_sr": sr.astype("int32"),
                "_dem": zipro[sr - r_lo, sc - c_lo],
                "_thr": thresh[sr - r_lo, sc - c_lo],
            })

        side = tiled.groupBy("gx", "gy").applyInPandas(
            tile_kernel, "_sc int, _sr int, _dem double, _thr double"
        )

    joined = work.join(side, ["_sc", "_sr"], "left")
    base = F.col(class_col) if class_col in df.columns else F.lit(1)
    cls = F.when(
        F.col("_dem").isNotNull(),
        F.when(F.abs(F.col("_dem") - F.col(z)) > F.col("_thr"),
               F.lit(NOT_GROUND)).otherwise(F.lit(GROUND)),
    ).otherwise(base)
    return joined.withColumn(class_col, cls).drop("_sc", "_sr", "_dem", "_thr")


# ---------------------------------------------------------------------------
# filters.pmf — progressive morphological filter (PMFFilter.cpp:241-373)
# ---------------------------------------------------------------------------


def pmf_windows(
    cell: float, max_window: float, slope: float, initial_distance: float,
    max_distance: float, exponential: bool = True,
) -> list[tuple[float, float]]:
    """(window size, height threshold) series (PMFFilter.cpp:305-330).
    The while-check uses the PREVIOUS ws, so the last appended window may
    exceed max_window — replicated."""
    out: list[tuple[float, float]] = []
    ws, it = 0.0, 0
    while ws < max_window:
        if exponential:
            ws = cell * (2.0 * 2.0**it + 1.0)
        else:
            ws = cell * (2.0 * (it + 1) * 2 + 1.0)
        if it == 0:
            ht = initial_distance
        else:
            ht = slope * (ws - out[it - 1][0]) * cell + initial_distance
        ht = min(ht, max_distance)
        out.append((ws, ht))
        it += 1
    return out


def pmf_stencil_radius(
    cell: float, max_window: float, slope: float, initial_distance: float,
    max_distance: float, exponential: bool = True,
) -> int:
    """Chebyshev influence radius of the full PMF opening chain: the
    stages compose on the evolving surface, so radii add — 2 * sum of
    per-window iteration counts."""
    return 2 * sum(
        int(0.5 * (ws - 1))
        for ws, _ in pmf_windows(cell, max_window, slope, initial_distance,
                                 max_distance, exponential)
    )


def pmf_grid_window(
    gwin: np.ndarray,
    inner: tuple[int, int, int, int],
    glob_edges: tuple[bool, bool, bool, bool],
    origin: tuple[int, int],
    lin_rows: int,
    cell: float,
    max_window: float,
    slope: float,
    initial_distance: float,
    max_distance: float,
    exponential: bool = True,
) -> np.ndarray:
    """The PMF limit surface over a halo-expanded tile window, certified
    inner-exact or GroundTilingError (same contract as
    smrf_grid_window): the nn1fill of every hole within the chain's
    influence radius of the inner tile must resolve inside the window,
    and the window must hold the whole influence region."""
    wr, wc = gwin.shape
    ir0, ir1, ic0, ic1 = inner
    Rp = pmf_stencil_radius(cell, max_window, slope, initial_distance,
                            max_distance, exponential)

    if not np.any(~np.isnan(gwin)):
        raise GroundTilingError("window has no populated cells")

    zimin, holes, dist = _fill_nearest(
        gwin, 1, lambda v: v[0], origin, lin_rows
    )
    for (r, c), d in zip(holes, dist):
        dr = max(ir0 - r, 0, r - (ir1 - 1))
        dc = max(ic0 - c, 0, c - (ic1 - 1))
        if max(dr, dc) > Rp:
            continue
        m = np.inf
        if not glob_edges[0]:
            m = min(m, r)
        if not glob_edges[1]:
            m = min(m, wr - 1 - r)
        if not glob_edges[2]:
            m = min(m, c)
        if not glob_edges[3]:
            m = min(m, wc - 1 - c)
        if int(np.ceil(d)) > m:
            raise GroundTilingError(
                f"nn1 fill at window cell ({r},{c}) reached distance "
                f"{int(np.ceil(d))} > margin {m}; increase halo_cells"
            )
    inner_m = np.inf
    if not glob_edges[0]:
        inner_m = min(inner_m, ir0)
    if not glob_edges[1]:
        inner_m = min(inner_m, wr - ir1)
    if not glob_edges[2]:
        inner_m = min(inner_m, ic0)
    if not glob_edges[3]:
        inner_m = min(inner_m, wc - ic1)
    if inner_m < Rp:
        raise GroundTilingError(
            f"halo {inner_m} < required influence radius {Rp}; "
            "increase halo_cells"
        )

    limit = np.full(zimin.shape, np.inf)
    for ws, ht in pmf_windows(cell, max_window, slope, initial_distance,
                              max_distance, exponential):
        iters = int(0.5 * (ws - 1))
        opened = dilate_diamond(erode_diamond(zimin, iters), iters)
        limit = np.minimum(limit, opened + ht)
        zimin = opened
    return limit


def pmf(
    df: DataFrame,
    cell: float = 1.0,
    max_window: float = 33.0,
    slope: float = 1.0,
    initial_distance: float = 0.15,
    max_distance: float = 2.5,
    exponential: bool = True,
    x: str = "x",
    y: str = "y",
    z: str = "z",
    class_col: str = "classification",
    bounds: tuple[float, float, float, float] | None = None,
    mode: str = "auto",
    tile_cells: int = 512,
    halo_cells: int | None = None,
    max_grid_driver: int = 4 << 20,
) -> DataFrame:
    """filters.pmf: progressive morphological opening of the min-Z grid;
    a point stays ground iff it survives EVERY iteration's test
    ``z - opened_j[cell] < ht_j`` (PMFFilter.cpp:344-360). Because the
    per-point test at step j depends only on its cell, the progressive
    set-shrinking is equivalent to one closed-form predicate

        z < min_j(opened_j[cell] + ht_j)

    — so the distributed classify is a single broadcast join of a
    per-cell threshold table (grid-sized), no per-iteration point pass.
    Ground -> class 2; non-ground keeps its input class (the reference
    only labels ground returns; absent column -> 1).

    Reference quirks replicated: grid build cell key floors BEFORE the
    divide (:243-244) while the classify key floors AFTER (:350-353);
    void cells inpaint from the single nearest populated cell (:274-290).

    mode="driver"/"tiled"/"auto" as in smrf. The tiled path must emit
    ALL inner cells (classify keys can land on unpopulated cells), so
    the tile group set is the union of build-cell tiles and
    classify-cell tiles (marker rows) — a point whose cell falls in a
    window with no populated cells raises GroundTilingError rather than
    silently diverging from the single grid.
    """
    if max_window <= 0:
        # pmf_windows() would be empty; the tiled path would emit +inf
        # limits (classifying everything ground) while the driver path
        # leaves limits null (keeping base class) — refuse the
        # meaningless parameter instead of mode-dependent semantics.
        raise ValueError(f"pmf(): max_window must be > 0, got {max_window}")
    if bounds is None:
        b = df.agg(F.min(x), F.min(y), F.max(x), F.max(y)).collect()[0]
        bounds = (b[0], b[1], b[2], b[3])
    minx, miny, maxx, maxy = bounds
    n_cols = int((maxx - minx) / cell) + 1
    n_rows = int((maxy - miny) / cell) + 1

    gcol = (F.floor(F.col(x) - F.lit(minx)) / cell).cast("int")
    grow = (F.floor(F.col(y) - F.lit(miny)) / cell).cast("int")
    cells_df = (
        df.withColumn("_pc", gcol).withColumn("_pr", grow)
        .groupBy("_pc", "_pr").agg(F.min(z).alias("_zmin"))
    )
    if mode == "auto":
        mode = "driver" if n_rows * n_cols <= max_grid_driver else "tiled"

    spark = df.sparkSession
    # classify key: floor AFTER the divide (PMFFilter.cpp:350-353)
    kcol = F.floor((F.col(x) - F.lit(minx)) / cell).cast("int")
    krow = F.floor((F.col(y) - F.lit(miny)) / cell).cast("int")
    work = df.withColumn("_pc", kcol).withColumn("_pr", krow)

    if mode == "driver":
        zimin = np.full((n_rows, n_cols), np.nan)
        for r in cells_df.collect():
            zimin[r["_pr"], r["_pc"]] = r["_zmin"]
        zimin = nn1fill(zimin)

        limit = np.full(zimin.shape, np.inf)
        for ws, ht in pmf_windows(cell, max_window, slope, initial_distance,
                                  max_distance, exponential):
            iters = int(0.5 * (ws - 1))
            opened = dilate_diamond(erode_diamond(zimin, iters), iters)
            limit = np.minimum(limit, opened + ht)
            zimin = opened

        rr, cc = np.nonzero(np.isfinite(limit))
        side_rows = [
            (int(cc[i]), int(rr[i]), float(limit[rr[i], cc[i]]))
            for i in range(len(rr))
        ]
        side = F.broadcast(spark.createDataFrame(
            side_rows, "_pc int, _pr int, _zlim double"
        ))
    else:
        Rp = pmf_stencil_radius(cell, max_window, slope, initial_distance,
                                max_distance, exponential)
        if halo_cells is not None:
            H = halo_cells
        else:
            # density-aware (see smrf): nn1 fill distance ~sqrt(1/(pi*f))
            n_cells = cells_df.count()
            fill = max(n_cells / float(n_rows * n_cols), 1e-6)
            H = Rp + max(16, int(np.ceil(6.0 * np.sqrt(1.0 / (np.pi * fill)))))
        T = tile_cells
        markers = (
            work.select("_pc", "_pr").distinct()
            .withColumn("_zmin", F.lit(None).cast("double"))
        )
        tiled = _halo_tiles(
            cells_df.unionByName(markers), "_pc", "_pr", T, H, n_cols, n_rows
        )
        nr, nc = n_rows, n_cols
        args = (cell, max_window, slope, initial_distance, max_distance,
                exponential)

        def tile_kernel(key, pdf):
            import pandas as pd

            gx, gy = int(key[0]), int(key[1])
            c_lo, c_hi = max(gx * T - H, 0), min(gx * T + T + H, nc)
            r_lo, r_hi = max(gy * T - H, 0), min(gy * T + T + H, nr)
            win = np.full((r_hi - r_lo, c_hi - c_lo), np.nan)
            vals = pdf.dropna(subset=["_zmin"])
            win[vals["_pr"].to_numpy() - r_lo,
                vals["_pc"].to_numpy() - c_lo] = vals["_zmin"].to_numpy()
            inner = (
                gy * T - r_lo, min(gy * T + T, nr) - r_lo,
                gx * T - c_lo, min(gx * T + T, nc) - c_lo,
            )
            edges = (r_lo == 0, r_hi == nr, c_lo == 0, c_hi == nc)
            limit = pmf_grid_window(
                win, inner, edges, (r_lo, c_lo), nr, *args
            )
            rr2, cc2 = np.meshgrid(
                np.arange(inner[0], inner[1]), np.arange(inner[2], inner[3]),
                indexing="ij",
            )
            rr2, cc2 = rr2.ravel(), cc2.ravel()
            return pd.DataFrame({
                "_pc": (cc2 + c_lo).astype("int32"),
                "_pr": (rr2 + r_lo).astype("int32"),
                "_zlim": limit[rr2, cc2],
            })

        side = tiled.groupBy("gx", "gy").applyInPandas(
            tile_kernel, "_pc int, _pr int, _zlim double"
        )

    joined = work.join(side, ["_pc", "_pr"], "left")
    base = F.col(class_col) if class_col in df.columns else F.lit(1)
    cls = F.when(F.col(z) < F.col("_zlim"), F.lit(GROUND)).otherwise(base)
    return joined.withColumn(class_col, cls).drop("_pc", "_pr", "_zlim")


def nn1fill(
    g: np.ndarray,
    origin: tuple[int, int] = (0, 0),
    lin_rows: int | None = None,
) -> np.ndarray:
    """Fill NaN cells with the value of the single nearest populated
    cell by center distance (PMFFilter.cpp:274-290); ties pinned by
    column-major linear index like knnfill."""
    return _fill_nearest(g, 1, lambda v: v[0], origin, lin_rows)[0]


# ---------------------------------------------------------------------------
# filters.skewnessbalancing (SkewnessBalancingFilter.cpp:60-110)
# ---------------------------------------------------------------------------


def skewness_balancing(
    df: DataFrame,
    z: str = "z",
    arrival_col: str = "page_id",
    class_col: str = "classification",
) -> DataFrame:
    """Bartels & Wei skewness balancing: scan points in ascending-z
    order maintaining running skewness of the prefix; each time the
    skewness crosses from <=0 to >0, everything before the crossing is
    (re)marked ground — net effect: ground = all points BEFORE the LAST
    crossing (everything from it on is non-ground); no crossing at all
    -> all ground iff the final skewness <= 0.

    Distributed shape: prefix skewness comes from exact global prefix
    power sums (ordered.prefix_sums — range partition + offsets, no
    single-task window); the "previous" skewness is derived by
    subtracting the row's own contribution, so no cross-partition lag is
    needed. The last crossing is one scalar aggregate.

    Pinned divergences: z-ties ordered by arrival (the reference's
    std::sort order on ties is unspecified), and the running central
    moments come from power sums (algebraically equal to the reference's
    incremental M1/M2/M3, fp-rounding aside — sign tests use the raw
    doubles, like the reference)."""
    from pdal_spark.operators.ordered import prefix_sums

    zc = F.col(z).cast("double")
    keys = [F.col(z).asc(), F.col(arrival_col).asc()]
    work = prefix_sums(
        df,
        keys,
        {"_n": F.lit(1.0), "_s1": zc, "_s2": zc * zc, "_s3": zc * zc * zc},
        inclusive=True,
    )

    def skew(n, s1, s2, s3):
        m1 = s1 / n
        m2 = s2 - s1 * s1 / n
        m3 = s3 - 3.0 * m1 * s2 + 2.0 * n * m1 * m1 * m1
        # m2 == 0 -> the reference's 0/0 NaN; NULL here compares the same
        # way (every >/<= test false) and survives ANSI mode
        return F.when(m2 > 0, F.sqrt(n) * m3 / F.pow(m2, 1.5))

    n = F.col("_n")
    cur = skew(n, F.col("_s1"), F.col("_s2"), F.col("_s3"))
    prev = F.when(
        n > 1,
        skew(n - 1, F.col("_s1") - zc, F.col("_s2") - zc * zc,
             F.col("_s3") - zc * zc * zc),
    )
    # crossing: skew > 0 after this point AND <= 0 before it (first row's
    # "before" is NaN in the reference -> no crossing; NULL here -> false)
    flip = (cur > 0) & F.coalesce(prev <= 0, F.lit(False))
    work = work.withColumn("_flip", flip).withColumn("_skew", cur)
    work = work.persist()
    last_flip_row = work.agg(
        F.max(F.when(F.col("_flip"), F.col("_n"))).alias("lf"),
        F.max(F.struct(F.col("_n"), F.col("_skew"))).alias("fin"),
    ).collect()[0]
    last_flip = last_flip_row["lf"]
    final_skew = last_flip_row["fin"]["_skew"]
    base = F.col(class_col) if class_col in df.columns else F.lit(NOT_GROUND)
    if last_flip is None:
        lbl = F.lit(GROUND) if (final_skew is None or final_skew <= 0 or
                                final_skew != final_skew) else F.lit(NOT_GROUND)
        out = work.withColumn(class_col, lbl)
    else:
        out = work.withColumn(
            class_col,
            F.when(F.col("_n") < F.lit(float(last_flip)), F.lit(GROUND))
            .otherwise(F.lit(NOT_GROUND)),
        )
    return out.drop("_n", "_s1", "_s2", "_s3", "_flip", "_skew")
