"""filters.chipper — capacity-bounded BSP into squarish contiguous chips.

Reference: /root/reference/filters/ChipperFilter.cpp (run/load/partition/
decideSplit/split/emit). Semantics reproduced exactly:

  * partition boundaries: ``num = n/cap + (n%cap ? 1 : 0)`` equal-ish blocks
    via cumulate-and-lround (ChipperFilter.cpp:161-181); every chip k is the
    half-open boundary interval [P[k], P[k+1]) of the current wide array, so
    chip sizes are fixed by n and capacity alone.
  * direction choice: split the direction with the strictly wider span
    (``v1range > v2range`` — ties split the *previously narrow* axis,
    ChipperFilter.cpp:184-200).
  * stable ordering: both axis arrays are stable-sorted, so coordinate ties
    resolve by arrival order (load(), std::stable_sort) — we key every sort
    by (pos, arrival_idx) to make that explicit and distribution-safe.
  * chips are emitted depth-first left-to-right, which makes creation order
    equal to partition-interval order — chip_id == partition index.

Two entry points:

  chip()             exact-global parity mode. The whole dataset flows
                     through one numpy kernel (applyInPandas over a single
                     group) — bounded by one executor's memory; use for
                     parity tests and per-tile chipping.
  chip_partitioned() the 100 TB path: coarse splitter tiles first (pure
                     column math, shuffle on tile key), then the exact
                     kernel runs independently per tile. Chip boundaries
                     then respect tile borders — documented divergence from
                     the reference's global recursion, same capacity
                     guarantee, embarrassingly parallel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from pdal_spark import geo


def _partitions(n: int, capacity: int) -> np.ndarray:
    """Cumulate-and-lround block boundaries (ChipperFilter.cpp:161-181)."""
    num = n // capacity + (1 if n % capacity else 0)
    size = n / num
    # The reference accumulates iteratively (total += size, then lround);
    # np.cumsum reproduces that sequential fp accumulation exactly, where
    # size * arange could land on the other side of a half-integer.
    totals = np.cumsum(np.full(num, size))
    bounds = np.floor(totals + 0.5).astype(np.int64)  # lround, totals > 0
    return np.concatenate(([0], bounds))


def chip_assign_np(
    x: np.ndarray, y: np.ndarray, capacity: int
) -> tuple[np.ndarray, np.ndarray]:
    """Exact chip assignment; returns (chip_id, chip_rank) per input row.

    chip_rank is the point's position within its chip in the emitting
    (wide-axis) order — the reference's within-view point order
    (ChipperFilter.cpp emit()).

    Implementation: the reference's rank-redistribution recursion,
    vectorized. Three parallel (pos, pt, other-axis-position) array
    triples play the xvec/yvec/spare roles; every split repacks the
    narrow axis's block segment to the two sides of the cut with numpy
    fancy indexing instead of an element loop.
    """
    n = len(x)
    chip = np.full(n, -1, dtype=np.int64)
    rank = np.zeros(n, dtype=np.int64)
    if n == 0:
        return chip, rank

    xo = np.argsort(x, kind="stable")  # position -> original row
    yo = np.argsort(y, kind="stable")

    # role arrays: pos (coordinate), pt (original row id), ox (cross
    # position in the other active array)
    pos = [np.asarray(x, np.float64)[xo], np.asarray(y, np.float64)[yo],
           np.empty(n, np.float64)]
    pt = [xo.copy(), yo.copy(), np.empty(n, np.int64)]
    ox = [np.empty(n, np.int64), np.empty(n, np.int64), np.empty(n, np.int64)]
    # x-array entry i holds the y-position of its point and vice versa
    xpos_of_pt = np.empty(n, np.int64)
    xpos_of_pt[xo] = np.arange(n)
    ox[1] = xpos_of_pt[yo]            # yvec -> x position
    ypos_of_pt = np.empty(n, np.int64)
    ypos_of_pt[yo] = np.arange(n)
    ox[0] = ypos_of_pt[xo]            # xvec -> y position

    P = _partitions(n, capacity)
    emit_counter = 0

    # DFS stack of (v1, v2, spare role ids, pleft, pright); left child must
    # be processed first so chips are emitted in creation order.
    stack: list[tuple[int, int, int, int, int]] = [(0, 1, 2, 0, len(P) - 1)]

    def emit(wide: int, lo: int, hi: int) -> None:
        nonlocal emit_counter
        rows = pt[wide][lo : hi + 1]
        chip[rows] = emit_counter
        rank[rows] = np.arange(hi + 1 - lo)
        emit_counter += 1

    def split(wide: int, narrow: int, spare: int, pleft: int, pright: int):
        left = int(P[pleft])
        right = int(P[pright]) - 1
        if pright - pleft == 1:
            emit(wide, left, right)
            return None
        if pright - pleft == 2:
            center = int(P[pright - 1])
            emit(wide, left, center - 1)
            emit(wide, center, right)
            return None
        pcenter = (pleft + pright) // 2
        center = int(P[pcenter])
        seg = slice(left, right + 1)
        no, npos_, npt_ = ox[narrow][seg], pos[narrow][seg], pt[narrow][seg]
        maskL = no < center
        iL = np.flatnonzero(maskL)
        iR = np.flatnonzero(~maskL)
        dL = left + np.arange(len(iL))
        dR = center + np.arange(len(iR))
        for sel, dst in ((iL, dL), (iR, dR)):
            pos[spare][dst] = npos_[sel]
            pt[spare][dst] = npt_[sel]
            ox[spare][dst] = no[sel]
            ox[wide][no[sel]] = dst  # wide's cross-pointer -> spare position
        return pcenter

    def decide(v1: int, v2: int, spare: int, pleft: int, pright: int) -> None:
        left = int(P[pleft])
        right = int(P[pright]) - 1
        v1range = pos[v1][right] - pos[v1][left]
        v2range = pos[v2][right] - pos[v2][left]
        wide, narrow = (v1, v2) if v1range > v2range else (v2, v1)
        pcenter = split(wide, narrow, spare, pleft, pright)
        if pcenter is not None:
            # recurse: spare became the narrow array; old narrow is scratch
            decide(wide, spare, narrow, pleft, pcenter)
            decide(wide, spare, narrow, pcenter, pright)

    import sys

    old_limit = sys.getrecursionlimit()
    sys.setrecursionlimit(max(old_limit, 2 * len(P) + 100))
    try:
        decide(0, 1, 2, 0, len(P) - 1)
    finally:
        sys.setrecursionlimit(old_limit)
    return chip, rank


def _chip_groups(
    df: DataFrame, keys: list[str], capacity: int, x: str, y: str,
    order_col: str,
) -> DataFrame:
    """df + (chip_id, chip_rank): chip_assign_np over each group of
    ``keys``, its rows taken in ``order_col`` order."""
    cap = int(capacity)

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="stable").reset_index(drop=True)
        cid, crank = chip_assign_np(
            pdf[x].to_numpy(np.float64), pdf[y].to_numpy(np.float64), cap
        )
        return pdf.assign(chip_id=cid, chip_rank=crank)

    schema = StructType(
        list(df.schema.fields)
        + [StructField("chip_id", LongType()), StructField("chip_rank", LongType())]
    )
    return df.groupBy(*keys).applyInPandas(kernel, schema=schema)


def chip(
    df: DataFrame,
    capacity: int,
    x: str = "x",
    y: str = "y",
    order_col: str | None = None,
) -> DataFrame:
    """Exact-global chipper: adds ``chip_id`` and ``chip_rank``.

    ``order_col`` pins arrival order (coordinate ties in the stable sorts);
    required for deterministic results on distributed input. The whole
    dataset is gathered into one numpy kernel — parity/per-tile mode.
    """
    if order_col is None:
        raise ValueError("chip() needs order_col to pin PDAL arrival order")
    return _chip_groups(
        df.withColumn("_g", F.lit(0)), ["_g"], capacity, x, y, order_col
    ).drop("_g")


def chip_partitioned(
    df: DataFrame,
    capacity: int,
    tile_len: float,
    origin_x: float,
    origin_y: float,
    x: str = "x",
    y: str = "y",
    order_col: str | None = None,
) -> DataFrame:
    """Scale-path chipper: coarse splitter tiles, exact kernel per tile.

    Output chips are (tile_x, tile_y, chip_id) — globally unique via the
    tile key; every chip still holds ≤ capacity points. Each tile's
    recursion is independent → shuffle on the tile key is the only wide
    operation and the kernel memory bound is per-tile, not global.
    """
    if order_col is None:
        raise ValueError("chip_partitioned() needs order_col")
    tiled = df.withColumn(
        "tile_x", geo.tile_coord(x, origin_x, tile_len)
    ).withColumn("tile_y", geo.tile_coord(y, origin_y, tile_len))
    return _chip_groups(
        tiled, ["tile_x", "tile_y"], capacity, x, y, order_col
    )
