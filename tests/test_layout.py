"""Hilbert layout key + catalog OPTIMIZE rewrite.

The key's ground truth is the classic per-level xy2d loop (rotate /
reflect state carried through all 16 levels) — implemented here
independently in pure Python and compared bit-for-bit against the
engine's DFA-byte-LUT column expression and its DuckDB SQL twin.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pdal_spark import synth
from pdal_spark.catalog import SnapshotTable
from pdal_spark.operators.layout import (
    HILBERT_ORDER,
    hilbert_key,
    hilbert_key_sql,
    optimize_catalog,
)

WORLD = (-180.0, -90.0, 180.0, 90.0)


def _xy2d(order: int, x: int, y: int) -> int:
    """Textbook Hilbert xy->d (independent of the engine's DFA path)."""
    d = 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def _grid(v: float, lo: float, hi: float) -> int:
    n = float(1 << HILBERT_ORDER)
    g = int((v - lo) / (hi - lo) * n)  # python int() truncates like the cast
    return max(0, min(g, (1 << HILBERT_ORDER) - 1))


def test_hilbert_matches_classic_loop(spark):
    pts = synth.synth_points(spark, 500)
    got = {
        r.page_id: r.hk
        for r in pts.withColumn(
            "hk", hilbert_key("x", "y", WORLD)
        ).collect()
    }
    for r in pts.collect():
        xi = _grid(r.x, WORLD[0], WORLD[2])
        yi = _grid(r.y, WORLD[1], WORLD[3])
        assert got[r.page_id] == _xy2d(HILBERT_ORDER, xi, yi), r.page_id


def test_hilbert_key_range_and_distinctness(spark):
    pts = synth.synth_points(spark, 2000)
    keyed = pts.withColumn("hk", hilbert_key("x", "y", WORLD))
    r = keyed.agg(
        F.min("hk"), F.max("hk"), F.count_distinct("hk"), F.count("*")
    ).collect()[0]
    assert r[0] >= 0 and r[1] < (1 << 32)
    # 2000 uniform points on a 2^32-cell curve: collisions ~ never
    assert r[2] == r[3]


def test_hilbert_consecutive_cells_are_adjacent():
    """Curve property (locality): |d2 - d1| == 1 -> grid cells touch.

    Checked exhaustively at order 6 with the same DFA the engine uses,
    driven through the pure-python twin _xy2d by inversion: walk every d
    in curve order, assert unit L1 step."""
    order = 6
    n = 1 << order
    by_d = {}
    for x in range(n):
        for y in range(n):
            by_d[_xy2d(order, x, y)] = (x, y)
    assert len(by_d) == n * n  # bijection
    for d in range(1, n * n):
        (x1, y1), (x2, y2) = by_d[d - 1], by_d[d]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, d


def test_hilbert_sql_twin_bit_exact(spark):
    import duckdb

    pts = synth.synth_points(spark, 800)
    keyed = pts.withColumn(
        "hilbert_key", hilbert_key("x", "y", WORLD)
    ).select("page_id", "hilbert_key")
    pdf = pts.toPandas()
    con = duckdb.connect()
    con.register("pts", pdf)
    sql = (f"SELECT page_id, {hilbert_key_sql('x', 'y', WORLD)}"
           f" AS hilbert_key FROM pts")
    want = dict(con.sql(sql).fetchall())
    got = {r.page_id: r.hilbert_key for r in keyed.collect()}
    assert got == want


def test_optimize_prunes_files_and_preserves_rows(spark, tmp_path):
    cat = SnapshotTable(spark, str(tmp_path / "t"), stats_cols=("x", "y"))
    # arrival-order ingest: every file's bbox spans the world
    pts = synth.synth_points(spark, 20000).withColumn(
        "payload", (F.col("page_id") * 7 % 1000).cast("long")
    )
    cat.append(pts.repartition(16))
    bbox = (10.0, 10.0, 30.0, 25.0)
    before_read, before_total = cat.pruned_count(bbox)
    assert before_total >= 12
    assert before_read == before_total  # nothing prunes pre-optimize

    v = optimize_catalog(cat, WORLD, n_files=16)
    assert v == 2
    after_read, after_total = cat.pruned_count(bbox)
    assert after_total >= 12
    assert after_read < before_read / 2  # clustered layout actually prunes

    # full row fidelity through the rewrite (same rows, any order)
    a = sorted(map(tuple, cat.read(version=1).collect()))
    b = sorted(map(tuple, cat.read(version=2).collect()))
    assert a == b

    # pruned read == full-scan filter (no rows lost by pruning)
    q = cat.read(bbox=bbox).filter(
        (F.col("x") >= bbox[0]) & (F.col("x") <= bbox[2])
        & (F.col("y") >= bbox[1]) & (F.col("y") <= bbox[3])
    )
    full = cat.read().filter(
        (F.col("x") >= bbox[0]) & (F.col("x") <= bbox[2])
        & (F.col("y") >= bbox[1]) & (F.col("y") <= bbox[3])
    )
    assert sorted(map(tuple, q.collect())) == sorted(map(tuple, full.collect()))

    # time travel + history intact
    h = {r.version: r.operation for r in cat.history().collect()}
    assert h == {1: "append", 2: "optimize"}
    assert cat.read(version=1).count() == 20000


def test_optimize_plan_is_one_exchange(spark, tmp_path):
    from pdal_spark.bucketing import n_exchanges

    cat = SnapshotTable(spark, str(tmp_path / "t2"), stats_cols=("x", "y"))
    cat.append(synth.synth_points(spark, 5000))
    df = cat.read().withColumn(
        "_hkey", hilbert_key("x", "y", WORLD)
    )
    out = df.repartitionByRange(8, "_hkey").sortWithinPartitions("_hkey")
    assert n_exchanges(out) == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" in plan
