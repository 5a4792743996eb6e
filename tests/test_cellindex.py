"""S2-style hierarchical cell index: id layout invariants, DuckDB
twins, covering/range-scan semantics, and the parquet pushdown
evidence the range-scan design exists for."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from pdal_spark import geo
from pdal_spark.operators import cellindex as ci

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_geo(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return df.select(
        "doc_id",
        geo.geocode_lcg_x("doc_id").alias("x"),
        geo.geocode_lcg_y("doc_id").alias("y"),
    )


def _ddb_geo():
    con = duckdb.connect()
    x, y = geo.geocode_lcg_sql("doc_id")
    con.sql(
        f"CREATE VIEW g AS SELECT doc_id, ({x}) AS x, ({y}) AS y "
        f"FROM '{SF_DIR}/documents.parquet'"
    )
    return con


def test_cell_id_layout_invariants():
    """Python-side layout math: level recovery, parent containment,
    contiguous descendant ranges, token prefix property."""
    # a level-12 cell somewhere mid-domain
    cells = ci.covering((10.0, 10.0, 10.1, 10.1), 12)
    assert cells
    cid = cells[0]
    assert ci.cell_level(cid) == 12
    lo, hi = ci.cell_range(cid)
    assert lo <= cid <= hi
    # its level-6 ancestor's range contains the child's entire range
    pmask_lsb = 1 << (2 * (ci.MAX_LEVEL - 6))
    parent = (cid & ~(2 * pmask_lsb - 1)) | pmask_lsb
    plo, phi = ci.cell_range(parent)
    assert plo <= lo and hi <= phi
    assert ci.cell_level(parent) == 6


def test_cell_encode_sql_twin(docs_geo):
    got = (
        docs_geo.withColumn("cell_id", ci.cell_id("x", "y", 12)).select(
            "doc_id",
            "cell_id",
            ci.cell_token("cell_id").alias("cell_token"),
            ci.cell_parent("cell_id", 6).alias("cell_l6"),
        )
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = _ddb_geo()
    c = ci.cell_id_sql("x", "y", 12)
    exp = con.sql(
        f"SELECT doc_id, {c} AS cell_id, "
        f"{ci.cell_token_sql(c)} AS cell_token, "
        f"{ci.cell_parent_sql(c, 6)} AS cell_l6 FROM g ORDER BY doc_id"
    ).df().reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # parent ids really are ancestors: child range within parent range
    for _, r in got.head(50).iterrows():
        lo, hi = ci.cell_range(int(r.cell_id))
        plo, phi = ci.cell_range(int(r.cell_l6))
        assert plo <= lo and hi <= phi


def test_cell_rollup_twin_and_consistency(docs_geo):
    out = ci.cell_rollup(docs_geo, [4, 8, 12]).toPandas()
    con = _ddb_geo()
    exp = con.sql(ci.cell_rollup_sql("g", [4, 8, 12])).df()
    key = ["level", "cell_id"]
    import pandas as pd

    pd.testing.assert_frame_equal(
        out.sort_values(key).reset_index(drop=True)[["level", "cell_id", "n"]],
        exp.sort_values(key).reset_index(drop=True)[["level", "cell_id", "n"]],
        check_dtype=False,
    )
    # every level's counts sum to the row count
    n_docs = docs_geo.count()
    sums = out.groupby("level")["n"].sum()
    assert (sums == n_docs).all()


def test_range_scan_superset_of_crop(docs_geo):
    """The covering range scan must return a SUPERSET of the exact bbox
    crop (cells intersect the box; points in partially-covered cells
    come along) and a subset of a one-cell-padded box."""
    bbox = (-90.0, -45.0, 90.0, 45.0)
    ranges = ci.covering_ranges(bbox, 6)
    cid = ci.cell_id("x", "y", 12)
    scanned = set(
        r.doc_id
        for r in ci.range_scan_join(
            docs_geo.withColumn("cid", cid), "cid", ranges
        ).select("doc_id").collect()
    )
    exact = set(
        r.doc_id
        for r in docs_geo.filter(
            (F.col("x") >= bbox[0]) & (F.col("x") <= bbox[2])
            & (F.col("y") >= bbox[1]) & (F.col("y") <= bbox[3])
        ).select("doc_id").collect()
    )
    assert exact <= scanned
    # padding bound: one level-6 cell is 360/64 x 180/64 degrees
    padx, pady = 360.0 / 64, 180.0 / 64
    padded = set(
        r.doc_id
        for r in docs_geo.filter(
            (F.col("x") >= bbox[0] - padx) & (F.col("x") <= bbox[2] + padx)
            & (F.col("y") >= bbox[1] - pady) & (F.col("y") <= bbox[3] + pady)
        ).select("doc_id").collect()
    )
    assert scanned <= padded


def test_range_scan_parquet_pushdown(spark, docs_geo, tmp_path):
    """Stored cell ids + BETWEEN ranges reach the parquet scan as
    PushedFilters — the reason the id layout makes descendants
    contiguous."""
    p = str(tmp_path / "cells.parquet")
    docs_geo.withColumn(
        "cell_id", ci.cell_id("x", "y", 12)
    ).write.mode("overwrite").parquet(p)
    ranges = ci.covering_ranges((-90.0, -45.0, 90.0, 45.0), 6)
    df = spark.read.parquet(p).filter(
        ci.range_filter(F.col("cell_id"), ranges)
    ).select("doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "cell_id" in plan.split("PushedFilters")[1][:2000]


def test_cell_pnp_join_equals_exact_crop(docs_geo):
    """Index-pruned polygon join == index-free batch crop on the same
    polygon set (pruning is invisible to semantics)."""
    from pdal_spark.operators import crop as crop_op

    poly = crop_op.Polygon(
        exterior=((-100.0, -50.0), (50.0, -50.0), (50.0, 60.0),
                  (-20.0, 60.0), (-20.0, 0.0), (-60.0, 0.0),
                  (-60.0, 60.0), (-100.0, 60.0)),
        holes=(((-90.0, -40.0), (-70.0, -40.0), (-70.0, -20.0),
                (-90.0, -20.0)),),
    )
    hexg = crop_op.hexagon_ring(40.0, -10.0, 45.0)
    cid = ci.cell_id("x", "y", 12)
    got = set(
        (r.doc_id, r.geom_id)
        for r in ci.cell_pnp_join(
            docs_geo.withColumn("cell_id", cid), [poly, hexg], level=6
        ).select("doc_id", "geom_id").collect()
    )
    exp = set(
        (r.doc_id, r.geom_id)
        for r in crop_op.crop(docs_geo, [poly, hexg], mode="batch")
        .select("doc_id", "geom_id").collect()
    )
    assert got == exp and got


def test_covering_superset_property_random_boxes():
    """For 50 deterministic pseudo-random boxes and points: any point
    inside a box has its fine cell covered by the box's covering ranges
    (driver-side math only — the invariant the range scan rests on)."""
    import math

    rng_state = 12345

    def nxt():
        nonlocal rng_state
        rng_state = (1103515245 * rng_state + 12345) % (1 << 31)
        return rng_state / float(1 << 31)

    for _ in range(50):
        x0 = -180 + 340 * nxt()
        y0 = -90 + 160 * nxt()
        w = 1e-3 + 100 * nxt()
        h = 1e-3 + 60 * nxt()
        bbox = (x0, y0, min(179.9, x0 + w), min(89.9, y0 + h))
        ranges = ci.covering_ranges(bbox, 6)
        # 5 points inside the box
        for _ in range(5):
            px = bbox[0] + (bbox[2] - bbox[0]) * nxt()
            py = bbox[1] + (bbox[3] - bbox[1]) * nxt()
            cells = ci.covering((px, py, px, py), 12)
            cid = cells[0]
            assert any(lo <= cid <= hi for lo, hi in ranges), (bbox, px, py)


def test_partitioned_write_partition_pruning(spark, docs_geo, tmp_path):
    """The 100 TB layout: data written partitionBy(coarse cell token);
    a region query on that column prunes PARTITIONS (not just row
    groups) — the scan's partition count drops and the plan carries the
    partition filter."""
    p = str(tmp_path / "bytile.parquet")
    cid = ci.cell_id("x", "y", 12)
    (
        docs_geo.withColumn("cell_id", cid)
        .withColumn("cell_l2", F.expr(ci.cell_token_sql(ci.cell_parent_sql("cell_id", 2))))
        .write.partitionBy("cell_l2").mode("overwrite").parquet(p)
    )
    back = spark.read.parquet(p)
    n_parts_all = back.select("cell_l2").distinct().count()
    assert n_parts_all == 16  # level-2 grid over the full domain: 4x4
    target = back.select("cell_l2").distinct().orderBy("cell_l2").first()[0]
    pruned = back.filter(F.col("cell_l2") == target)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the predicate lands in PartitionFilters (directory pruning),
    # NOT as a data filter the scan must evaluate per row
    assert "PartitionFilters" in plan and "cell_l2" in plan.split(
        "PartitionFilters"
    )[1][:400]
    # and the pruned read returns exactly that partition's rows
    full = back.groupBy("cell_l2").count().toPandas().set_index("cell_l2")
    assert pruned.count() == int(full.loc[target, "count"])
