"""ordered.global_rank / running_total — the distributed replacements
for no-partition global windows. Oracles are plain Python sorts."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from pdal_spark.operators import ordered
from pdal_spark.operators.ordered import global_rank, running_total


@pytest.fixture(scope="module")
def rows():
    rng = random.Random(7)
    # duplicate keys on purpose: the arrival tiebreak must decide
    return [(i, rng.randrange(50), rng.randrange(2)) for i in range(937)]


@pytest.fixture(scope="module")
def df(spark, rows):
    return spark.createDataFrame(rows, "id long, v long, flag long").repartition(7)


def test_global_rank_matches_sorted_order(df, rows):
    out = global_rank(df, [F.col("v").asc(), F.col("id").asc()], out_col="r")
    got = {r["id"]: r["r"] for r in out.collect()}
    expect = {
        rid: i + 1
        for i, (rid, _, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    assert got == expect


def test_global_rank_desc_and_zero_based(df, rows):
    out = global_rank(
        df, [F.col("v").desc(), F.col("id").desc()], out_col="r", zero_based=True
    )
    got = {r["id"]: r["r"] for r in out.collect()}
    order = sorted(rows, key=lambda t: (-t[1], -t[0]))
    assert got == {rid: i for i, (rid, _, _) in enumerate(order)}


def test_global_rank_more_partitions_than_rows(spark):
    df = spark.createDataFrame([(3,), (1,), (2,)], "id long")
    out = global_rank(df, [F.col("id").asc()], out_col="r", num_partitions=16)
    assert {(r["id"], r["r"]) for r in out.collect()} == {(1, 1), (2, 2), (3, 3)}


def test_global_rank_empty(spark):
    df = spark.createDataFrame([], "id long")
    assert global_rank(df, [F.col("id").asc()], out_col="r").count() == 0


def test_running_total_exclusive(df, rows):
    out = running_total(
        df, [F.col("id").asc()], F.col("flag"), out_col="t"
    )
    got = {r["id"]: r["t"] for r in out.collect()}
    acc, expect = 0, {}
    for rid, _, flag in sorted(rows):
        expect[rid] = acc
        acc += flag
    assert got == expect


def test_running_total_inclusive(df, rows):
    out = running_total(
        df, [F.col("id").asc()], F.col("flag"), out_col="t", inclusive=True
    )
    got = {r["id"]: r["t"] for r in out.collect()}
    acc, expect = 0, {}
    for rid, _, flag in sorted(rows):
        acc += flag
        expect[rid] = acc
    assert got == expect


def test_no_global_window_in_plan(df, monkeypatch):
    """The point of the module: the physical plan must not contain a
    single-partition window exchange (SinglePartition).
    PDAL_SPARK_FORCE_DISTRIBUTED pins the distributed shape (a small
    test input would otherwise take the fast path)."""
    monkeypatch.setenv("PDAL_SPARK_FORCE_DISTRIBUTED", "1")
    out = global_rank(df, [F.col("v").asc(), F.col("id").asc()], out_col="r")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_small_fast_path_equals_distributed(spark, monkeypatch):
    """The stats-gated fast path must produce identical ranks and
    running totals to the range-partition + offsets shape. The input
    must come from a stats-bearing source (range/parquet) —
    createDataFrame RDDs report unknown size and always take the
    distributed shape."""
    base = spark.range(937).select(
        F.col("id"),
        F.pmod(F.xxhash64("id"), F.lit(50)).alias("v"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(2)).alias("flag"),
    ).repartition(7)
    keys = [F.col("v").asc(), F.col("id").asc()]
    with monkeypatch.context() as m:
        m.setattr(ordered, "SMALL_BYTES", 1 << 40)
        fast = global_rank(base, keys, out_col="r")
        fast_t = running_total(base, [F.col("id").asc()], F.col("flag"),
                               out_col="t")
    with monkeypatch.context() as m:
        m.setenv("PDAL_SPARK_FORCE_DISTRIBUTED", "1")
        dist = global_rank(base, keys, out_col="r")
        dist_t = running_total(base, [F.col("id").asc()], F.col("flag"),
                               out_col="t")
    assert {(r["id"], r["r"]) for r in fast.collect()} == \
        {(r["id"], r["r"]) for r in dist.collect()}
    assert {(r["id"], r["t"]) for r in fast_t.collect()} == \
        {(r["id"], r["t"]) for r in dist_t.collect()}
    # and the fast path really did engage (no range exchange in plan)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan
