"""Parquet reads planned from one footer (``pdal_spark.parquet``): the
same schema and rows as Spark's own inference, with no Spark job."""

from __future__ import annotations

import datetime as dt
import decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pdal_spark import pipeline as pl
from pdal_spark.parquet import footer_schema, read_parquet


def jobs_run(spark, fn):
    """(fn's result, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"pq-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _nested(spark):
    return spark.range(0, 40, 1, 2).select(
        F.col("id"),
        F.struct(F.col("id").alias("a"),
                 F.struct((F.col("id") * 2).alias("c")).alias("b")).alias("s"),
        F.array(F.struct(F.col("id").cast("string").alias("k"))).alias("arr"),
        F.create_map(F.lit("m"), F.col("id").cast("int")).alias("mp"),
    )


def _decimal_ts(spark):
    rows = [(i, decimal.Decimal(f"{i}.125"),
             dt.datetime(2025, 1, 1 + i, 3, 4, 5, tzinfo=dt.timezone.utc),
             dt.datetime(2025, 2, 1 + i, 6, 7, 8), dt.date(2024, 3, 1 + i))
            for i in range(6)]
    return spark.createDataFrame(
        rows, "id long, d decimal(12,3), ts timestamp, ntz timestamp_ntz, "
              "day date")


def _partitioned(spark, path):
    spark.range(0, 60, 1, 3).select(
        "id", (F.col("id") % 3).alias("p"),
        F.concat(F.lit("q"), (F.col("id") % 2).cast("string")).alias("q"),
        F.col("id").cast("double").alias("v"),
    ).write.partitionBy("p", "q").parquet(path)


@pytest.mark.parametrize("kind", ["nested", "decimal_ts", "partitioned"])
def test_footer_schema_equals_inferred(spark, tmp_path, kind):
    """The footer's schema gives the same DataFrame schema and rows as
    ``spark.read.parquet``'s inference, and plans with no Spark job."""
    path = str(tmp_path / kind)
    if kind == "partitioned":
        _partitioned(spark, path)
    else:
        (_nested if kind == "nested" else _decimal_ts)(spark).write.parquet(path)
    assert footer_schema(spark, path) is not None
    got, jobs = jobs_run(spark, lambda: read_parquet(spark, [path]))
    assert jobs == 0
    want = spark.read.parquet(path)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_file_without_spark_footer_falls_back(spark, tmp_path):
    """A pyarrow-written file has no Spark schema in its footer: the read
    infers exactly as ``spark.read.parquet`` does."""
    path = str(tmp_path / "arrow.parquet")
    pq.write_table(pa.table({
        "a": pa.array([1, 2, 3], pa.int32()),
        "s": pa.array(["x", None, "z"]),
        "l": pa.array([[1.5], [], None], pa.list_(pa.float64())),
    }), path)
    assert footer_schema(spark, path) is None
    got, want = read_parquet(spark, [path]), spark.read.parquet(path)
    assert got.schema == want.schema
    assert sorted(got.collect(), key=str) == sorted(want.collect(), key=str)


def test_merge_schema_conf_falls_back(spark, tmp_path):
    path = str(tmp_path / "m")
    spark.range(3).write.parquet(path)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert footer_schema(spark, path) is None
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert footer_schema(spark, path) is not None


def test_many_paths_read_in_chunks_without_a_job(spark, tmp_path):
    """More root paths than the session's parallel-listing threshold
    would make Spark list them in a job; the chunked read runs none and
    returns the same rows."""
    limit = int(spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold"))
    path = str(tmp_path / "many")
    spark.range(0, 10 * (limit + 5), 1, limit + 5).write.parquet(path)
    files = sorted(str(p) for p in (tmp_path / "many").glob("*.parquet"))
    assert len(files) > limit
    got, jobs = jobs_run(spark, lambda: read_parquet(spark, files))
    assert jobs == 0
    assert sorted(r.id for r in got.collect()) == list(range(10 * (limit + 5)))


def test_readers_parquet_sees_a_rewritten_schema(spark, tmp_path):
    """readers.parquet takes the schema afresh on every run: a directory
    rewritten with an extra column shows it on the next pipeline.run."""
    path = str(tmp_path / "pts")
    base = spark.range(0, 20, 1, 2).select(
        "id", F.col("id").cast("double").alias("x"))
    base.write.parquet(path)
    doc = [{"type": "readers.parquet", "filename": path}]
    assert pl.run(spark, doc).columns == ["id", "x"]
    base.withColumn("z", F.col("x") * 3).write.mode("overwrite").parquet(path)
    out = pl.run(spark, doc)
    assert out.columns == ["id", "x", "z"]
    assert {r.id: r.z for r in out.collect()} == {i: 3.0 * i for i in range(20)}


def test_inferred_parquet_reader_is_readers_parquet(spark, tmp_path):
    """A bare ``.parquet`` filename reads like readers.parquet: the
    footer schema, no Spark job while planning."""
    path = str(tmp_path / "bare.parquet")
    _decimal_ts(spark).write.parquet(path)
    got, jobs = jobs_run(spark, lambda: pl.run(spark, [path]))
    assert jobs == 0
    assert got.schema == spark.read.parquet(path).schema
