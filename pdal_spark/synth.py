"""Deterministic synthetic pages table (FIXTURES.md F1).

Everything is built from ``spark.range`` + built-in column expressions —
no UDFs, no RNG state — so the same (seed, n) always yields byte-identical
rows at any partition count and any cluster size. That determinism is what
lets the per-row invariant ("text bytes per url unchanged through every
stage") be checked by hash comparison at 10^12-row scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdal_spark import geo

_WORDS = [
    "the", "fast", "key", "order", "sort", "table", "scan", "merge", "part",
    "window", "small", "hash", "join", "group", "query", "row", "data",
    "slow", "filter", "customer", "line", "batch", "value", "spark", "page",
    "crawl", "web", "text", "tile", "cell", "point", "cloud",
]


def synth_pages(
    spark: SparkSession,
    n: int,
    n_sites: int = 1000,
    num_partitions: int | None = None,
    words_per_doc: int = 20,
) -> DataFrame:
    """n Common-Crawl-style pages: (page_id, url, warc_ts, html, text, lang).

    page_id is kept (unlike the north-star schema) as the deterministic
    arrival index — PDAL semantics are frequently order-dependent
    (decimation, head/tail, stable sort, voxel first-in) and a persisted
    arrival index is the scale-safe replacement for "input order".
    """
    df = spark.range(0, n, 1, num_partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id")
    words = F.array(*[F.lit(w) for w in _WORDS])
    # word choice: LCG over (i, slot) — pure column math, reproducible
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(words_per_doc - 1)),
            lambda j: F.element_at(
                words,
                ((i * 2654435761 + (j + 1) * 40503) % len(_WORDS) + 1).cast("int"),
            ),
        ),
        " ",
    )
    text = F.concat(F.lit("doc "), i.cast("string"), F.lit(" "), body)
    return (
        df.select(
            i.alias("page_id"),
            F.concat(
                F.lit("https://site"),
                F.lpad((i % n_sites).cast("string"), 5, "0"),
                F.lit(".example/p/"),
                F.lpad(i.cast("string"), 6, "0"),
            ).alias("url"),
            (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=i * 137)).alias(
                "warc_ts"
            ),
            text.alias("_text"),
            F.element_at(
                F.array(F.lit("en"), F.lit("de"), F.lit("fr"), F.lit("es"), F.lit("zh")),
                (i % 5 + 1).cast("int"),
            ).alias("lang"),
        )
        .withColumn("html", F.concat(F.lit("<html>"), F.col("_text"), F.lit("</html>")).cast("binary"))
        .withColumnRenamed("_text", "text")
        .select("page_id", "url", "warc_ts", "html", "text", "lang")
    )


def with_coords(df: DataFrame, id_col: str = "page_id") -> DataFrame:
    """Derive (x, y) deterministically.

    Pages with a (url, warc_ts) pair use the sha256 geocode (the
    north-star rule); tables keyed by a plain int id fall back to the
    LCG geocode, whose SQL twin the DuckDB oracle can evaluate.
    """
    cols = set(df.columns)
    if {"url", "warc_ts"} <= cols:
        return df.withColumn("x", geo.geocode_sha2_x(F.col("url"), F.col("warc_ts"))).withColumn(
            "y", geo.geocode_sha2_y(F.col("url"), F.col("warc_ts"))
        )
    return df.withColumn("x", geo.geocode_lcg_x(id_col)).withColumn(
        "y", geo.geocode_lcg_y(id_col)
    )


def synth_points(
    spark: SparkSession, n: int, num_partitions: int | None = None
) -> DataFrame:
    """Bare deterministic point set (page_id, x, y) — unit-test fixture."""
    df = spark.range(0, n, 1, num_partitions or spark.sparkContext.defaultParallelism)
    return df.select(
        F.col("id").alias("page_id"),
        geo.geocode_lcg_x("id").alias("x"),
        geo.geocode_lcg_y("id").alias("y"),
    )


def with_skew(
    df: DataFrame,
    hot_frac_pct: int = 30,
    hot_box: tuple[float, float, float, float] = (10.0, 20.0, 10.1, 20.1),
    id_col: str = "page_id",
) -> DataFrame:
    """Relocate ~hot_frac_pct% of rows into one tiny box (one hot spatial
    cell) — the skewed-mega-cell scenario the north rule requires salting
    for. Deterministic: membership and in-box position are LCG(id)."""
    minx, miny, maxx, maxy = hot_box
    i = F.col(id_col)
    is_hot = (i % 100) < hot_frac_pct
    fx = ((i * 48271 + 7) % 100000).cast("double") / 100000.0
    fy = ((i * 16807 + 3) % 100000).cast("double") / 100000.0
    return df.withColumn(
        "x", F.when(is_hot, F.lit(minx) + fx * (maxx - minx)).otherwise(F.col("x"))
    ).withColumn(
        "y", F.when(is_hot, F.lit(miny) + fy * (maxy - miny)).otherwise(F.col("y"))
    )

