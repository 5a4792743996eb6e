"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator of the pdal_spark engine run over
the shared test tables; ``oracle_sql()`` carries the ANSI-SQL twin DuckDB
executes on the same parquet. Spatial queries derive deterministic
coordinates from integer ids via pdal_spark.geo.geocode_lcg (pure BIGINT
arithmetic — bit-identical in Spark, DuckDB, and numpy).
"""

from __future__ import annotations

import math
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdal_spark import geo
from pdal_spark.datapipe import dedup as dedup_op
from pdal_spark.datapipe import simsearch as sim_op
from pdal_spark.datapipe import textstats as text_op
from pdal_spark.datapipe import pii as pii_op
from pdal_spark.datapipe import ranking as ranking_op
from pdal_spark.datapipe import sketch as sketch_op
from pdal_spark.datapipe import weburl as weburl_op
from pdal_spark.datapipe import packing as pack_op
from pdal_spark.datapipe import bloom as bloom_op
from pdal_spark.datapipe import quality_rules as qrules_op
from pdal_spark.datapipe import curate as curate_op
from pdal_spark.datapipe import c4_rules as c4_op
from pdal_spark.datapipe import graphrank as graphrank_op
from pdal_spark.datapipe import boilerplate as boiler_op
from pdal_spark.datapipe import classifier as clf_op
from pdal_spark.datapipe import pq as pq_entry_op
from pdal_spark.datapipe import htmlextract as hx_op
from pdal_spark.datapipe import anchors as anchors_op
from pdal_spark.datapipe import wordlm as wordlm_op
from pdal_spark.functions.dimrange import parse_range, range_sql
from pdal_spark.functions.mongo import mongo_sql
from pdal_spark.operators import asof as asof_op
from pdal_spark.operators import cellindex as cellindex_op
from pdal_spark.operators import chipper as chipper_op
from pdal_spark.operators import crop as crop_op
from pdal_spark.operators import hexbin as hexbin_op
from pdal_spark.operators import knn as knn_op
from pdal_spark.operators import raster as raster_op
from pdal_spark.operators import relational as rel_op
from pdal_spark.operators import splitter as splitter_op
from pdal_spark.operators import stats as stats_op
from pdal_spark.operators import timeseries as ts_op
from pdal_spark.session import configure_session

# ---------------------------------------------------------------------------
# shared fixtures: geometry + tiling parameters used by both sides
# ---------------------------------------------------------------------------

BOX = crop_op.Box(-90.0, -45.0, 90.0, 45.0)
CIRCLE = crop_op.Circle(10.0, 20.0, 55.0)
POLY = crop_op.Polygon(
    exterior=((-100.0, -50.0), (50.0, -50.0), (50.0, 60.0), (-20.0, 60.0),
              (-20.0, 0.0), (-60.0, 0.0), (-60.0, 60.0), (-100.0, 60.0)),
    holes=(((-90.0, -40.0), (-70.0, -40.0), (-70.0, -20.0), (-90.0, -20.0)),),
)
TILE_LEN, TILE_OX, TILE_OY = 30.0, -180.0, -90.0


def _dbl(v: float) -> str:
    """`v` as an exact DOUBLE literal in the DuckDB oracle texts."""
    return geo.sql_double(v, "duckdb")


_X_SQL, _Y_SQL = geo.geocode_lcg_sql("doc_id")
_DOCS_GEO_SQL = (
    f"SELECT doc_id, lang, ({_X_SQL}) AS x, ({_Y_SQL}) AS y FROM documents"
)


def _docs_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return df.select(
        "doc_id",
        "lang",
        geo.geocode_lcg_x("doc_id").alias("x"),
        geo.geocode_lcg_y("doc_id").alias("y"),
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_crop_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filters.crop, bbox, inclusive contains (CropFilter.cpp:251-258)."""
    return crop_op.crop(_docs_geo(spark, sf_dir), [BOX], mode="stream").select(
        "doc_id", "x", "y"
    )


def q_crop_box_outside(spark: SparkSession, sf_dir: str) -> DataFrame:
    return crop_op.crop(
        _docs_geo(spark, sf_dir), [BOX], outside=True, mode="stream"
    ).select("doc_id", "x", "y")


def q_crop_circle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filters.crop, 2D circle, strict d^2 (CropFilter.cpp:295-318)."""
    return crop_op.crop(_docs_geo(spark, sf_dir), [CIRCLE], mode="stream").select(
        "doc_id", "x", "y"
    )


def q_crop_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filters.crop, concave polygon with hole, exact even-odd PnP."""
    return crop_op.crop(_docs_geo(spark, sf_dir), [POLY], mode="stream").select(
        "doc_id"
    )


def q_crop_multi_geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-mode crop: one output view per geometry -> geom_id column
    (CropFilter.cpp:221-248); overlap rows appear under both ids."""
    g0 = crop_op.Box(-60.0, -60.0, 60.0, 60.0)
    g1 = crop_op.Circle(0.0, 0.0, 70.0)
    return crop_op.crop(_docs_geo(spark, sf_dir), [g0, g1], mode="batch").select(
        "doc_id", "geom_id"
    )


def q_splitter_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filters.splitter tile ids (int-cast-then-decrement floor)."""
    out = splitter_op.split(_docs_geo(spark, sf_dir), TILE_LEN, TILE_OX, TILE_OY)
    return out.select("doc_id", "tile_x", "tile_y")


def q_splitter_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kernels.tile shape: per-tile page counts (the flagship aggregation)."""
    out = splitter_op.split(_docs_geo(spark, sf_dir), TILE_LEN, TILE_OX, TILE_OY)
    return out.groupBy("tile_x", "tile_y").agg(F.count("*").alias("n_pages"))


# --- relational layer (filters.range/mongo/assign/decimation/head/tail/
#     divider/groupby/sort/locate/merge/voxel/stats) over the TPC-H-ish
#     tables ---

RANGES = ["l_quantity[10:20]", "l_quantity[40:]", "l_discount(0.02:0.06)"]
MONGO = {
    "$or": [
        {"o_orderpriority": {"$in": ["1-URGENT", "2-HIGH"]}},
        {"o_totalprice": {"$gte": 250000.0}},
    ],
    "o_orderstatus": {"$ne": "F"},
}


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def q_range_filter(spark, sf_dir):
    """filters.range: OR within same dim, AND across dims (DimRange.cpp:129-155)."""
    df = _table(spark, sf_dir, "lineitem")
    out = rel_op.range_filter(df, RANGES)
    return out.select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


def q_mongo_filter(spark, sf_dir):
    """filters.mongo: JSON predicate tree (MongoExpressionFilter.cpp)."""
    out = rel_op.mongo_filter(_table(spark, sf_dir, "orders"), MONGO)
    return out.select("o_orderkey", "o_orderpriority", "o_totalprice")


def q_assign_conditional(spark, sf_dir):
    """filters.ferry + filters.assign: copy dim, conditional in-order updates."""
    df = _table(spark, sf_dir, "lineitem")
    df = rel_op.ferry(df, [("l_quantity", "qty_capped")])
    df = rel_op.assign(
        df, ["qty_capped[40:]=40", "qty_capped[:5)=0"], condition="l_discount[0:0.05]"
    )
    return df.select("l_orderkey", "l_linenumber", "qty_capped")


def q_decimation(spark, sf_dir):
    """filters.decimation: (i-offset) % step over arrival order (dense ids)."""
    df = _table(spark, sf_dir, "documents")
    out = rel_op.decimation(df, step=7, offset=3, order_col="doc_id", dense_index=True)
    return out.select("doc_id", "lang")


def q_head_tail(spark, sf_dir):
    """filters.head + filters.tail unioned, tagged by which end."""
    df = _table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    h = rel_op.head(df, 40, order_col="doc_id").withColumn("end", F.lit("head"))
    t = rel_op.tail(df, 40, order_col="doc_id").withColumn("end", F.lit("tail"))
    return rel_op.merge(h, t)


def q_divider_round_robin(spark, sf_dir):
    """filters.divider round_robin: view_id = i mod count (DividerFilter.cpp:141)."""
    # Project before the arrival-rank shuffle: global_rank range-partitions
    # whole rows, and dragging the html binary column through that exchange
    # is ~10x the bytes this query needs.
    df = _table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = rel_op.divider(df, count=4, mode="round_robin", order_col="doc_id")
    return out.groupBy("view_id").agg(
        F.count("*").alias("n"), F.sum("n_chars").cast("long").alias("sum_chars")
    )


def q_groupby_views(spark, sf_dir):
    """filters.groupby: one view per distinct value of a dim."""
    df = _table(spark, sf_dir, "events")
    out = rel_op.groupby_views(df, "user_id")
    return out.groupBy("view_id").agg(F.count("*").alias("n"))


def q_sort_rank(spark, sf_dir):
    """filters.sort (stable): encoded as explicit rank so an order-
    insensitive compare still verifies total order + tiebreak; the rank
    is computed distributed (ordered.global_rank), not via a single-task
    global window."""
    df = _table(spark, sf_dir, "events")
    return rel_op.sort_rank(df, "value", arrival_col="event_id").select(
        "event_id", "sort_rank"
    )


def q_locate_max(spark, sf_dir):
    """filters.locate: single row with max of dim, first arrival wins ties."""
    out = rel_op.locate(
        _table(spark, sf_dir, "events"), "value", "max", arrival_col="event_id"
    )
    return out.select("event_id", "value")


def q_randomize(spark, sf_dir):
    """filters.randomize: seed-deterministic pseudo-random permutation
    (affine cipher mod 2^31-1) materialized as a rank column via the
    distributed range-partition scheme. std::shuffle/mt19937 bit parity
    is implementation-defined in the reference itself (RandomizeFilter
    .hpp:63-70), so the contract is the deterministic uniform shuffle."""
    df = _table(spark, sf_dir, "events")
    return rel_op.randomize(df, seed=42, order_col="event_id").select(
        "event_id", "shuffle_rank"
    )


def q_stats_moments(spark, sf_dir):
    """filters.stats: count/min/max/mean + SAMPLE variance/skew/excess-
    kurtosis (StatsFilter.hpp:63-196), power-sum formulas both sides."""
    df = _table(spark, sf_dir, "lineitem")
    return stats_op.stats(df, ["l_quantity", "l_discount"], round_to=6)


def q_merge_union(spark, sf_dir):
    """filters.merge: union-all of two views."""
    df = _table(spark, sf_dir, "documents").select("doc_id", "lang")
    a = df.filter(F.col("lang") == "en")
    b = df.filter(F.col("lang") == "zh")
    return rel_op.merge(a, b)


def q_voxel_downsize(spark, sf_dir):
    """filters.voxeldownsize: first point (by arrival) wins per voxel
    (VoxelDownsizeFilter.cpp:103-145)."""
    df = _docs_geo(spark, sf_dir)
    out = rel_op.voxel_downsize(
        df, cell=15.0, origin=(-180.0, -90.0), order_col="doc_id"
    )
    return out.select("doc_id", "x", "y")


def q_window_agg_events(spark, sf_dir):
    """Tumbling 5-minute window per event_type (streaming-shape agg;
    reference streaming is bounded micro-batch — SURVEY §2.10)."""
    df = _table(spark, sf_dir, "events")
    return (
        df.groupBy(
            F.dayofmonth("ts").alias("d"),
            F.hour("ts").alias("h"),
            F.floor(F.minute("ts") / 5).alias("m5"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
    )


def q_asof_join(spark, sf_dir):
    """As-of join: each 'click' event joined to the latest prior (<=)
    'view' event of the same user — tagged-union + cumulative window,
    one exchange on user_id; oracle is DuckDB's NATIVE ASOF JOIN."""
    ev = _table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    return asof_op.asof_join(
        clicks, views, on="user_id", ts="ts", payload=["event_id", "value"]
    ).select("event_id", "user_id", "event_id_r", "value_r")


def q_sessionize(spark, sf_dir):
    """Gap-based clickstream sessionization (10-minute gap): one key
    exchange, two partitioned cumulative windows."""
    ev = _table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return ts_op.sessionize(ev, key="user_id", ts="ts", gap_seconds=600.0)


def q_crawl_schedule(spark, sf_dir):
    """Crawl-politeness scheduler (30 s per-host delay; user_id stands
    in for host): earliest dispatch times from the prefix-max closed
    form of d_i = max(t_i, d_{i-1}+delay) — one host-key exchange, two
    partitioned windows, int64 micros end to end (bit-exact twin)."""
    ev = _table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = ts_op.rate_limit_schedule(
        ev, key="user_id", ts="ts", delay_seconds=30.0, id_col="event_id"
    )
    return out.select("event_id", "user_id", "dispatch_us", "wait_us")


def q_interval_join(spark, sf_dir):
    """Bounded-interval (range) join: click x error pairs of the same
    user within +-6 h — delta-wide time-bin bucket join (1-D analog of
    the spatial cell join) + exact |dt| predicate; oracle is the
    index-free inequality join."""
    ev = _table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    out = ts_op.interval_join(
        clicks, errors, key="user_id", ts="ts", delta_seconds=21600.0
    )
    return out.select("event_id", "user_id", "event_id_r")


def q_kmv_distinct(spark, sf_dir):
    """KMV bottom-k distinct-count sketch: distinct text fingerprints
    per source — bounded-state map-side partials, one merge exchange;
    sketch content (not just the estimate) is bit-compared."""
    from pdal_spark.datapipe import sketch as sketch_op

    df = _table(spark, sf_dir, "documents")
    fp = text_op.fingerprint(df)
    return sketch_op.kmv_sketch(fp, ["source"], "fp_roll", k=32).drop("sketch")


def q_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct fingerprints per source: m=64 registers via
    ONE groupBy with map-side-combining max aggregates (per-group
    shuffle state is m values regardless of group size — the max-merge
    property KMV's bottom-k lacks). Register sum is exact dyadic math,
    so the estimate hash-matches DuckDB bit-for-bit."""
    from pdal_spark.datapipe import sketch as sketch_op

    df = _table(spark, sf_dir, "documents")
    fp = text_op.fingerprint(df)
    return sketch_op.hll_sketch(fp, ["source"], "fp_roll", m=64)


BM25_QUERY = ["spark", "window", "merge"]


def q_bm25_rank(spark, sf_dir):
    """BM25 relevance of every document against a fixed 3-term query:
    terms filter at the scan, df/corpus stats join broadcast, one
    doc_id exchange builds the score sum."""
    from pdal_spark.datapipe import ranking

    df = _table(spark, sf_dir, "documents")
    return ranking.bm25_score(df, BM25_QUERY)


PHRASE_QUERY = ["spark", "window"]


def q_boolean_and(spark, sf_dir):
    """Conjunctive boolean retrieval (docs containing ALL query terms):
    posting intersection by counting — scan-side isin filter, distinct
    (doc, term), ONE doc_id exchange, hit-count == n_terms. Never a
    k-way posting self-join."""
    from pdal_spark.datapipe import ranking

    df = _table(spark, sf_dir, "documents")
    return ranking.conjunctive_search(df, BM25_QUERY)


def q_phrase_search(spark, sf_dir):
    """Phrase retrieval: the conjunctive AND narrowed to adjacent
    in-order terms via the tokenizer-exact padded-contains predicate
    (map-only on candidates)."""
    from pdal_spark.datapipe import ranking

    df = _table(spark, sf_dir, "documents")
    return ranking.conjunctive_search(df, PHRASE_QUERY, phrase=True)


BPE_N_MERGES = 8


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (8 merges) over the corpus
    word-frequency table. Iterative algorithm -> rows-only at the
    driver; the strong oracle is the pure-python reference trainer
    compared merge-for-merge in tests/test_datapipe.py."""
    from pdal_spark.datapipe import bpe

    df = _table(spark, sf_dir, "documents")
    merges = bpe.bpe_train(df, BPE_N_MERGES)
    return spark.createDataFrame(
        merges, ["step", "left", "right", "pair_count"]
    ).withColumn("step", F.col("step").cast("long")).withColumn(
        "pair_count", F.col("pair_count").cast("long")
    )


def q_bpe_tokens(spark, sf_dir):
    """Per-doc token count under the corpus-trained BPE vocabulary
    (train -> encode distinct words once -> broadcast join)."""
    from pdal_spark.datapipe import bpe

    df = _table(spark, sf_dir, "documents")
    merges = bpe.bpe_train(df, BPE_N_MERGES)
    return bpe.bpe_encode(df, merges)


def q_unigram_tokens(spark, sf_dir):
    """SentencePiece-unigram tokenizer (Kudo 2018): EM-trained
    vocabulary (distributed E-steps, integer-quantized expected counts
    so float order cannot change the result), Viterbi encoding. Token
    arrays join to one string for a stable driver hash. Rows-only
    (iterative EM, like BPE); the enumerate-all-segmentations oracle
    lives in tests/test_unigram.py."""
    from pdal_spark.datapipe import unigram as ug

    df = _table(spark, sf_dir, "documents")
    vocab = ug.unigram_train(
        df, vocab_size=300, n_iters=2, seed_size=512
    )
    out = ug.unigram_encode(df, vocab)
    return out.select(
        F.col("id").alias("doc_id"),
        F.array_join("tokens", " ").alias("token_str"),
        "n_tokens",
    )


HEX_EDGE = 12.0


def q_hexbin_density(spark, sf_dir):
    """filters.hexbin density: per-hex-cell counts with PDAL's exact cell
    addressing (HexGrid::findHexagon incl. the truncated SQRT_3 width)."""
    return hexbin_op.density(_docs_geo(spark, sf_dir), HEX_EDGE, TILE_OX, TILE_OY)


def q_hexbin_dense(spark, sf_dir):
    """Dense cells: count >= threshold (HexBinFilter default 15 scaled
    down for the 500-row table)."""
    dens = hexbin_op.density(_docs_geo(spark, sf_dir), HEX_EDGE, TILE_OX, TILE_OY)
    return hexbin_op.dense_cells(dens, threshold=3)


KNN_K = 5
KNN_CELL = 25.0


def _docs_classed(spark, sf_dir):
    return _docs_geo(spark, sf_dir).withColumn(
        "classification", (F.col("doc_id") % 5).cast("int")
    )


def q_knn_join(spark, sf_dir):
    """Cell-bucketed kNN self-join (KDIndex.hpp semantics): k nearest
    other points per point; rank ties broken by candidate id."""
    pts = _docs_geo(spark, sf_dir).select(
        F.col("doc_id").alias("src_id"), "x", "y"
    )
    cand = _docs_geo(spark, sf_dir).select(
        F.col("doc_id").alias("cand_id"), "x", "y"
    )
    return knn_op.knn_join(
        pts, cand, KNN_K, cell_size=KNN_CELL, exclude_self=True
    ).select("src_id", "cand_id", "dist", "rank")


def q_knn_join_salted(spark, sf_dir):
    """Same kNN but with hot-cell salting enabled (north-rule skew path):
    results must be identical to the unsalted plan."""
    pts = _docs_geo(spark, sf_dir).select(F.col("doc_id").alias("src_id"), "x", "y")
    cand = _docs_geo(spark, sf_dir).select(F.col("doc_id").alias("cand_id"), "x", "y")
    return knn_op.knn_join(
        pts, cand, KNN_K, cell_size=KNN_CELL, exclude_self=True,
        salt_threshold=8, n_salts=4,
    ).select("src_id", "cand_id", "dist", "rank")


def q_neighbor_classify(spark, sf_dir):
    """filters.neighborclassifier candidate-mode semantics (snapshot):
    majority vote > k/2, smallest class wins ties
    (NeighborClassifierFilter.cpp:108-136)."""
    df = _docs_classed(spark, sf_dir)
    out = knn_op.neighbor_classifier(
        df, None, KNN_K, cell_size=KNN_CELL, id_col="doc_id"
    )
    return out.select("doc_id", "classification")


def q_radial_density(spark, sf_dir):
    """filters.radialdensity: neighbor count within radius / sphere volume."""
    df = _docs_geo(spark, sf_dir)
    out = knn_op.radial_density(df, radius=12.0, id_col="doc_id")
    return out.select(
        "doc_id", F.round(F.coalesce("radial_density", F.lit(0.0)), 9).alias("radial_density")
    )


# --- chipper ---------------------------------------------------------------

CHIP_CAP = 40


def q_chipper_2part(spark, sf_dir):
    """filters.chipper terminal 2-partition case: cumulate-and-lround cut
    in the wider (x) axis (ChipperFilter.cpp:210-233); SQL-checkable."""
    import math

    df = _docs_geo(spark, sf_dir)
    n = df.count()
    cap = math.ceil(n / 2)
    out = chipper_op.chip(df, cap, order_col="doc_id")
    return out.select("doc_id", "chip_id")


def q_chipper_counts(spark, sf_dir):
    """Full chipper recursion; chip sizes equal the partition-boundary
    diffs (analytic invariant of ChipperFilter::partition)."""
    df = _docs_geo(spark, sf_dir)
    out = chipper_op.chip(df, CHIP_CAP, order_col="doc_id")
    return out.groupBy("chip_id").agg(F.count("*").alias("n"))


def q_chipper_assign(spark, sf_dir):
    """Full chipper membership — SQL twin runs the BSP recursion itself
    as a recursive CTE (bit-exact); literal reimplementation oracle in
    tests/test_chipper.py."""
    df = _docs_geo(spark, sf_dir)
    out = chipper_op.chip(df, CHIP_CAP, order_col="doc_id")
    return out.select("doc_id", "chip_id", "chip_rank")


# --- rasterization ---------------------------------------------------------

RGRID = raster_op.GridSpec.create(-180.0, -90.0, 12, 6, 30.0)  # radius 30*sqrt2


def q_raster_cells(spark, sf_dir):
    """writers.gdal rasterization: per-cell count/min/max/mean/stdev/idw
    of n_chars over geocoded docs (GDALGrid.cpp:371-460 semantics)."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.col("n_chars").cast("double").alias("n_chars"),
        geo.geocode_lcg_x("doc_id").alias("x"),
        geo.geocode_lcg_y("doc_id").alias("y"),
    )
    cells = raster_op.rasterize(
        df, RGRID, "n_chars", order_col="doc_id"
    )
    return cells.select(
        "col", "row", "count",
        F.round("vmin", 6).alias("vmin"), F.round("vmax", 6).alias("vmax"),
        F.round("mean", 6).alias("mean"), F.round("stdev", 6).alias("stdev"),
        F.round("idw", 6).alias("idw"),
    )


def q_raster_pixels(spark, sf_dir):
    """readers.gdal inverse: one row per pixel, row-major, center coords."""
    return raster_op.raster_to_points(spark, RGRID).select("pid", "col", "row", "x", "y")


# --- remaining relational/spatial singles ------------------------------------

AFFINE = [0.5, 0.0, 0.0, 10.0,
          0.0, 2.0, 0.0, -5.0,
          0.0, 0.0, 1.0, 0.0,
          0.0, 0.0, 0.0, 1.0]


def q_reprojection(spark, sf_dir):
    """filters.reprojection: 4326 -> Web-Mercator, drop-on-failure
    (ReprojectionFilter.cpp:110-133; closed-form spherical Mercator)."""
    from pdal_spark.operators import reprojection as reproj_op

    out = reproj_op.reproject(_docs_geo(spark, sf_dir), "EPSG:4326", "EPSG:3857")
    return out.select(
        "doc_id", F.round("x", 4).alias("mx"), F.round("y", 4).alias("my")
    )


def q_reprojection_utm(spark, sf_dir):
    """filters.reprojection to WGS84 UTM zone 31N (EPSG:32631): the
    second registry pair (Snyder transverse-Mercator series, pure column
    math); rows beyond the series cutoff drop, like the reference's
    transform-failure drop."""
    from pdal_spark.operators import reprojection as reproj_op

    out = reproj_op.reproject(_docs_geo(spark, sf_dir), "EPSG:4326", "EPSG:32631")
    return out.select(
        "doc_id", F.round("x", 4).alias("ue"), F.round("y", 4).alias("un")
    )


def q_reprojection_lcc(spark, sf_dir):
    """filters.reprojection to RGF93 / Lambert-93 (EPSG:2154): the
    third registry family — Lambert conformal conic 2SP (Snyder
    15-1..15-10, ellipsoidal, pure column math; conformality proven by
    an independent scale-factor integration oracle in
    tests/test_reprojection.py)."""
    from pdal_spark.operators import reprojection as reproj_op

    out = reproj_op.reproject(_docs_geo(spark, sf_dir), "EPSG:4326", "EPSG:2154")
    return out.select(
        "doc_id", F.round("x", 4).alias("le"), F.round("y", 4).alias("ln")
    )


#: the reference's own projpipeline test operation
#: (test/unit/filters/ProjPipelineFilterTest.cpp:62), zone re-aimed at
#: the UTM 31N coords our forward query produces.
PIPE_UTM_INV = ("+proj=pipeline +step +inv +proj=utm +zone=31 "
                "+ellps=WGS84 +step +proj=unitconvert +xy_in=rad "
                "+xy_out=deg")

#: WGS84 -> ED50-style geocentric 3-parameter datum shift — the PROJ
#: cookbook's canonical helmert example — via cart/helmert/cart-inv.
PIPE_DATUM = ("+proj=pipeline "
              "+step +proj=unitconvert +xy_in=deg +xy_out=rad "
              "+step +proj=cart +ellps=WGS84 "
              "+step +proj=helmert +x=-87.0 +y=-96.0 +z=-120.0 "
              "+step +inv +proj=cart +ellps=intl "
              "+step +proj=unitconvert +xy_in=rad +xy_out=deg")


def q_reprojection_albers(spark, sf_dir):
    """filters.reprojection to NAD83 / Conus Albers (EPSG:5070): the
    equal-area family, resolved through the projpipeline step
    vocabulary (aea — Snyder 14-1..14-6); out-of-domain rows drop."""
    from pdal_spark.operators import reprojection as reproj_op

    out = reproj_op.reproject(
        _docs_geo(spark, sf_dir), "EPSG:4326", "EPSG:5070")
    return out.select(
        "doc_id", F.round("x", 3).alias("ae"), F.round("y", 3).alias("an")
    )


def q_projpipeline_utm_inv(spark, sf_dir):
    """filters.projpipeline parsing a REAL PROJ pipeline string — the
    reference's own test coord_op (ProjPipelineFilterTest.cpp:62:
    inverse UTM, then rad->deg), applied to forward-projected UTM 31N
    coordinates.  The string is parsed into closed-form steps executed
    as pure Column math (operators/projpipeline.py) — no PROJ, no UDF,
    plan stays in whole-stage codegen."""
    from pdal_spark.operators import projpipeline as pp_op
    from pdal_spark.operators import reprojection as reproj_op

    fwd = reproj_op.reproject(
        _docs_geo(spark, sf_dir), "EPSG:4326", "EPSG:32631")
    out = pp_op.projpipeline(fwd, PIPE_UTM_INV)
    return out.select(
        "doc_id", F.round("x", 6).alias("lon"), F.round("y", 6).alias("lat")
    )


#: polar stereographic, EPSG:3413-style (NSIDC north, variant B)
PIPE_POLAR = ("+proj=pipeline "
              "+step +proj=unitconvert +xy_in=deg +xy_out=rad "
              "+step +proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 "
              "+x_0=0 +y_0=0 +ellps=WGS84")


def q_projpipeline_polar(spark, sf_dir):
    """filters.projpipeline with a polar-stereographic coord_op (EPSG
    7-2 §3.4 variant B — the NSIDC sea-ice grid shape); rows south of
    the aspect's domain drop, like the reference's transform-failure
    drop."""
    from pdal_spark.operators import projpipeline as pp_op

    out = pp_op.projpipeline(_docs_geo(spark, sf_dir), PIPE_POLAR)
    return out.select(
        "doc_id", F.round("x", 3).alias("px"), F.round("y", 3).alias("py")
    )


def q_projpipeline_datum_shift(spark, sf_dir):
    """filters.projpipeline chaining cart -> helmert -> inverse cart
    (geocentric 3-parameter datum shift between two real ellipsoids,
    EPSG Guidance Note 7-2 formulas; Bowring closed-form inverse)."""
    from pdal_spark.operators import projpipeline as pp_op

    out = pp_op.projpipeline(_docs_geo(spark, sf_dir), PIPE_DATUM)
    return out.select(
        "doc_id", F.round("x", 6).alias("lon"), F.round("y", 6).alias("lat")
    )


def q_transformation(spark, sf_dir):
    """filters.transformation: 4x4 affine on (x, y)."""
    out = rel_op.transformation(_docs_geo(spark, sf_dir), AFFINE)
    return out.select("doc_id", F.round("x", 9).alias("x"), F.round("y", 9).alias("y"))


def _doclen_quantiles_oracle() -> str:
    from pdal_spark.operators.quantiles import grouped_quantiles_sql

    return grouped_quantiles_sql(
        "(SELECT doc_id, lang, length(text) AS n_chars FROM documents)",
        ["lang"],
        "n_chars",
    )


def q_doclen_quantiles(spark, sf_dir):
    """Exact per-language p25/p50/p75 document length (discrete type-1
    quantile at rank ceil(q*n), id tiebreak): one group exchange, a
    row_number/count window pair, inline rank-cut test — the summary
    that drives CCNet-style length-bucket cuts. Integers end to end."""
    from pdal_spark.operators.quantiles import grouped_quantiles

    df = _table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars")
    )
    return grouped_quantiles(df, ["lang"], "n_chars")


def q_bucketed_join(spark, sf_dir):
    """Storage-level co-location: docs + per-doc scores written as
    co-bucketed tables (murmur3 bucketBy, one sorted file per bucket),
    then sort-merge-joined with ZERO shuffle exchanges and zero sorts
    (asserted in tests/test_bucketing.py) — the write-once/join-many
    layout for 100 TB sidecar joins. Returns a per-lang rollup of the
    joined table; the oracle replays the derivation in plain SQL."""
    import tempfile

    from pdal_spark.bucketing import bucketed_join, write_bucketed

    docs = _table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars")
    )
    scores = docs.select("doc_id", (F.col("n_chars") % 97).alias("score"))
    write_bucketed(
        docs, "bj_docs", ["doc_id"], 8,
        path=tempfile.mkdtemp(prefix="bj_docs_"),
    )
    write_bucketed(
        scores, "bj_scores", ["doc_id"], 8,
        path=tempfile.mkdtemp(prefix="bj_scores_"),
    )
    j = bucketed_join(spark, "bj_docs", "bj_scores", ["doc_id"])
    return j.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("score").alias("sum_score"),
        F.sum("n_chars").alias("sum_chars"),
    )


def q_info_bounds(spark, sf_dir):
    """filters.info: bounds-grow + count summary."""
    return stats_op.info_bounds(_docs_geo(spark, sf_dir), ["x", "y"])


def q_voxel_center_nn(spark, sf_dir):
    """filters.voxelcenternearestneighbor: per-voxel point nearest the
    voxel center, arrival tiebreak."""
    out = rel_op.voxel_center_nearest_neighbor(
        _docs_geo(spark, sf_dir), cell=20.0, origin=(-180.0, -90.0, 0.0),
        order_col="doc_id",
    )
    return out.select("doc_id")


def q_iqr_keep(spark, sf_dir):
    """filters.iqr: keep within [Q1-1.5*IQR, Q3+1.5*IQR] (strict)."""
    out = rel_op.iqr_filter(_table(spark, sf_dir, "events"), "value", k=1.5)
    return out.select("event_id", "value")


def q_mad_keep(spark, sf_dir):
    """filters.mad: keep |v - median| < k * MAD."""
    out = rel_op.mad_filter(_table(spark, sf_dir, "events"), "value", k=2.0)
    return out.select("event_id", "value")


def q_nn_distance(spark, sf_dir):
    """filters.nndistance kth mode: distance to the k-th neighbor."""
    cell = _auto_cell(_n_docs(spark, sf_dir), 4)
    out = knn_op.nn_distance(
        _docs_geo(spark, sf_dir), k=4, mode="kth", id_col="doc_id",
        cell_size=cell, validate=True,
    )
    return out.select("doc_id", F.round("nn_distance", 6).alias("nn_distance"))


def q_outlier_radius(spark, sf_dir):
    """filters.outlier radius mode: inlier iff neighbors within r
    (self included) > min_k; outliers get Classification 7."""
    out = knn_op.outlier_radius(
        _docs_geo(spark, sf_dir), radius=10.0, min_k=2, id_col="doc_id"
    )
    return out.select(
        "doc_id", F.col("classification").cast("int").alias("classification")
    )


def q_outlier_stat(spark, sf_dir):
    """filters.outlier statistical mode: mean kNN distance threshold
    mean + m*stdev_samp (OutlierFilter.cpp:96-151)."""
    cell = _auto_cell(_n_docs(spark, sf_dir), 4)
    out = knn_op.outlier_statistical(
        _docs_geo(spark, sf_dir), mean_k=4, multiplier=1.5, cell_size=cell,
        id_col="doc_id", validate=True,
    )
    return out.select(
        "doc_id", F.col("classification").cast("int").alias("classification")
    )


def q_delta_nearest(spark, sf_dir):
    """kernels.delta: per src point, coordinate deltas vs nearest point
    of the other (odd-id) set."""
    pts = _docs_geo(spark, sf_dir)
    src = pts.filter(F.col("doc_id") % 2 == 0)
    cand = pts.filter(F.col("doc_id") % 2 == 1)
    cell = _auto_cell(_n_docs(spark, sf_dir) // 2, 1)
    out = knn_op.delta(src, cand, id_src="doc_id", id_cand="doc_id",
                       cell_size=cell, validate=True)
    return out.select(
        "doc_id",
        F.round("delta_x", 9).alias("delta_x"),
        F.round("delta_y", 9).alias("delta_y"),
        F.round("delta_dist", 9).alias("delta_dist"),
    )


# --- kNN feature family ------------------------------------------------------

FEAT_K = 8
LOF_MINPTS = 10
GEO_AREA = 360.0 * 180.0  # geocode plane extent


def _auto_cell(n_cand: int, k: int) -> float:
    """Grid cell for the bucketed kNN join: 2*sqrt(area*k/n) is ~3.5x the
    expected kth-NN radius of uniform points — measured max kth distances
    on the geocode tables sit at <=0.72x of this at every gated scale.
    Every user below passes validate=True, so a violation raises instead
    of silently returning wrong neighbors."""
    import math

    return 2.0 * math.sqrt(GEO_AREA * k / max(n_cand, 1))


def _docs_pts(spark, sf_dir):
    return _docs_geo(spark, sf_dir).select("doc_id", "x", "y")


def _n_docs(spark, sf_dir) -> int:
    # parquet metadata count — no scan
    return spark.read.parquet(f"{sf_dir}/documents.parquet").count()


def q_feat_lof(spark, sf_dir):
    """filters.lof: KDistance / LRD / LOF over minpts+1 self-inclusive
    neighbor lists (LOFFilter.cpp:61-133); cell-bucketed kNN join with
    runtime exactness validation (knn.py validate invariant)."""
    from pdal_spark.operators import features as feat_op

    cell = _auto_cell(_n_docs(spark, sf_dir), LOF_MINPTS + 1)
    out = feat_op.lof(_docs_pts(spark, sf_dir), minpts=LOF_MINPTS,
                      id_col="doc_id", cell_size=cell, validate=True)
    return out.select(
        "doc_id", F.round("kdistance", 6).alias("kdistance"),
        F.round("lrd", 6).alias("lrd"), F.round("lof", 6).alias("lof"),
    )


def q_feat_reciprocity(spark, sf_dir):
    """filters.reciprocity: % of k neighbors not reciprocating."""
    from pdal_spark.operators import features as feat_op

    cell = _auto_cell(_n_docs(spark, sf_dir), FEAT_K + 1)
    out = feat_op.reciprocity(_docs_pts(spark, sf_dir), k=FEAT_K,
                              id_col="doc_id", cell_size=cell, validate=True)
    return out.select("doc_id", F.round("reciprocity", 6).alias("reciprocity"))


def q_feat_eigenvalues(spark, sf_dir):
    """filters.eigenvalues — SQL twin via the decoupled-2x2 closed form
    (z = 0 input); numpy eigh oracle in tests/test_features.py."""
    from pdal_spark.operators import features as feat_op

    cell = _auto_cell(_n_docs(spark, sf_dir), FEAT_K)
    out = feat_op.eigenvalues(_docs_pts(spark, sf_dir), k=FEAT_K,
                              id_col="doc_id", cell_size=cell, validate=True)
    # + 0.0 normalizes IEEE -0.0 (the decoupled z eigenvalue rounds to
    # +-0 depending on eigh's tiny residual sign) for the hash compare
    return out.select(
        "doc_id",
        (F.round("eigenvalue0", 6) + F.lit(0.0)).alias("eigenvalue0"),
        (F.round("eigenvalue1", 6) + F.lit(0.0)).alias("eigenvalue1"),
        (F.round("eigenvalue2", 6) + F.lit(0.0)).alias("eigenvalue2"),
    )


def q_feat_covariance(spark, sf_dir):
    """filters.covariancefeatures Dimensionality set — SQL twin via the
    decoupled-2x2 closed form; numpy oracle in tests."""
    from pdal_spark.operators import features as feat_op

    cell = _auto_cell(_n_docs(spark, sf_dir), 11)
    out = feat_op.covariance_features(_docs_pts(spark, sf_dir), k=10,
                                      id_col="doc_id", cell_size=cell,
                                      validate=True)
    return out.select(
        "doc_id",
        F.round("linearity", 6).alias("linearity"),
        F.round("planarity", 6).alias("planarity"),
        F.round("scattering", 6).alias("scattering"),
        F.round("verticality", 6).alias("verticality"),
    )


def q_tindex(spark, sf_dir):
    """kernels.tindex analog: per-tile manifest (count + exact bbox; the
    hexer boundary WKT column is pytest-goldened — float-to-string
    formatting has no cross-engine twin)."""
    from pdal_spark.operators import tindex as tindex_op

    out = tindex_op.tindex(
        _docs_geo(spark, sf_dir), TILE_LEN, TILE_OX, TILE_OY, hex_edge=HEX_EDGE
    )
    return out.select(
        "tile_x", "tile_y", "n_points", "minx", "miny", "maxx", "maxy"
    )


def q_gltf_manifest(spark, sf_dir):
    """writers.gltf analog (GltfWriter.cpp:49-52, 118-141): one GLB per
    tile, encoded + written inside each cogrouped task (FlexWriter-'#'
    shape). The manifest's byte_length is measured from the ACTUAL
    bytes written, so the oracle's closed-form size
    (5028 + 12*n_vertices + 12*n_faces) cross-checks the binary layout
    — 12-byte header, 8+5000 JSON chunk, 8-byte BIN header, uint32
    indices, float32 vertices — not just the counts."""
    import tempfile

    from pdal_spark.operators import gltf as gltf_op

    pts = (
        splitter_op.split(_docs_geo(spark, sf_dir), TILE_LEN, TILE_OX, TILE_OY)
        .withColumn(
            "tile_id", F.col("tile_x") * F.lit(100000) + F.col("tile_y")
        )
        .withColumn("z", F.lit(0.0))
    )
    faces = gltf_op.soup_faces(pts, tile_col="tile_id", id_col="doc_id")
    man = gltf_op.write_gltf_tiles(
        pts, faces, tempfile.mkdtemp(prefix="glb_"), tile_col="tile_id",
        id_col="doc_id",
    )
    return man.select(
        F.col("tile").alias("tile_id"), "n_vertices", "n_faces",
        "byte_length",
    )


def q_las_roundtrip(spark, sf_dir):
    """readers.las + writers.las (io/LasReader.cpp, io/LasWriter.cpp):
    encode the geocoded pages to an uncompressed LAS 1.2 point-format-1
    file (executor-side blocks, driver assembles header), then decode it
    back with the chunk-parallel reader. The oracle replicates the
    writer's quantization law exactly — XForm::toScaled
    (pdal_types.hpp:123) + sround half-away-from-zero (Utils.hpp:152)
    + int32 store, de-quantized ``i * scale`` on read — so the returned
    coordinates are the LAS-file doubles, not the inputs. doc_id rides
    the GpsTime dim (double-exact below 2^53)."""
    import tempfile

    from pdal_spark.formats import las as las_fmt

    df = _docs_geo(spark, sf_dir).select(
        "x",
        "y",
        ((F.col("doc_id") * 7919) % 1000 * 0.05).alias("z"),
        (F.col("doc_id") % 65536).cast("int").alias("intensity"),
        ((F.col("doc_id") % 5) + 1).cast("int").alias("return_number"),
        F.lit(5).cast("int").alias("number_of_returns"),
        F.col("doc_id").cast("double").alias("gps_time"),
    )
    path = tempfile.mktemp(prefix="las_rt_", suffix=".las")
    las_fmt.write_las(df, path, fmt=1, scales=(1e-6, 1e-6, 1e-6))
    out = las_fmt.read_las(spark, path, chunk_points=4096)
    return out.select(
        F.col("gps_time").cast("long").alias("doc_id"),
        "x",
        "y",
        "z",
        "intensity",
        "return_number",
    )


def q_las_laz_roundtrip(spark, sf_dir):
    """writers.las(compression=laszip) + readers.las on .laz: encode the
    geocoded pages to a LASzip file (chunk-parallel entropy encode —
    exact global chunk ids via range-partitioned rank, one laszip chunk
    per task) then decode it back with the chunk-parallel LAZ reader
    (io/LasWriter.cpp compression branch + io/LasReader.cpp; the codec
    itself is the from-scratch formats/laz.py, byte-identical to real
    laszip output on the reference fixtures). Same quantization oracle
    as las_roundtrip — compression is lossless, so the compressed
    round-trip must reproduce the identical doubles."""
    import tempfile

    from pdal_spark.formats import las as las_fmt

    df = _docs_geo(spark, sf_dir).select(
        "x",
        "y",
        ((F.col("doc_id") * 7919) % 1000 * 0.05).alias("z"),
        (F.col("doc_id") % 65536).cast("int").alias("intensity"),
        ((F.col("doc_id") % 5) + 1).cast("int").alias("return_number"),
        F.lit(5).cast("int").alias("number_of_returns"),
        F.col("doc_id").cast("double").alias("gps_time"),
    )
    path = tempfile.mktemp(prefix="las_laz_rt_", suffix=".laz")
    las_fmt.write_las(
        df, path, fmt=1, scales=(1e-6, 1e-6, 1e-6),
        compression=True, chunk_size=128, order_by=["gps_time"],
    )
    out = las_fmt.read_las(spark, path)
    return out.select(
        F.col("gps_time").cast("long").alias("doc_id"),
        "x",
        "y",
        "z",
        "intensity",
        "return_number",
    )


def q_las_laz_roundtrip_var(spark, sf_dir):
    """Variable-chunking laszip write (order_by=None — chunk_size U32,
    one chunk per Arrow batch, NO shuffle in the encode plan) -> chunk-
    parallel read. Same quantization oracle: the row SET is chunking-
    invariant, which is exactly what this query pins."""
    import tempfile

    from pdal_spark.formats import las as las_fmt

    df = _docs_geo(spark, sf_dir).select(
        "x",
        "y",
        ((F.col("doc_id") * 7919) % 1000 * 0.05).alias("z"),
        (F.col("doc_id") % 65536).cast("int").alias("intensity"),
        ((F.col("doc_id") % 5) + 1).cast("int").alias("return_number"),
        F.lit(5).cast("int").alias("number_of_returns"),
        F.col("doc_id").cast("double").alias("gps_time"),
    ).repartition(8)
    path = tempfile.mktemp(prefix="las_lazv_rt_", suffix=".laz")
    las_fmt.write_las(
        df, path, fmt=1, scales=(1e-6, 1e-6, 1e-6), compression=True,
    )
    out = las_fmt.read_las(spark, path)
    return out.select(
        F.col("gps_time").cast("long").alias("doc_id"),
        "x",
        "y",
        "z",
        "intensity",
        "return_number",
    )


def q_las_laz14_roundtrip(spark, sf_dir):
    """LAS 1.4 / LAZ v3 layered round trip (compressor 3,
    formats/laz14.py): geocoded pages as point format 7 — 16-slot
    returns, scanner channels 0-3 (exercising the per-channel context
    machinery), classification bytes, RGB — chunk-parallel laszip v3
    ENCODE then chunk-parallel layered DECODE. Same quantization
    oracle family as las_laz_roundtrip; the 1.4-only columns
    (scan_channel, classification, red) are exact integers."""
    import tempfile

    from pdal_spark.formats import las as las_fmt

    df = _docs_geo(spark, sf_dir).select(
        "x",
        "y",
        ((F.col("doc_id") * 7919) % 1000 * 0.05).alias("z"),
        (F.col("doc_id") % 65536).cast("int").alias("intensity"),
        ((F.col("doc_id") % 9) + 1).cast("int").alias("return_number"),
        F.lit(9).cast("int").alias("number_of_returns"),
        (F.col("doc_id") % 4).cast("int").alias("scan_channel"),
        (F.col("doc_id") % 256).cast("int").alias("classification"),
        ((F.col("doc_id") * 31) % 65536).cast("int").alias("red"),
        ((F.col("doc_id") * 37) % 65536).cast("int").alias("green"),
        ((F.col("doc_id") * 41) % 65536).cast("int").alias("blue"),
        F.col("doc_id").cast("double").alias("gps_time"),
    )
    path = tempfile.mktemp(prefix="las_laz14_rt_", suffix=".laz")
    las_fmt.write_las(
        df, path, fmt=7, scales=(1e-6, 1e-6, 1e-6),
        compression=True, chunk_size=128, order_by=["gps_time"],
    )
    out = las_fmt.read_las(spark, path)
    return out.select(
        F.col("gps_time").cast("long").alias("doc_id"),
        "x",
        "y",
        "z",
        "intensity",
        "return_number",
        "scan_channel",
        "classification",
        "red",
    )


def q_ept_query(spark, sf_dir):
    """readers.ept + Entwine-style build (io/EptReader.cpp): build a
    binary-dataType EPT octree from the geocoded pages (distributed
    capacity-subsample build), then run a BOUNDS query — the octree
    prunes whole nodes via the hierarchy before any data task runs —
    and exact-filter on the decoded (quantized) coordinates. The oracle
    replicates the writer's floor(+0.5) quantization against the same
    min-offsets, so the surviving doc_id set is bit-comparable."""
    import tempfile

    from pdal_spark.formats import ept as ept_fmt

    pts = _docs_z(spark, sf_dir).withColumn(
        "did", F.col("doc_id").cast("double")
    ).select("x", "y", "z", "did")
    root = tempfile.mkdtemp(prefix="ept_q_") + "/ds"
    ept_fmt.write_ept(pts, root, node_capacity=512, max_depth=6)
    qb = (-120.0, -60.0, 0.0, 120.0, 60.0, 400.0)
    out = ept_fmt.read_ept(spark, root, bounds=qb)
    return (
        out.filter(
            (F.col("x") >= qb[0]) & (F.col("x") <= qb[3])
            & (F.col("y") >= qb[1]) & (F.col("y") <= qb[4])
            & (F.col("z") >= qb[2]) & (F.col("z") <= qb[5])
        )
        .select(F.col("did").cast("long").alias("doc_id"), "x", "y")
    )


def _ept_datatype_query(spark, sf_dir, data_type):
    pts = _docs_z(spark, sf_dir).withColumn(
        "did", F.col("doc_id").cast("double")
    ).select("x", "y", "z", "did")
    import tempfile

    from pdal_spark.formats import ept as ept_fmt

    root = tempfile.mkdtemp(prefix=f"ept_{data_type[:3]}_") + "/ds"
    ept_fmt.write_ept(pts, root, node_capacity=512, max_depth=6,
                      data_type=data_type)
    qb = (-120.0, -60.0, 0.0, 120.0, 60.0, 400.0)
    out = ept_fmt.read_ept(spark, root, bounds=qb)
    return (
        out.filter(
            (F.col("x") >= qb[0]) & (F.col("x") <= qb[3])
            & (F.col("y") >= qb[1]) & (F.col("y") <= qb[4])
            & (F.col("z") >= qb[2]) & (F.col("z") <= qb[5])
        )
        .select(F.col("did").cast("long").alias("doc_id"), "x", "y")
    )


def q_ept_zstd_query(spark, sf_dir):
    """readers.ept over a ZSTANDARD dataset: the same build + pruned
    bounds query as ept_query, but every node payload passes through
    the from-scratch RFC 8878 zstd codec (formats/zstdcodec.py — real
    LZ + Huffman + FSE compression on write, tiered decode on read).
    Same oracle: node compression is transparent to the row set."""
    return _ept_datatype_query(spark, sf_dir, "zstandard")


def q_ept_laszip_query(spark, sf_dir):
    """readers.ept over a LASZIP dataset — Entwine's default dataType:
    every node is a standalone .laz (fmt 0 + BYTE-v2 extras for the
    non-LAS dimension) written and read by the from-scratch laszip
    codec (formats/laz.py). Same oracle as ept_query: the node codec
    is transparent to the row set."""
    return _ept_datatype_query(spark, sf_dir, "laszip")


def q_ept_polygon_query(spark, sf_dir):
    """readers.ept polygon pushdown (io/EptReader.cpp:164 option;
    :664-668 node pruning; :856-867 per-point filter): nodes disjoint
    from the polygon are pruned at the metadata level, then the exact
    2-D even-odd PnP runs as a relational crop in codegen. Oracle: the
    EPT quantization law + the same PnP in SQL. Golden parity with the
    reference's own boundedCrop test (47 pts) is pinned in
    tests/test_ept.py."""
    import tempfile

    from pdal_spark.formats import ept as ept_fmt

    pts = _docs_z(spark, sf_dir).withColumn(
        "did", F.col("doc_id").cast("double")
    ).select("x", "y", "z", "did")
    root = tempfile.mkdtemp(prefix="ept_pg_") + "/ds"
    ept_fmt.write_ept(pts, root, node_capacity=512, max_depth=6)
    out = ept_fmt.read_ept(spark, root, polygon=[POLY])
    return out.select(
        F.col("did").cast("long").alias("doc_id"), "x", "y")


def q_ept_addon(spark, sf_dir):
    """writers.ept_addon (io/EptAddonWriter.cpp): build an EPT octree,
    read it back with the EptNodeId/EptPointId pair, write a sidecar
    dimension for ONLY the x>0 subset (exercising the reference's
    zero-initialized node buffers), then merge the addon node-locally
    on re-read. The oracle replicates the builder's quantization to
    decide which docs carry a value and which read back the zero
    fill."""
    import tempfile

    from pdal_spark.formats import ept as ept_fmt

    pts = _docs_z(spark, sf_dir).withColumn(
        "did", F.col("doc_id").cast("double")
    ).select("x", "y", "z", "did")
    root = tempfile.mkdtemp(prefix="ept_a_") + "/ds"
    ept_fmt.write_ept(pts, root, node_capacity=512, max_depth=6)
    base = ept_fmt.read_ept(spark, root, with_node_ids=True)
    tagged = base.filter(F.col("x") > 0).withColumn(
        "hag_addon", F.col("did") * 2 + 1
    )
    aroot = root + "_addon"
    ept_fmt.write_ept_addon(tagged, root, aroot, "hag_addon")
    merged = ept_fmt.read_ept(spark, root, addons={"hag_addon": aroot})
    return merged.select(
        F.col("did").cast("long").alias("doc_id"), "hag_addon"
    )


def q_las_tiles(spark, sf_dir):
    """FlexWriter '#' analog over LAS (FlexWriter.hpp): one .las file per
    splitter tile, written inside the owning task (applyInPandas), plus
    a tindex-style manifest. The oracle recomputes per-tile counts and
    exact double bounds; header fields of every written file are checked
    against the manifest in tests."""
    import tempfile

    from pdal_spark.formats import las as las_fmt

    pts = (
        splitter_op.split(_docs_geo(spark, sf_dir), TILE_LEN, TILE_OX, TILE_OY)
        .withColumn("z", F.lit(0.0))
        .withColumn(
            "tile",
            F.concat_ws("_", F.col("tile_x"), F.col("tile_y")),
        )
    )
    man = las_fmt.write_las_parts(
        pts, tempfile.mkdtemp(prefix="las_tiles_"), by="tile", fmt=0
    )
    return man.select("group", "count", "minx", "miny", "maxx", "maxy")


TINDEX_BBOX = (-60.0, -40.0, 100.0, 55.0)


def q_tindex_read(spark, sf_dir):
    """readers.tindex (io/TIndexReader.cpp): write one LAS per splitter
    tile + the bbox-feature index layer, then answer a bbox query by
    pruning the index and dispatching ONLY the surviving files to the
    chunk-parallel LAS reader. Returns the decoded (quantized) points
    of every intersecting tile; the oracle replicates the tile grid,
    the per-tile point-bbox intersection test, and the LAS sround
    quantization."""
    import tempfile

    from pdal_spark.formats import las as las_fmt
    from pdal_spark.operators import tindex as tindex_op

    pts = (
        splitter_op.split(_docs_geo(spark, sf_dir), TILE_LEN, TILE_OX, TILE_OY)
        .withColumn("z", F.lit(0.0))
        .withColumn("gps_time", F.col("doc_id").cast("double"))
        .withColumn(
            "tile", F.concat_ws("_", F.col("tile_x"), F.col("tile_y"))
        )
        .select("x", "y", "z", "gps_time", "tile")
    )
    d = tempfile.mkdtemp(prefix="tindex_read_")
    man = las_fmt.write_las_parts(pts, d, by="tile", fmt=1)
    layer = d + "_layer"
    tindex_op.write_file_tindex(man, layer)
    out, _locs = tindex_op.read_tindex(
        spark, layer, TINDEX_BBOX,
        path_for=lambda loc: f"{d}/{loc}.las",
        reader=las_fmt.read_las,
    )
    return out.select(
        F.col("gps_time").cast("long").alias("doc_id"), "x", "y"
    )


def q_delaunay_mesh(spark, sf_dir):
    """filters.delaunay analog (DelaunayFilter.cpp:61-110): tiled 2D
    Delaunay with halo duplication, hull-band driver completion, and a
    runtime exactness certificate (robust-incircle verification + the
    Euler face-count identity 2n-2-h). The SQL twin is an INDEPENDENT
    Bowyer-Watson in a DuckDB recursive CTE (DT uniqueness makes the
    face sets comparable); pytest carries the reference 6-point golden
    plus tiled==single equivalence."""
    from pdal_spark.operators import mesh as mesh_op

    return mesh_op.delaunay(
        _docs_geo(spark, sf_dir), id_col="doc_id", mode="tiled",
        tile_len=45.0, halo=45.0, origin=(-180.0, -90.0),
    )


def q_hag_delaunay(spark, sf_dir):
    """filters.hag delaunay mode (HAGFilter.cpp:102-146, 294-296): HAG
    against the global ground TIN — tiled delaunay + tile-bucketed
    point-in-triangle join + codegen barycentric interpolation; nearest
    ground z outside the hull. SQL twin: ground DT via the recursive-CTE
    Bowyer-Watson + identical barycentric column formulas; the pytest
    oracle is an exact planar-surface invariant."""
    from pdal_spark.operators import mesh as mesh_op

    df = _docs_geo(spark, sf_dir).join(
        _table(spark, sf_dir, "documents").select(
            "doc_id", F.col("n_chars").cast("double").alias("z")
        ),
        "doc_id",
    ).withColumn(
        "classification", F.when(F.col("doc_id") % 3 == 0, 2).otherwise(1)
    )
    out = mesh_op.hag_delaunay(
        df, tile_len=45.0, halo=45.0, origin=(-180.0, -90.0),
        id_col="doc_id",
    )
    return out.select(
        "doc_id", F.round("height_above_ground", 6).alias("hag")
    )


def q_ogr_multipoint(spark, sf_dir):
    """writers.ogr analog (OGRWriter.cpp:115-184): MULTIPOINT Z feature
    per 4 consecutive docs in arrival order (dense doc_id), trailing
    partial group emitted — the vector-feature export product."""
    from pdal_spark.operators import ogr as ogr_op

    df = _table(spark, sf_dir, "documents").select(
        "doc_id",
        geo.geocode_lcg_x("doc_id").alias("x"),
        geo.geocode_lcg_y("doc_id").alias("y"),
        F.col("n_chars").cast("double").alias("z"),
    )
    return ogr_op.ogr_features(
        df, z="z", multicount=4, order_col="doc_id", dense_index=True
    )


def q_voxel_centroid_nn(spark, sf_dir):
    """filters.voxelcentroidnearestneighbor: per-voxel survivor nearest
    the centroid (center for 2-point voxels), reference tie rules."""
    out = rel_op.voxel_centroid_nearest_neighbor(
        _docs_geo(spark, sf_dir), cell=20.0, origin=(-180.0, -90.0, 0.0),
        order_col="doc_id",
    )
    return out.select("doc_id")


def q_plane_fit(spark, sf_dir):
    """filters.planefit — SQL twin via the analytic smallest-eigenvector
    (cross products of C - l0*I rows); numpy oracle in
    tests/test_features.py."""
    from pdal_spark.operators import features as feat_op

    cell = _auto_cell(_n_docs(spark, sf_dir), FEAT_K)
    out = feat_op.plane_fit(_docs_z(spark, sf_dir), knn=FEAT_K, id_col="doc_id",
                            z="z", cell_size=cell, validate=True)
    return out.select("doc_id", F.round("plane_fit", 6).alias("plane_fit"))


def q_icp_register(spark, sf_dir):
    """filters.icp — SQL twin unrolls the two iterations this data runs
    (exact 1-NN + Umeyama via Newton polar decomposition); the literal
    reference-loop oracle lives in tests/test_icp.py.

    Fixed cloud = geocoded documents; moving cloud = the same points
    pushed through a known small rigid transform. ICP must recover the
    inverse; we return the re-registered coordinates."""
    from pdal_spark.operators import icp as icp_op

    pts = _docs_z(spark, sf_dir)
    # deterministic "scan misalignment": rotate 1 deg about z, shift
    moving = rel_op.transformation(
        pts,
        [0.9998476951563913, -0.01745240643728351, 0.0, 0.7,
         0.01745240643728351, 0.9998476951563913, 0.0, -0.4,
         0.0, 0.0, 1.0, 0.25,
         0.0, 0.0, 0.0, 1.0],
    )
    out, _meta = icp_op.icp(
        pts, moving, max_iter=5, id_col="doc_id", compute_fitness=False,
    )
    return out.select(
        "doc_id",
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        F.round("z", 6).alias("z"),
    )


def q_miniball(spark, sf_dir):
    """filters.miniball — SQL twin enumerates every <=4-point support set
    with the engine's sphere formulas (the SEB is unique); exhaustive
    subset oracle in tests/test_features.py."""
    from pdal_spark.operators import features as feat_op

    cell = _auto_cell(_n_docs(spark, sf_dir), FEAT_K)
    out = feat_op.miniball(_docs_z(spark, sf_dir), knn=FEAT_K, id_col="doc_id",
                           z="z", cell_size=cell, validate=True)
    return out.select("doc_id", F.round("miniball", 6).alias("miniball"))


# --- pointcloud filter layer -------------------------------------------------

ELM_CELL, ELM_THR = 30.0, 40.0
RAMP = [(0, 0, 255), (0, 255, 0), (255, 0, 0), (255, 255, 0)]
OVL_P1 = crop_op.Polygon(exterior=((-200.0, -100.0), (200.0, -100.0),
                                   (200.0, 100.0), (-200.0, 100.0)))
OVL_P2 = crop_op.Polygon(exterior=((0.0, -100.0), (200.0, -100.0),
                                   (200.0, 100.0), (0.0, 100.0)))
MORTON_BOUNDS = (-180.0, -90.0, 180.0, 90.0)


def _docs_z(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.col("n_chars").cast("double").alias("z"),
        geo.geocode_lcg_x("doc_id").alias("x"),
        geo.geocode_lcg_y("doc_id").alias("y"),
    )


def q_elm_noise(spark, sf_dir):
    """filters.elm: low-outlier classification per grid cell
    (ELMFilter.cpp:76-136, incl. the floor-before-divide cell formula)."""
    from pdal_spark.operators import pointcloud as pc_op

    out = pc_op.elm(_docs_z(spark, sf_dir), cell=ELM_CELL, threshold=ELM_THR,
                    origin=(-180.0, -90.0), order_col="doc_id")
    return out.select("doc_id", F.col("classification").cast("int").alias("classification"))


def q_scanline_views(spark, sf_dir):
    """filters.separatescanline: view per N flagged rows (running sum)."""
    from pdal_spark.operators import pointcloud as pc_op

    df = _table(spark, sf_dir, "events").withColumn(
        "edge_of_flight_line", (F.col("event_id") % 7 == 6).cast("int")
    )
    out = pc_op.separate_scan_line(df, groupby=2, order_col="event_id")
    return out.select("event_id", "view_id")


def q_colorinterp(spark, sf_dir):
    """filters.colorinterp: ramp lookup with [min,max) skip semantics
    (ColorinterpFilter.cpp:268-288)."""
    from pdal_spark.operators import pointcloud as pc_op

    df = _table(spark, sf_dir, "events")
    out = pc_op.colorinterp(df, RAMP, "value", vmin=0.0, vmax=100.0)
    return out.select("event_id", "red", "green", "blue")


def q_overlay(spark, sf_dir):
    """filters.overlay: polygon attribute assignment, LAST match wins
    (OverlayFilter.cpp:150-157)."""
    from pdal_spark.operators import pointcloud as pc_op

    out = pc_op.overlay(_docs_geo(spark, sf_dir), [(OVL_P1, 10), (OVL_P2, 20)], "ovl")
    return out.select("doc_id", F.col("ovl").cast("int").alias("ovl"))


def q_morton_forward(spark, sf_dir):
    """filters.mortonorder: bit-interleaved Z-order key + rank
    (MortonOrderFilter.cpp less_msb total order)."""
    from pdal_spark.operators import pointcloud as pc_op

    out = pc_op.morton_order(_docs_geo(spark, sf_dir), bounds=MORTON_BOUNDS,
                             order_col="doc_id")
    return out.select("doc_id", "morton_key", "morton_rank")


def q_hilbert_key(spark, sf_dir):
    """Hilbert space-filling-curve key (the layout-clustering twin of
    q_morton_forward — strictly better locality for the catalog's
    OPTIMIZE rewrite): 4-state DFA over the 32-bit morton code, one
    1024-entry array lookup per byte, pure codegen."""
    from pdal_spark.operators import layout as layout_op

    out = _docs_geo(spark, sf_dir).withColumn(
        "hilbert_key",
        layout_op.hilbert_key("x", "y", MORTON_BOUNDS),
    )
    return out.select("doc_id", "hilbert_key")


def q_layout_optimize(spark, sf_dir):
    """Catalog OPTIMIZE (lakehouse ZORDER-rewrite analog): ingest the
    geocoded docs arrival-ordered into the snapshot catalog, rewrite
    clustered by Hilbert key (one repartitionByRange exchange), then
    answer a bbox query through the footer-stats-pruned read. Returns
    the query rows — the oracle is the plain filter, proving the
    pruned clustered read is lossless."""
    import tempfile

    from pdal_spark.catalog import SnapshotTable
    from pdal_spark.operators import layout as layout_op

    cat = SnapshotTable(
        spark, tempfile.mkdtemp(prefix="layout_opt_"), stats_cols=("x", "y")
    )
    cat.append(_docs_geo(spark, sf_dir).repartition(8))
    layout_op.optimize_catalog(cat, MORTON_BOUNDS, n_files=8)
    minx, miny, maxx, maxy = 10.0, 10.0, 60.0, 40.0
    out = cat.read(bbox=(minx, miny, maxx, maxy)).filter(
        (F.col("x") >= minx) & (F.col("x") <= maxx)
        & (F.col("y") >= miny) & (F.col("y") <= maxy)
    )
    return out.select(
        "doc_id", F.round("x", 9).alias("x"), F.round("y", 9).alias("y")
    )


def q_gk_quantiles(spark, sf_dir):
    """Mergeable eps-approximate quantile summary (GK-style) over
    n_chars: one map-only pass emits <= 2/eps+1 exact-rank picks per
    partition, driver merges the tiny summaries. The query returns the
    CERTIFICATE, re-proved by an exact distributed recount of each
    answer's rank (one aggregate pass) — so the oracle's constant
    `true` columns are backed by engine-side exact arithmetic, the
    word_topk pattern. (The quantile values themselves are valid for
    ANY partition layout only within the eps band, hence not
    hash-compared.)"""
    from pdal_spark.operators.gksketch import gk_quantiles

    eps, qs = 0.01, (0.25, 0.5, 0.9, 0.99)
    df = _table(spark, sf_dir, "documents").repartition(8, "doc_id")
    res = gk_quantiles(df, "n_chars", qs=qs, eps=eps)
    n = res[0]["n"]
    lt = df.agg(
        *[
            F.sum((F.col("n_chars") < r["value"]).cast("long")).alias(f"lt{i}")
            for i, r in enumerate(res)
        ],
        *[
            F.sum((F.col("n_chars") <= r["value"]).cast("long")).alias(f"le{i}")
            for i, r in enumerate(res)
        ],
    ).collect()[0]
    rows = []
    for i, r in enumerate(res):
        target = math.ceil(r["q"] * n)
        exact_ok = (
            lt[f"lt{i}"] + 1 - eps * n <= target <= lt[f"le{i}"] + eps * n
        )
        rows.append((r["q"], r["n"], bool(r["eps_bound_ok"]), bool(exact_ok)))
    return spark.createDataFrame(
        rows, "q double, n long, certified boolean, exact_ok boolean"
    )


def q_hag(spark, sf_dir):
    """filters.hag: height above ground via 1/d^2 IDW over 3 nearest
    ground points (HAGFilter.cpp:150-170)."""
    from pdal_spark.operators import pointcloud as pc_op

    df = _docs_z(spark, sf_dir).withColumn(
        "classification", F.when(F.col("doc_id") % 3 == 0, 2).otherwise(1)
    )
    cell = _auto_cell(_n_docs(spark, sf_dir) // 3, 3)  # ground = 1/3 of docs
    out = pc_op.hag(df, count=3, id_col="doc_id", cell_size=cell, validate=True)
    return out.select("doc_id", F.round("height_above_ground", 6).alias("hag"))


def q_ground_smrf(spark, sf_dir):
    """filters.smrf ground segmentation — SQL twin mirrors every grid
    stage (_smrf_oracle_sql); literal + semantic oracles in
    tests/test_ground.py. Terrain = tilted plane from the geocode x,
    'buildings' = deterministic id-keyed z spikes."""
    from pdal_spark.operators import ground as ground_op

    df = _docs_geo(spark, sf_dir).withColumn(
        "z",
        0.05 * (F.col("x") + 180.0)
        + F.when(F.col("doc_id") % 5 == 0, 12.0).otherwise(0.0),
    )
    out = ground_op.smrf(
        df, cell=15.0, slope=0.05, threshold=0.5, window=30.0, scalar=1.25,
        bounds=(-180.0, -90.0, 180.0, 90.0),
    )
    return out.select(
        "doc_id", F.col("classification").cast("int").alias("classification")
    )


def q_ground_pmf(spark, sf_dir):
    """filters.pmf — SQL twin unrolls the progressive openings as
    L1-ball min/max joins (_pmf_oracle_sql); literal sequential-loop
    oracle in tests/test_ground.py."""
    from pdal_spark.operators import ground as ground_op

    df = _docs_geo(spark, sf_dir).withColumn(
        "z",
        F.when(F.col("doc_id") % 5 == 0, 12.0).otherwise(0.0),
    )
    out = ground_op.pmf(
        df, cell=15.0, max_window=60.0, slope=0.05, initial_distance=0.5,
        max_distance=3.0, bounds=(-180.0, -90.0, 180.0, 90.0),
    )
    return out.select(
        "doc_id", F.col("classification").cast("int").alias("classification")
    )


def q_skewness_balance(spark, sf_dir):
    """filters.skewnessbalancing: ground = everything before the LAST
    <=0 -> >0 running-skewness crossing in ascending-z order; prefix
    moments computed distributed (ordered.prefix_sums)."""
    from pdal_spark.operators import ground as ground_op

    df = _table(spark, sf_dir, "events").select("event_id", "value")
    out = ground_op.skewness_balancing(df, z="value", arrival_col="event_id")
    return out.select(
        "event_id", F.col("classification").cast("int").alias("classification")
    )


def q_feat_normal(spark, sf_dir):
    """filters.normal — SQL twin via the analytic smallest-eigenvector +
    always-up flip; numpy oracle in tests/test_features.py."""
    from pdal_spark.operators import features as feat_op

    cell = _auto_cell(_n_docs(spark, sf_dir), FEAT_K)
    out = feat_op.normal(_docs_z(spark, sf_dir), k=FEAT_K, id_col="doc_id",
                         z="z", cell_size=cell, validate=True)
    # + 0.0 folds IEEE -0.0 (and the sign of sub-rounding noise at
    # zero) to +0.0 for the hash compare
    return out.select(
        "doc_id",
        (F.round("normal_x", 6) + F.lit(0.0)).alias("normal_x"),
        (F.round("normal_y", 6) + F.lit(0.0)).alias("normal_y"),
        (F.round("normal_z", 6) + F.lit(0.0)).alias("normal_z"),
        (F.round("curvature", 6) + F.lit(0.0)).alias("curvature"),
    )


def q_feat_coplanar(spark, sf_dir):
    """filters.approximatecoplanar — SQL twin via the symmetric-3x3
    trigonometric eigenvalue closed form; numpy oracle in tests."""
    from pdal_spark.operators import features as feat_op

    cell = _auto_cell(_n_docs(spark, sf_dir), FEAT_K)
    out = feat_op.approximate_coplanar(_docs_z(spark, sf_dir), k=FEAT_K,
                                       id_col="doc_id", z="z",
                                       cell_size=cell, validate=True)
    return out.select("doc_id", F.col("coplanar").cast("int").alias("coplanar"))


def q_feat_rank(spark, sf_dir):
    """filters.estimaterank — SQL twin via the symmetric-3x3 trig
    eigenvalue closed form; numpy oracle in tests."""
    from pdal_spark.operators import features as feat_op

    cell = _auto_cell(_n_docs(spark, sf_dir), FEAT_K)
    out = feat_op.estimate_rank(_docs_z(spark, sf_dir), k=FEAT_K,
                                id_col="doc_id", z="z",
                                cell_size=cell, validate=True)
    return out.select("doc_id", F.col("rank").cast("int").alias("est_rank"))


def q_fps(spark, sf_dir):
    """filters.fps — farthest point sampling; SQL twin is a list-state
    recursive CTE (bit-exact greedy replication); literal numpy oracle
    in tests/test_pointcloud.py."""
    from pdal_spark.operators import pointcloud as pc_op

    out = pc_op.fps(_docs_geo(spark, sf_dir), count=50, order_col="doc_id")
    return out.select("doc_id", "fps_order")


def q_dem_keep(spark, sf_dir):
    """filters.dem: keep rows whose z is within [band+lo, band+hi] of
    the rasterized idw band at the row's cell (DEMFilter.cpp:83-130)."""
    from pdal_spark.operators import pointcloud as pc_op

    df = _docs_z(spark, sf_dir)
    cells = raster_op.rasterize(df.withColumnRenamed("z", "n_chars"), RGRID,
                                "n_chars", order_col="doc_id")
    out = pc_op.dem_filter(df, cells, RGRID, band="idw",
                           limits=(-150.0, 150.0))
    return out.select("doc_id")


def q_colorization(spark, sf_dir):
    """filters.colorization: sample a raster band at each point's cell,
    write band*scale (ColorizationFilter.cpp:204-226)."""
    from pdal_spark.operators import pointcloud as pc_op

    df = _docs_z(spark, sf_dir)
    cells = raster_op.rasterize(df.withColumnRenamed("z", "n_chars"), RGRID,
                                "n_chars", order_col="doc_id")
    out = pc_op.colorization(df, cells, RGRID, [("idw", "idw_sample", 0.01)])
    return out.select(
        "doc_id", F.round("idw_sample", 6).alias("idw_sample")
    )


def q_returns(spark, sf_dir):
    """filters.returns: first/last/intermediate/only labeling from
    synthesized ReturnNumber/NumberOfReturns."""
    df = _table(spark, sf_dir, "events").select(
        "event_id",
        (F.col("event_id") % 3 + 1).cast("int").alias("ReturnNumber"),
        (F.when(F.col("event_id") % 5 == 0, 1).otherwise(3))
        .cast("int").alias("NumberOfReturns"),
    )
    out = rel_op.returns_filter(df, ["first", "only"])
    return out.select("event_id", "return_group")


def q_cluster_sizes(spark, sf_dir):
    """filters.cluster — SQL twin: transitive closure by recursive CTE,
    min-member roots, kept clusters numbered by root; literal BFS
    oracle in tests/test_pointcloud.py."""
    from pdal_spark.operators import pointcloud as pc_op

    out = pc_op.cluster(_docs_geo(spark, sf_dir), tolerance=12.0,
                        min_points=2, id_col="doc_id")
    return out.groupBy("cluster_id").agg(F.count("*").alias("n"))


def q_sample_poisson(spark, sf_dir):
    """filters.sample — greedy Poisson-disk mask; SQL twin is a
    list-state recursive CTE over arrival order (bit-exact); literal
    oracle in tests/test_pointcloud.py."""
    from pdal_spark.operators import pointcloud as pc_op

    out = pc_op.sample(_docs_geo(spark, sf_dir), radius=10.0, order_col="doc_id")
    return out.select("doc_id")


# --- training-data pipeline ------------------------------------------------


def q_text_tokens(spark, sf_dir):
    df = _table(spark, sf_dir, "documents")
    return text_op.token_count(df).select("doc_id", "n_ws_tokens", "n_bpe_tokens")


def q_text_quality(spark, sf_dir):
    df = _table(spark, sf_dir, "documents")
    return text_op.quality_score(df).select(
        "doc_id", "n_words", "mean_word_len", "punct_ratio", "stopword_ratio",
        "quality",
    )


def q_text_langid(spark, sf_dir):
    df = _table(spark, sf_dir, "documents")
    return text_op.lang_id(df).select("doc_id", "pred_lang")


def q_text_fingerprint(spark, sf_dir):
    df = _table(spark, sf_dir, "documents")
    return text_op.fingerprint(df).select("doc_id", "fp_md5", "fp_roll")


def q_warc_roundtrip(spark, sf_dir):
    """WARC web-archive container (ISO 28500 — Common Crawl's format
    for exactly this engine's pages): encode documents as per-record
    gzip members + CDX sidecar, read back index-parallel (each task
    seeks its records' exact (offset, length) slices). The oracle
    regenerates every field from the documents table: url/date are
    closed-form in doc_id, record_id = urn:md5(url), payload decodes
    back to the text byte-identically (the input_hint invariant through
    a full container round trip)."""
    import tempfile

    from pdal_spark.formats import warc as warc_fmt

    df = _table(spark, sf_dir, "documents").select(
        F.concat(F.lit("http://corpus.example/doc/"), F.col("doc_id")).alias(
            "url"
        ),
        F.concat(
            F.lit("2026-08-19T00:"),
            F.lpad(F.expr("cast((doc_id % 3600) div 60 as string)"), 2, "0"),
            F.lit(":"),
            F.lpad(F.expr("cast(doc_id % 60 as string)"), 2, "0"),
            F.lit("Z"),
        ).alias("warc_date"),
        F.encode("text", "utf-8").alias("payload"),
    )
    path = tempfile.mktemp(prefix="warc_rt_", suffix=".warc.gz")
    warc_fmt.write_warc(df, path, gzip_records=True, index=True)
    out = warc_fmt.read_warc(spark, path)
    return out.select(
        "url", "warc_date", "record_id", "content_length",
        F.decode("payload", "utf-8").alias("text"),
    )


def q_compression_ratio(spark, sf_dir):
    """DEFLATE compressibility quality gate (CCNet/RefinedWeb-style):
    zlib-compressed/raw byte ratio per doc — the one signal that
    genuinely needs Python (Arrow-batched mapInPandas, map-only, no
    shuffle). Rows-only: no SQL engine has DEFLATE; the exact replay
    oracle lives in pytest. Ratio rounded to 6 dp for a stable driver
    hash."""
    df = _table(spark, sf_dir, "documents")
    out = text_op.compression_ratio(df)
    return out.select(
        "doc_id", "n_raw_bytes", "n_zlib_bytes",
        F.round("ratio", 6).alias("ratio"), "keep",
    )


def q_text_bigram_lm(spark, sf_dir):
    """CCNet-style LM quality filter (arXiv:1911.00359 §3), reduced to
    an exactly-reproducible model: per-doc mean -log2 p of character
    bigrams under the corpus bigram distribution (add-one smoothing).
    Model fits in a broadcast at any corpus size (≤ alphabet² rows)."""
    df = _table(spark, sf_dir, "documents")
    return text_op.char_bigram_logloss(df)


def q_word_lm(spark, sf_dir):
    """Stupid-backoff trigram LM (Brants et al. 2007 §4): model trained
    on the even-doc_id half, every doc scored via ONE gram-keyed join
    against the unioned count tables (corpus-sized model — never
    broadcast-required), conditional scores precomputed into the gram
    tables so scoring needs no denominator lookups. Exact integer
    OOV/backoff diagnostics bit-compare with the twin."""
    df = _table(spark, sf_dir, "documents")
    return wordlm_op.word_lm_logloss(df)


def q_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity bucketing (arXiv:1911.00359
    §4.4): per-language tercile thresholds over the bigram-LM score,
    computed as exact order statistics on a compressed (lang, score)
    histogram — no interpolated percentile, no full-corpus window."""
    df = _table(spark, sf_dir, "documents")
    return text_op.perplexity_buckets(df)


def q_pack_sequences(spark, sf_dir):
    """GPT-style concat-then-chunk sequence packing manifest: exact
    distributed prefix sum for each doc's token offset (range partition
    + offsets — no global window), integral-div block ids exact past
    2^53 tokens."""
    df = text_op.token_count(_table(spark, sf_dir, "documents"))
    return pack_op.pack_sequences(df, max_len=256, tokens_col="n_ws_tokens")


def q_bloom_screen(spark, sf_dir):
    """Bloom-filter membership screen (incremental cross-corpus dedup):
    reference corpus = doc_id % 3 == 0; every document probes the
    sparse 32-bit-word bitmap via k broadcast joins (the probed side
    never shuffles). Exact affine-cipher arithmetic — DuckDB replays
    the filter bit-for-bit, false positives included."""
    docs = _table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    bm = bloom_op.bloom_build(ref, m_bits=4096, k=3)
    return bloom_op.bloom_contains(docs, bm, m_bits=4096, k=3).select(
        "doc_id", "maybe_member"
    )


def q_gopher_rules(spark, sf_dir):
    """Gopher quality-rule bundle (Rae et al. arXiv:2112.11446 Table A1):
    word-count / mean-word-length / symbol / line-shape / alpha-word /
    stop-word flags + the conjunction. Pure per-row column math — a
    map-only pass at any scale. min_stopwords=1 because the synthetic
    vocabulary carries only 'the'/'a' from the paper's 8-word list."""
    df = _table(spark, sf_dir, "documents")
    return qrules_op.gopher_rules(df, min_words=50, min_stopwords=1)


def q_pagerank(spark, sf_dir):
    """Damped PageRank over a deterministic doc-id-keyed link graph
    (crawl-prioritization ranking, the Common-Crawl-style authority
    signal): fixed-point integer micro-units — floating sums can never
    hash-match across engines on an iterative computation; integral
    div does, bit for bit, four unrolled iterations deep. One exchange
    per iteration; dangling mass rides as a broadcast 1-row aggregate."""
    df = _table(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    e1 = df.select((i % 601).alias("src"), ((i * 7 + 1) % 601).alias("dst"))
    e2 = df.select(
        ((i * 3) % 601).alias("src"), ((i * 13 + 5) % 601).alias("dst")
    )
    edges = e1.unionByName(e2).filter(F.col("src") != F.col("dst"))
    return graphrank_op.pagerank(edges, n_iters=4)


_PAGERANK_EDGES_SQL = (
    "SELECT doc_id % 601 AS src, (doc_id * 7 + 1) % 601 AS dst"
    " FROM documents"
    " UNION ALL"
    " SELECT (doc_id * 3) % 601, (doc_id * 13 + 5) % 601 FROM documents"
)


PPR_SEEDS = [3, 41, 500]


def q_pagerank_personal(spark, sf_dir):
    """Personalized (topic-sensitive) PageRank: teleport + dangling
    mass concentrate on a 3-node seed set over the same link graph as
    q_pagerank — "authority as seen from these pages". Identical
    integer micro-unit fixed point, so the unrolled DuckDB twin is
    hash-green."""
    df = _table(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    e1 = df.select((i % 601).alias("src"), ((i * 7 + 1) % 601).alias("dst"))
    e2 = df.select(
        ((i * 3) % 601).alias("src"), ((i * 13 + 5) % 601).alias("dst")
    )
    edges = e1.unionByName(e2).filter(F.col("src") != F.col("dst"))
    return graphrank_op.personalized_pagerank(
        edges, seeds=PPR_SEEDS, n_iters=4
    )


def q_communities(spark, sf_dir):
    """Deterministic synchronous label-propagation communities over the
    q_pagerank link graph (smallest-label ties): per round, one
    (node,label) count exchange + a per-node (never global) argmax
    window; the DuckDB twin replays the identical trajectory."""
    df = _table(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    e1 = df.select((i % 601).alias("src"), ((i * 7 + 1) % 601).alias("dst"))
    e2 = df.select(
        ((i * 3) % 601).alias("src"), ((i * 13 + 5) % 601).alias("dst")
    )
    edges = e1.unionByName(e2).filter(F.col("src") != F.col("dst"))
    return graphrank_op.label_propagation(edges, n_iters=4)


def q_kcore(spark, sf_dir):
    """3-core of the link graph (deterministic synchronous peel with a
    fixed round budget + convergence certificate): one semi-join degree
    aggregate per round, no windows; the DuckDB twin unrolls the same
    trajectory."""
    df = _table(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    e1 = df.select((i % 601).alias("src"), ((i * 7 + 1) % 601).alias("dst"))
    e2 = df.select(
        ((i * 3) % 601).alias("src"), ((i * 13 + 5) % 601).alias("dst")
    )
    edges = e1.unionByName(e2).filter(F.col("src") != F.col("dst"))
    return graphrank_op.kcore(edges, k=3, n_rounds=6)


def q_hits(spark, sf_dir):
    """HITS hubs & authorities over the same deterministic link graph
    as q_pagerank: exact fixed-point integers with L1 normalization by
    integral div each half-step (scale-invariant for the ranking,
    bit-exact across engines four unrolled iterations deep). Two
    exchanges per iteration — the HITS data-flow minimum."""
    df = _table(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    e1 = df.select((i % 601).alias("src"), ((i * 7 + 1) % 601).alias("dst"))
    e2 = df.select(
        ((i * 3) % 601).alias("src"), ((i * 13 + 5) % 601).alias("dst")
    )
    edges = e1.unionByName(e2).filter(F.col("src") != F.col("dst"))
    return graphrank_op.hits(edges, n_iters=4)


def q_triangles(spark, sf_dir):
    """Per-vertex triangle counts over a deterministic link graph
    (link-farm/cohesion signal): degree-oriented wedge join — every
    out-neighborhood bounded O(sqrt(m)) regardless of hub degree, each
    triangle counted once at its min-rank apex. Oracle is the
    orientation-free id-ordered closed-triple join. Denser graph than
    q_pagerank's (3 generators mod 211) so the triangle set is a real
    workload, not a handful of accidents."""
    df = _table(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    gens = [(1, 7, 1), (3, 13, 5), (5, 11, 2)]
    parts = [
        df.select(
            ((i * a) % 211).alias("src"), ((i * b + c) % 211).alias("dst")
        )
        for a, b, c in gens
    ]
    edges = parts[0].unionByName(parts[1]).unionByName(parts[2]).filter(
        F.col("src") != F.col("dst")
    )
    return graphrank_op.triangles(edges)


_TRIANGLE_EDGES_SQL = (
    "SELECT (doc_id * 1) % 211 AS src, (doc_id * 7 + 1) % 211 AS dst"
    " FROM documents"
    " UNION ALL SELECT (doc_id * 3) % 211, (doc_id * 13 + 5) % 211"
    " FROM documents"
    " UNION ALL SELECT (doc_id * 5) % 211, (doc_id * 11 + 2) % 211"
    " FROM documents"
)


def q_harmonic(spark, sf_dir):
    """Bounded-radius (r=4) harmonic centrality — the crawl-authority
    ranking Common Crawl publishes for its host graph. Exact BFS
    layering (level d = one-edge extension of level d-1 anti-join all
    seen), integer lcm(1..4)/d weights so h_num is an exact BIGINT;
    HyperBall is the documented open-web-scale drop-in (same iteration,
    HLL registers instead of exact pair sets)."""
    df = _table(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    gens = [(1, 7, 1), (3, 13, 5), (5, 11, 2)]
    parts = [
        df.select(
            ((i * a) % 211).alias("src"), ((i * b + c) % 211).alias("dst")
        )
        for a, b, c in gens
    ]
    edges = parts[0].unionByName(parts[1]).unionByName(parts[2]).filter(
        F.col("src") != F.col("dst")
    )
    out = graphrank_op.harmonic_centrality(edges, radius=4)
    return out.select("node", "h_num", F.round("harmonic", 6).alias("harmonic"))


def q_hyperball(spark, sf_dir):
    """HyperBall (Boldi & Vigna 2013) over the same graph as
    q_harmonic: per-node HLL registers, elementwise-max iteration — the
    open-web-scale twin of the exact BFS layering (state O(n·m)
    regardless of ball sizes). Rows-only (iterative register algebra is
    not SQL-replayable); pytest validates estimates against the exact
    operator (ball median rel err ~0.14 at m=64 — the nominal HLL
    stderr)."""
    df = _table(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    gens = [(1, 7, 1), (3, 13, 5), (5, 11, 2)]
    parts = [
        df.select(
            ((i * a) % 211).alias("src"), ((i * b + c) % 211).alias("dst")
        )
        for a, b, c in gens
    ]
    edges = parts[0].unionByName(parts[1]).unionByName(parts[2]).filter(
        F.col("src") != F.col("dst")
    )
    return graphrank_op.hyperball(edges, radius=4, m=64)


def q_c4_clean(spark, sf_dir):
    """C4 cleaning rules (Raffel et al. arXiv:1910.10683 §2.2) over a
    deterministic line-structured view (the flat test corpus carries no
    newlines/punctuation — with_synth_lines adds 8-word lines, '.' on
    even lines, a brace page every 7th doc, identically in both
    engines): terminal-punctuation lines kept, short/javascript lines
    dropped, lorem-ipsum/brace pages dropped. Map-only column math."""
    df = _table(spark, sf_dir, "documents")
    return c4_op.c4_clean(c4_op.with_synth_lines(df))


def q_boilerplate(spark, sf_dir):
    """Host-template boilerplate removal: lines verbatim-repeated in
    >= 60% (and >= 2) of a host's pages are template chrome, stripped
    from every page of the host. Runs over a deterministic
    host-structured view (host = doc_id %% 10, 8-word body lines, the
    host's nav header + footer on every page — identical synthesis in
    both engines). One (host, line)-keyed exchange for detection, one
    broadcast host join + map-only array rebuild for the strip."""
    df = _table(spark, sf_dir, "documents")
    return boiler_op.strip_boilerplate(boiler_op.with_synth_host_pages(df))


def q_quality_classifier(spark, sf_dir):
    """Model-based quality gate (fastText-style hashed linear
    classifier, Joulin et al. 1607.01759 — the CCNet/LLaMA filtering
    step): unigram + word-bigram features hashed into 4096 buckets,
    integer micro-unit weights (closed-form affine stand-in for a
    trained layer), mean-score threshold via cross-multiplication.
    Map-only — the weight lookup is arithmetic, not a join."""
    df = _table(spark, sf_dir, "documents")
    return clf_op.hashed_linear_score(df, threshold_micro=25)


def q_classifier_pr(spark, sf_dir):
    """Threshold-sweep evaluation of the hashed linear classifier
    against a lang=='en' ground truth: one PR point per distinct score.
    Running rank and running-TP come from ONE range-partitioned
    prefix-sum pass (operators/ordered.py) — no global window."""
    df = _table(spark, sf_dir, "documents")
    scored = clf_op.hashed_linear_score(df).select("id", "score_micro")
    labels = df.select(
        F.col("doc_id").alias("id"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return clf_op.pr_curve(scored.join(labels, "id"))


_DHASH_IMG_SQL = """
  WITH g AS (
    SELECT i.range AS doc_id, y.range AS y, x.range AS x,
      (((x.range*12)//9*7 + y.range*13 + i.range) % 256)
      + (((x.range*12)//9*7 + y.range*13 + i.range + 85) % 256)
      + (((x.range*12)//9*7 + y.range*13 + i.range + 170) % 256) AS v
    FROM range(0,500) i, range(0,8) y, range(0,9) x
  ),
  bits AS (
    SELECT a.doc_id, a.y, a.x, CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit
    FROM g a JOIN g b ON a.doc_id=b.doc_id AND a.y=b.y AND b.x=a.x+1
    WHERE a.x < 8
  ),
  halves AS (
    SELECT doc_id,
      CAST(sum(CASE WHEN y*8+x < 32
        THEN bit * (CAST(1 AS BIGINT) << CAST(y*8+x AS INT))
        ELSE 0 END) AS BIGINT) AS lo,
      CAST(sum(CASE WHEN y*8+x >= 32
        THEN bit * (CAST(1 AS BIGINT) << CAST(y*8+x-32 AS INT))
        ELSE 0 END) AS BIGINT) AS hi
    FROM bits GROUP BY doc_id
  )
  SELECT doc_id,
    (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
      * 4294967296 + lo AS dhash
  FROM halves
"""


def q_image_dhash(spark, sf_dir):
    """Image perceptual hash (dHash) through the REAL decode path: P6
    PPM fixtures (12x8 gradient keyed by doc_id) -> numpy decode ->
    nearest-neighbor 9x8 resample -> integer gray -> 64-bit
    horizontal-difference hash. Map-only Arrow kernel; the oracle
    replays decode+resample+hash closed-form from the pixel function
    (two 32-bit halves reassembled into the two's-complement int64)."""
    from pdal_spark.datapipe import multimodal as mm

    return mm.dhash_images(mm.synth_ppm_docs(spark, 500, w=12, h=8))


def q_image_dhash_pairs(spark, sf_dir):
    """Image near-dup pairs: dHash -> the banded Hamming pigeonhole
    join (dedup.simhash_pairs, bits=64 — NO crossJoin in the engine
    plan) at max_hamming=2. The synth corpus plants exact clones (doc
    i and i+256 share every pixel). The oracle cross-joins the 500
    closed-form hashes — valid as the EXACT reference because banded
    recall is total for h < bands (pigeonhole) and the engine verifies
    true bit_count, so both sides emit exactly the hamming<=2 set."""
    from pdal_spark.datapipe import multimodal as mm

    return mm.image_near_dup_pairs(
        mm.synth_ppm_docs(spark, 500, w=12, h=8), max_hamming=2
    )


def q_html_extract(spark, sf_dir):
    """HTML -> text extraction over binary html payloads (the
    input_hint's 'byte-identical extracted text' step made explicit):
    deterministic page markup wrapped around the corpus (head/style/
    title, split <p> body, id-keyed script, entity footer — identical
    synthesis both engines), then the map-only regexp extraction chain
    (block-drop, comment-drop, tag-strip, entity decode, whitespace
    collapse). No backreferences anywhere — RE2 (DuckDB) and Java
    (Spark) must compile the SAME patterns."""
    df = _table(spark, sf_dir, "documents")
    pages = hx_op.with_synth_html(df)
    return hx_op.extract_text(pages).select(
        "doc_id", "extracted",
        (F.col("extracted") == F.concat(
            F.col("text"), F.lit(" Tom & Jerry <3")
        )).alias("is_faithful"),
    )


def q_video_meta(spark, sf_dir):
    """REAL video decode in the driver gate: YUV4MPEG2 fixtures
    (closed-form luma keyed by doc_id/frame) -> numpy y4m parser ->
    typed meta; the oracle recomputes byte_len arithmetic and mean
    luma from the pixel function."""
    from pdal_spark.datapipe import multimodal as mm

    df = mm.synth_y4m_docs(spark, 64, w=10, h=8, n_frames=6)
    out = mm.decode_video_meta_real(df)
    return out.select(
        "doc_id",
        F.col("video_meta.width").alias("width"),
        F.col("video_meta.height").alias("height"),
        F.col("video_meta.fps_num").alias("fps_num"),
        F.col("video_meta.n_frames").alias("n_frames"),
        F.col("video_meta.byte_len").alias("byte_len"),
        F.round("video_meta.mean_luma", 6).alias("mean_luma"),
    )


def q_video_frame_dhash(spark, sf_dir):
    """REAL frame sampling + per-frame perceptual hash: y4m decode,
    every 2nd frame, dHash of the luma plane (10->9 integer resample
    exercised). Oracle replays decode + resample + hash closed-form,
    two's-complement halves like image_dhash."""
    from pdal_spark.datapipe import multimodal as mm

    df = mm.synth_y4m_docs(spark, 64, w=10, h=8, n_frames=6)
    return mm.video_frame_dhash(df, every_n=2)


def q_band_claims(spark, sf_dir):
    """Batch twin of the streaming LSH novelty screen: min-id owner
    per MinHash band key, later arrivals emitted as collision
    candidates. Band keys are the hash-domain (xxhash64) family —
    not SQL-replayable, so this row is rows-only like
    dedup_minhash_hash; the stream==batch identity and the per-row==
    groupBy band-key byte equality are pytest-pinned."""
    from pdal_spark.streaming.jobs import band_claims_batch

    df = _table(spark, sf_dir, "documents")
    return band_claims_batch(df.select("doc_id", "text"))


_ANCHOR_LINKS_SQL = (
    "SELECT doc_id AS src, (doc_id*7+1) % 601 AS dst, "
    "array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ')"
    " AS anchor FROM documents "
    "UNION ALL SELECT doc_id, (doc_id*13+5) % 601, "
    "array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ')"
    " FROM documents"
)


def q_anchor_profile(spark, sf_dir):
    """Inbound anchor-text aggregation (the classic web-IR signal):
    deterministic link synthesis (each doc links two id-derived
    targets, anchor = its first 3 words), then the two-level rollup —
    one (dst, anchor) exchange with map-side counts, one dst rollup
    whose argmax rides min_by over a (-count, anchor) struct (no
    window). Oracle replays with an explicit window."""
    df = _table(spark, sf_dir, "documents")
    i = F.col("doc_id")
    a = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 3), " ")
    l1 = df.select(i.alias("src"), ((i * 7 + 1) % 601).alias("dst"),
                   a.alias("anchor"))
    l2 = df.select(i.alias("src"), ((i * 13 + 5) % 601).alias("dst"),
                   a.alias("anchor"))
    return anchors_op.anchor_profile(l1.unionByName(l2))


def q_curate(spark, sf_dir):
    """The composed curation pipeline (C4/Gopher/CCNet stage order):
    Gopher quality rules -> exact dedup -> 3-gram Jaccard near-dup
    canonicalization, reported as the per-stage attrition ledger. The
    oracle replays the WHOLE chain as nested CTEs (flags, windowed
    dedup, pair join, recursive-CTE components) — the end-to-end
    composition is hash-compared, not just the pieces."""
    df = _table(spark, sf_dir, "documents")
    return curate_op.curate_counts(df, min_words=50, min_stopwords=1)


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition signals (arXiv:2112.11446 §A1.1): modal
    and duplicate n-gram word-position fractions (n=1,2,3) + word
    entropy. One (doc_id, gram) shuffle per n — doc-local keys, no hot
    key beyond one document's length."""
    from pdal_spark.datapipe import repetition as rep_op
    from pdal_spark.datapipe import substring as ss_op
    from pdal_spark.datapipe import dsir as dsir_op

    df = _table(spark, sf_dir, "documents")
    return rep_op.repetition_signals(df)


def q_substring_dedup(spark, sf_dir):
    """ExactSubstr-style repeated-substring removal (Lee et al., ACL
    2022): every word position covered by a corpus-duplicated 8-gram
    window is dropped, from ALL copies. Map-side-combined gram counts +
    AQE-splittable join on the gram key; rebuild is pure higher-order
    column functions."""
    from pdal_spark.datapipe import substring as ss_op

    df = _table(spark, sf_dir, "documents")
    return ss_op.substring_dedup(df, n=8)


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al., arXiv:2302.03169): per-doc
    log p_target/p_raw under add-one-smoothed unigram+bigram models;
    target corpus = every 97th doc (deterministic). Both models are one
    map-side-combined rollup broadcast to the scorer; feature_mode=
    'hash' (the paper's hashed n-grams) is the bounded-broadcast 100 TB
    path, parity-pinned in tests."""
    from pdal_spark.datapipe import dsir as dsir_op

    df = _table(spark, sf_dir, "documents").select("doc_id", "text")
    target = df.filter("doc_id % 97 = 0")
    w = dsir_op.dsir_weights(df, target)
    return w.withColumn("weight", F.round("weight", 9))


def q_text_contamination(spark, sf_dir):
    """Eval-decontamination screen (GPT-3 appx C shape): per-doc 8-gram
    hit rate against a broadcast probe n-gram set (probe = doc_id%97
    rows of the same table, deterministic). key='gram' is the oracle
    mode; the 100 TB path joins on xxhash64 (parity-pinned in tests)."""
    from pdal_spark.datapipe import contamination as cont_op

    df = _table(spark, sf_dir, "documents")
    probe = df.filter(F.expr("doc_id % 97 = 0"))
    return cont_op.ngram_contamination(df, probe, n=8)


def q_source_mixture(spark, sf_dir):
    """Mixture balancing: per-(source, lang) corpus stats + temperature
    alpha=0.5 sampling weights (w ∝ tokens^alpha, normalized)."""
    from pdal_spark.datapipe import contamination as cont_op

    df = _table(spark, sf_dir, "documents")
    return cont_op.source_mixture(df)


def q_mixture_sample(spark, sf_dir):
    """Mixture materialization: deterministic Bernoulli keep at rate
    min(1, budget*w_g/n_docs_g) via the affine-cipher uniform — the
    sampler that turns source_mixture's weights into an actual training
    subset; exact integer-compare SQL twin."""
    from pdal_spark.datapipe import contamination as cont_op

    df = _table(spark, sf_dir, "documents")
    return cont_op.mixture_sample(df, budget=300).select("doc_id", "lang")


def q_split_assign(spark, sf_dir):
    """Stratified train/val/test split with EXACT per-stratum counts:
    rank by the affine-cipher uniform within each lang stratum, integer
    cross-multiplied rank cutoffs (90/5/5) — reruns and partitioning
    cannot move a row between splits; bit-exact twin."""
    from pdal_spark.datapipe import contamination as cont_op

    df = _table(spark, sf_dir, "documents")
    return cont_op.split_assign(df).select("doc_id", "lang", "split")


def q_word_topk(spark, sf_dir):
    """Exact corpus heavy hitters: mergeable Misra-Gries partition
    summaries (bounded state, the full vocabulary never reaches a
    shuffle) -> broadcast candidate recount -> TakeOrdered top-20.
    The MG deficit bound certifies exactness, which is why the oracle
    is the plain GROUP BY top-k."""
    from pdal_spark.datapipe import frequency as freq_op

    df = _table(spark, sf_dir, "documents")
    return freq_op.top_k_words(df, k=20)


def q_word_freq_cms(spark, sf_dir):
    """Count-Min sketch estimates for the exact top-15 words: the d x w
    bucket table builds in ONE map-side-combining exchange (<= d*w rows
    out), probes broadcast-join it, est = min over the d rows. Exact
    integer hashes (md5-prefix key + affine cipher) let DuckDB replay
    every bucket collision — the overestimates match bit-for-bit."""
    from pdal_spark.datapipe import frequency as freq_op

    df = _table(spark, sf_dir, "documents")
    top = freq_op.top_k_words(df, k=15)
    sk = freq_op.cms_build(df, d=4, w=512)
    est = freq_op.cms_estimate(sk, top, d=4, w=512)
    return est.select("word", "n", F.col("est").cast("long").alias("est"))


def q_pmi_collocations(spark, sf_dir):
    """PMI collocation mining (Church & Hanks 1990) in the distributed
    "pairs" formulation: two map-side-combinable exchanges over the
    exploded token stream (pair counts, word counts), corpus scalars
    read off the AGGREGATED tables and attached as a one-row broadcast,
    min_count filter BEFORE the vocabulary joins. Open vocabulary —
    nothing collected, nothing corpus-sized broadcast."""
    from pdal_spark.datapipe import collocations as coll_op

    df = _table(spark, sf_dir, "documents")
    return coll_op.pmi_collocations(df, min_count=3)


def q_winnow_fp(spark, sf_dir):
    """Winnowing fingerprints (Schleimer et al., SIGMOD 2003 — MOSS):
    per-window rightmost-minimum k-gram hash selection as pure
    higher-order array expressions. MAP-ONLY — zero shuffles; the
    sketch (expected density 2/(w+1)) is what ships to the dedup
    index, never the text."""
    from pdal_spark.datapipe import winnow as win_op

    df = _table(spark, sf_dir, "documents")
    return win_op.winnow_fingerprints(df, k=8, w=4)


def q_winnow_pairs(spark, sf_dir):
    """Fingerprint-overlap near-dup pairs over the winnowing sketch:
    document-frequency cap (max_df) drops boilerplate fingerprints
    BEFORE the fp-keyed self-join (the hot-bucket guard), one pair
    exchange counts shared values."""
    from pdal_spark.datapipe import winnow as win_op

    df = _table(spark, sf_dir, "documents")
    return win_op.winnow_pairs(df, k=8, w=4, min_shared=8, max_df=20)


def q_blocked_terms(spark, sf_dir):
    """Obfuscation-robust blocked-term screen: lower + leet translate
    + per-letter stretch collapse (26 chained replaces — RE2 has no
    backreferences, so the portable form runs on both engines), one
    broadcast term join, one doc rollup. Every doc gets a verdict."""
    from pdal_spark.datapipe import contentfilter as cf_op

    df = _table(spark, sf_dir, "documents")
    return cf_op.blocked_terms(df, ["spark", "fast", "sl0w"])


def q_dedup_edit(spark, sf_dir):
    """Edit-distance-verified near-dup pairs: SimHash band screen (no
    crossJoin), then the exact Levenshtein DP only on survivors —
    character-level mutations (OCR noise, template fills) that word-set
    Jaccard under-weights. Verify is bit-exact on both engines."""
    df = _table(spark, sf_dir, "documents")
    return dedup_op.edit_distance_pairs(df, max_dist=40)


def q_tfidf_keywords(spark, sf_dir):
    """Per-doc TF-IDF top-5 keywords: idf quantized once per term to
    integer log-micro-units so every score is an exact BIGINT and the
    top-k cut is integer-deterministic (no rounded-double boundary);
    grouped_topk keeps the per-doc windows bounded."""
    from pdal_spark.datapipe import ranking as rank_op

    df = _table(spark, sf_dir, "documents")
    return rank_op.tfidf_keywords(df, k=5)


def q_frequent_pairs(spark, sf_dir):
    """Market-basket frequent term pairs (Apriori two-pass, exact by
    monotonicity): df-prune items in one combinable exchange, pruned
    sorted baskets in one doc exchange, index-pair explode + one pair
    exchange; quadratic hot-document fan-out REFUSED above max_basket
    (not truncated — truncation would break exactness)."""
    from pdal_spark.datapipe import itemsets as it_op

    df = _table(spark, sf_dir, "documents")
    return it_op.frequent_pairs(df, min_support=150)


def q_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction over the undirected synthetic link
    graph: per-neighbor weight 1/ln(deg) quantized ONCE to integer
    micro-units so per-pair sums are exact BIGINTs (order-free), hub
    neighbors dropped before the quadratic pair join."""
    from pdal_spark.datapipe import graphrank as gr_op

    df = _table(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    edges = df.select((i % 53).alias("src"), ((i * 7 + 1) % 89).alias("dst"))
    return gr_op.adamic_adar(edges, max_degree=60)


def q_jl_project(spark, sf_dir):
    """Johnson-Lindenstrauss ±1 projection 64 -> 16 dims (Achlioptas
    2003): sign matrix derived once in the driver and inlined as
    literals, each output dim one ordered left fold — map-only, zero
    shuffles; cuts downstream embedding exchanges 4x."""
    from pdal_spark.datapipe import jl as jl_op

    df = _table(spark, sf_dir, "embeddings")
    return jl_op.jl_project(df, d_in=64, d_out=16)


def q_cocitation(spark, sf_dir):
    """Co-citation relatedness pairs (Small 1973) over the synthetic
    link graph: key-bucketed self-join with the quadratic hub guard
    (keys above max_degree dropped BEFORE the join — the winnow_pairs
    max_df contract), one pair-count exchange."""
    from pdal_spark.datapipe import graphrank as gr_op

    df = _table(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    edges = df.select((i % 53).alias("src"), ((i * 7 + 1) % 89).alias("dst"))
    edges = edges.unionByName(
        df.select(
            ((i * 3) % 53).alias("src"), ((i * 13 + 5) % 89).alias("dst")
        )
    )
    return gr_op.cocitation(edges, min_count=3, max_degree=50)


def q_burst_windows(spark, sf_dir):
    """Distributed burst screen over the events stream: tumbling
    windows per event_type, per-key Poisson baseline over the active
    span, KL/Chernoff surprise gate. One (key, window) combinable
    exchange + a key rollup joined back — unbounded keys/history."""
    from pdal_spark.datapipe import bursts as b_op

    df = _table(spark, sf_dir, "events")
    return b_op.burst_windows(df, width_s=3600, min_surprise=1.0)


def q_kleinberg_bursts(spark, sf_dir):
    """Kleinberg 2-state burst automaton (KDD 2002): exact Viterbi
    over each key's inter-arrival gaps, one Arrow kernel per key with
    an explicit max_events_per_key bound (screen with burst_windows at
    scale). Rows-only (per-key DP); pure-python Viterbi oracle in
    tests/test_bursts.py."""
    from pdal_spark.datapipe import bursts as b_op

    df = _table(spark, sf_dir, "events")
    return b_op.kleinberg_bursts(df, s=2.0, gamma=0.5)


def q_chunk_docs(spark, sf_dir):
    """RAG-style sliding-window chunk manifest (chunk_size/overlap
    contract, word-granular): pure higher-order array exprs + one
    explode — map-only, zero shuffles; chunk_text hash-compares
    against the DuckDB list-slice replay."""
    from pdal_spark.datapipe import chunking as ch_op

    df = _table(spark, sf_dir, "documents")
    return ch_op.chunk_documents(df, max_tokens=64, overlap=16)


def q_source_keyness(spark, sf_dir):
    """Dunning-G² keyness: words over-represented in one source vs the
    rest (corpus-vs-rest 2x2 per (source, word)); one (source, word)
    combinable exchange, marginals re-aggregated from it, N as a
    one-row broadcast, min_count before the word-key join. Direction
    test in deterministic double division (int64-overflow-safe at
    10^12 tokens)."""
    from pdal_spark.datapipe import corpusstats as cs_op

    df = _table(spark, sf_dir, "documents")
    return cs_op.source_keyness(df, min_count=5, min_llr=3.84)


def q_textrank(spark, sf_dir):
    """TextRank keywords (Mihalcea & Tarau 2004): per-doc word graph +
    power iteration as ONE map-only Arrow kernel — zero shuffles,
    embarrassingly parallel (the documented Python-kernel exception:
    per-doc graphs are hundreds of nodes, where dense numpy beats a
    distributed fixed point; graphrank.pagerank covers corpus-sized
    graphs). Rows-only at the driver (iterative per doc); the strong
    oracle is the pure-python reference in tests/test_textrank.py."""
    from pdal_spark.datapipe import textrank as tr_op

    df = _table(spark, sf_dir, "documents")
    return tr_op.textrank_keywords(df, window=2, k=5)


def q_cluster_ari(spark, sf_dir):
    """Adjusted Rand Index between the lang and source partitions of
    the corpus (are sources language-pure?): one id join + one
    contingency exchange, margins re-aggregated from it, every C(x,2)
    sum exact BIGINT (order-free), a single double sequence at the
    end. The general tool for comparing dedup clusterings."""
    from pdal_spark.datapipe import clustereval as ce_op

    df = _table(spark, sf_dir, "documents")
    a = df.selectExpr("doc_id", "lang AS label_a")
    b = df.selectExpr("doc_id", "source AS label_b")
    return ce_op.adjusted_rand(a, b)


def q_cluster_nmi(spark, sf_dir):
    """Normalized Mutual Information between the lang and source
    partitions: per-cell/margin terms quantized once to integer
    nano-units -> exact BIGINT sums (order-free), one double sequence
    at the end; the information-theoretic sibling of cluster_ari."""
    from pdal_spark.datapipe import clustereval as ce_op

    df = _table(spark, sf_dir, "documents")
    a = df.selectExpr("doc_id", "lang AS label_a")
    b = df.selectExpr("doc_id", "source AS label_b")
    return ce_op.normalized_mutual_info(a, b)


def q_vocab_overlap(spark, sf_dir):
    """Pairwise source vocabulary overlap WITHOUT an exact join — HLL
    set algebra (register max-merge union + inclusion-exclusion): one
    corpus scan builds m=64 registers per source, the pair stage joins
    GROUPS (broadcast nested-loop over the dimension-sized register
    table), estimates bit-match the sparse-form DuckDB replay."""
    from pdal_spark.datapipe import sketch as sketch_op
    from pdal_spark.datapipe.bloom import _content_key

    df = (
        _table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .select("source", _content_key(F.col("w")).alias("wid"))
    )
    return sketch_op.hll_overlap(df, "source", "wid", m=64)


def q_mirror_sources(spark, sf_dir):
    """Mirror/syndication detection between sources over the winnowing
    sketch: distinct (source, fp) with the max_df boilerplate guard
    BEFORE the fp-keyed pair join — the corpus-level shared-ink
    product (scrapers pair at the source level even when no single
    page pair crosses the near-dup bar)."""
    from pdal_spark.datapipe import winnow as win_op

    df = _table(spark, sf_dir, "documents")
    return win_op.mirror_sources(df, min_shared=5, max_df=10)


def q_zipf_fit(spark, sf_dir):
    """Per-language Zipf rank-frequency fit over the top-1000 words:
    one (lang, word) combinable exchange, skew-safe grouped_topk (no
    vocabulary-sized window), regression points quantized to integer
    log-micro-units so the five sums are EXACT BIGINTs (order-free
    accumulation — the pagerank fixed-point contract)."""
    from pdal_spark.datapipe import corpusstats as cs_op

    df = _table(spark, sf_dir, "documents")
    return cs_op.zipf_fit(df, max_rank=1000)


def q_heaps_fit(spark, sf_dir):
    """Heaps/Herdan vocabulary-growth fit ln V = ln k + beta ln N
    across (lang, source) sub-corpora; same exact fixed-point
    regression as zipf_fit."""
    from pdal_spark.datapipe import corpusstats as cs_op

    df = _table(spark, sf_dir, "documents")
    return cs_op.heaps_fit(df)


def q_weighted_sample(spark, sf_dir):
    """A-ES weighted sampling without replacement, k=25 per lang:
    priority u^(1/tokens) with the affine-cipher uniform, per-stratum
    top-k through the skew-safe two-phase grouped_topk (partition-local
    prune bounds the stratum window to k x partitions rows)."""
    from pdal_spark.datapipe import contamination as cont_op

    df = _table(spark, sf_dir, "documents")
    return cont_op.weighted_sample(df, k=25)


def q_dedup_canonical(spark, sf_dir):
    """Near-dup clustering -> canonical selection: 3-word-shingle
    Jaccard pairs (threshold 0.5) -> connected components (graph-generic
    CC, distributed min-label above the driver cap) -> keep the smallest
    member; the step that turns a pair list into an actual dedup
    decision. Oracle: pair SQL + recursive-CTE transitive closure."""
    df = _table(spark, sf_dir, "documents")
    pairs = dedup_op.jaccard_pairs(df, threshold=0.5, shingle=3)
    out = dedup_op.canonicalize(df, pairs)
    return out.select("doc_id", "canonical_id", "is_canonical")


def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware canonical selection (the FineWeb/CCNet 'keep the
    best capture' rule): same 3-shingle Jaccard components as
    dedup_canonical, but the survivor is the LONGEST member (n_chars
    argmax, min-id tiebreak) — one extra component-keyed window over
    the CC output. Oracle: recursive-CTE closure + the same argmax."""
    df = _table(spark, sf_dir, "documents")
    pairs = dedup_op.jaccard_pairs(df, threshold=0.5, shingle=3)
    out = dedup_op.canonicalize(df, pairs, keep_by="n_chars")
    return out.select("doc_id", "canonical_id", "is_canonical")


def q_image_meta(spark, sf_dir):
    """Multimodal decode in the driver gate: REAL P6 PPM payloads
    synthesized in-query (deterministic gradient keyed by doc_id),
    decoded by the numpy kernel (decode_image_meta_real) through the
    Arrow plumbing; the oracle recomputes byte_len and mean_intensity
    from the closed-form pixel function — exact integer arithmetic in
    both engines."""
    from pdal_spark.datapipe import multimodal as mm

    df = mm.synth_ppm_docs(spark, 500, w=12, h=8)
    out = mm.decode_image_meta_real(df)
    return out.select(
        "doc_id",
        F.col("image_meta.byte_len").alias("byte_len"),
        F.col("image_meta.width").alias("width"),
        F.col("image_meta.height").alias("height"),
        F.col("image_meta.channels").alias("channels"),
        F.round("image_meta.mean_intensity", 6).alias("mean_intensity"),
    )


def q_audio_meta(spark, sf_dir):
    """Real WAV PCM decode in the driver gate: id-keyed sine fixtures
    (synth_wav_docs) -> RIFF decoder -> typed meta; the oracle
    regenerates the identical int16 samples in SQL (same libm sin,
    verified bit-exact) and recomputes rms from them."""
    from pdal_spark.datapipe import multimodal as mm

    df = mm.synth_wav_docs(spark, 64, sample_rate=8000, n_samples=2048)
    out = mm.decode_audio_meta_real(df)
    return out.select(
        "doc_id",
        F.col("audio_meta.byte_len").alias("byte_len"),
        F.col("audio_meta.sample_rate").alias("sample_rate"),
        F.col("audio_meta.channels").alias("channels"),
        F.col("audio_meta.n_samples").alias("n_samples"),
        F.round("audio_meta.rms", 6).alias("rms"),
    )


def q_dedup_exact(spark, sf_dir):
    df = _table(spark, sf_dir, "documents")
    return dedup_op.exact_dedup(df).select("doc_id", "lang")


def q_dedup_jaccard(spark, sf_dir):
    df = _table(spark, sf_dir, "documents")
    return dedup_op.jaccard_pairs(df, threshold=0.8)


def q_dedup_jaccard_3gram(spark, sf_dir):
    """n-gram Jaccard: 3-word shingle sets (phrasing-sensitive near-dup;
    word-level saturates on shared vocabulary). Same fused+salted
    pipeline, shingle elements instead of words."""
    df = _table(spark, sf_dir, "documents")
    return dedup_op.jaccard_pairs(df, threshold=0.5, shingle=3)


def q_dedup_containment(spark, sf_dir):
    """Directed 2-shingle containment (Broder's asymmetric measure):
    |S(src) inter S(dst)| / |S(src)| >= 0.7 — finds quote/superset
    relations (snippet inside host page) that resemblance measures
    structurally miss. Src-side prefix filter against the full
    rarest-first inverted index, count-gated hot-token salting."""
    df = _table(spark, sf_dir, "documents")
    return dedup_op.containment_pairs(df, threshold=0.7, shingle=2)


def q_dedup_minhash(spark, sf_dir):
    df = _table(spark, sf_dir, "documents")
    return dedup_op.minhash_dedup_pairs(df, threshold=0.8)


def q_dedup_simhash(spark, sf_dir):
    df = _table(spark, sf_dir, "documents")
    return dedup_op.simhash(df).select(
        F.col("id").alias("doc_id"), "simhash"
    )


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs via bit-band pigeonhole buckets (no
    crossJoin in the plan); oracle is the exact all-pairs Hamming join —
    banding is 100%-recall by construction, so the sets must be equal."""
    df = _table(spark, sf_dir, "documents")
    sim = dedup_op.simhash(df)
    return dedup_op.simhash_pairs(sim, max_hamming=3).select(
        "id1", "id2", F.col("hamming").cast("int").alias("hamming")
    )


def q_dedup_minhash_hash(spark, sf_dir):
    """MinHash LSH pairs with hash-domain word ids (vocab mode='hash' —
    zero vocabulary shuffles, the open-vocabulary scale path) and the
    shared-word verifier. Rows-only at the driver (xxhash64 has no DuckDB
    twin); the verified-jaccard semantics are pytest-checked against the
    exact pair set."""
    df = _table(spark, sf_dir, "documents")
    return dedup_op.minhash_dedup_pairs(df, threshold=0.8, word_id_mode="hash")


def q_dedup_incremental(spark, sf_dir):
    """Snapshot-incremental near-dup dedup: two crawl increments (docs
    split by id parity) ingested into the persistent LSH+verifier
    index — the second screens against the first WITHOUT re-reading
    its text (mtime-pinned in tests). Returns the final deduped corpus
    ids. Rows-only at the driver (xxhash64 featurize has no DuckDB
    twin); batch-CC parity incl. cross-increment chains is
    pytest-pinned (tests/test_incremental_dedup.py)."""
    import tempfile

    from pdal_spark.datapipe.incremental_dedup import NearDupIndex

    df = _table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = NearDupIndex(
        spark, tempfile.mkdtemp(prefix="incdedup_"), threshold=0.8
    )
    idx.ingest(df.filter(F.col("doc_id") % 2 == 0))
    idx.ingest(df.filter(F.col("doc_id") % 2 == 1))
    return idx.corpus().select("doc_id").orderBy("doc_id")


def q_dedup_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs: LSH bucket join + inline exact
    cosine verify, one verification per pair (first colliding table).
    The oracle replicates the collision condition and the ordered-fold
    dot bit-for-bit."""
    df = _table(spark, sf_dir, "embeddings")
    return sim_op.cosine_dedup_pairs(df, threshold=0.3)


def q_bitext_align(spark, sf_dir):
    """Ratio-margin alignment (Artetxe & Schwenk 2019) between the two
    label-parity halves of the embeddings table: per src vector the
    best candidate by cos / mean-of-kNN-averages, kept at margin >= 1.
    Exact BIGINT micro-cosine sums make the two avg() terms order-free,
    so the DuckDB twin is bit-comparable."""
    df = _table(spark, sf_dir, "embeddings")
    src = df.filter(F.col("label") % 2 == 0)
    cand = df.filter(F.col("label") % 2 == 1)
    return sim_op.margin_align(src, cand, k=4, threshold=1.0)


def q_sim_cosine_topk(spark, sf_dir):
    """Exact top-k cosine via the DISTRIBUTED blocked brute force
    (candidates stay sharded, queries fan to blocks, per-block local
    top-k + global window) — same rows as the bounded
    collect-and-broadcast cosine_topk rerank utility, which this entry
    deliberately does not showcase."""
    df = _table(spark, sf_dir, "embeddings")
    return sim_op.cosine_topk_blocked(df, k=3, n_blocks=8)


def q_sim_lsh_topk(spark, sf_dir):
    df = _table(spark, sf_dir, "embeddings")
    return sim_op.lsh_cosine_topk(df, k=3)


def q_sim_ivf_topk(spark, sf_dir):
    """IVF ANN: spherical-k-means inverted lists + probe-join re-rank.
    Full probe (nprobe=nlist) makes it exact, so the brute-force SQL is
    a bit-exact oracle while the query still exercises the train /
    index / probe / list-join machinery end-to-end."""
    df = _table(spark, sf_dir, "embeddings")
    return sim_op.ivf_topk(df, k=3, nlist=8, nprobe=8, n_iters=2)


def q_sim_pq_topk(spark, sf_dir):
    """Product quantization (Jegou et al. 2011) ANN: per-subspace
    Lloyd codebooks (deterministic init/tiebreak/rounding, trained
    distributed) -> 8-byte codes -> ADC top-k via a broadcast lookup
    table with partition-local prune. The oracle unrolls train ->
    encode -> LUT -> ADC as CTEs, accumulating distances in the same
    fixed subspace order."""
    import numpy as np

    from pdal_spark.datapipe import pq as pq_op

    df = _table(spark, sf_dir, "embeddings")
    books = pq_op.pq_train(df)
    enc = pq_op.pq_encode(df, books)
    qrows = df.filter(F.col("vec_id") < 4).collect()
    queries = [(r.vec_id, np.array(r.embedding)) for r in qrows]
    return pq_op.pq_topk(enc, books, queries, k=10)


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): spherical-k-means clusters ->
    within-cluster cosine pairs -> connected components -> keep the
    member least similar to its centroid. The oracle unrolls the same
    deterministic k-means in SQL (smallest-id init, argmax-cosine
    assignment, HALF_UP-9 centroid rounding) plus recursive-CTE
    components."""
    df = _table(spark, sf_dir, "embeddings")
    return sim_op.semdedup(df, threshold=0.3)


def q_dedup_paragraph(spark, sf_dir):
    """CCNet-style paragraph-level exact dedup: drop repeated 10-word
    paragraphs corpus-wide (first (doc_id, chunk_idx) occurrence wins),
    reassemble the surviving text per doc."""
    df = _table(spark, sf_dir, "documents")
    return dedup_op.paragraph_dedup(df, chunk_words=10)


def _variant_pages(spark, sf_dir):
    """Deterministic Common-Crawl-style URL variants keyed off doc_id:
    same underlying page appears under tracking params, fragments,
    host case, www., default ports, trailing slash — the synthesis is
    pure column math reproduced verbatim in the DuckDB oracle."""
    df = _table(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    site = F.lpad((i % 20).cast("string"), 5, "0")
    page = F.lpad((i % 100).cast("string"), 6, "0")
    root = F.concat(F.lit("https://site"), site, F.lit(".example/p/"), page)
    v = i % 5
    url = (
        F.when(v == 0, root)
        .when(v == 1, F.concat(F.lit("https://www.site"), site,
                               F.lit(".example/p/"), page, F.lit("/")))
        .when(v == 2, F.concat(F.lit("HTTPS://SITE"), site,
                               F.lit(".EXAMPLE:443/p/"), page,
                               F.lit("?utm_source=feed")))
        .when(v == 3, F.concat(root, F.lit("?b=2&a=1")))
        .otherwise(F.concat(root, F.lit("?a=1&b=2&fbclid=xyz#frag")))
    )
    ts = F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=i)
    return df.select("doc_id", url.alias("url"), ts.alias("warc_ts"))


_VARIANT_PAGES_SQL = (
    "SELECT doc_id, CASE doc_id % 5"
    " WHEN 0 THEN concat('https://site', site, '.example/p/', page)"
    " WHEN 1 THEN concat('https://www.site', site, '.example/p/', page, '/')"
    " WHEN 2 THEN concat('HTTPS://SITE', site, '.EXAMPLE:443/p/', page,"
    "   '?utm_source=feed')"
    " WHEN 3 THEN concat('https://site', site, '.example/p/', page, '?b=2&a=1')"
    " ELSE concat('https://site', site, '.example/p/', page,"
    "   '?a=1&b=2&fbclid=xyz#frag') END AS url,"
    " TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id) AS warc_ts"
    " FROM (SELECT doc_id,"
    "   lpad(CAST(doc_id % 20 AS VARCHAR), 5, '0') AS site,"
    "   lpad(CAST(doc_id % 100 AS VARCHAR), 6, '0') AS page FROM documents)"
)


def _policy_rules(spark):
    """Deterministic robots-style rule set over the variant-page hosts
    (sites 0-14; 15-19 stay ruleless): a root rule disallowing every
    3rd site, a longer allow override for pages 10-19, a still-longer
    disallow pinning page 12, and an equal-length allow/disallow pair
    on '/p/00003' exercising the RFC 9309 least-restrictive tie."""
    base = spark.range(15).select(
        F.concat(
            F.lit("site"), F.lpad(F.col("id").cast("string"), 5, "0"),
            F.lit(".example"),
        ).alias("host"),
        (F.col("id") % 3 != 0).alias("root_allow"),
    )
    rule = F.explode(
        F.array(
            F.struct(F.lit("/").alias("prefix"), F.col("root_allow").alias("allow")),
            F.struct(F.lit("/p/00001").alias("prefix"), F.lit(True).alias("allow")),
            F.struct(F.lit("/p/000012").alias("prefix"), F.lit(False).alias("allow")),
            F.struct(F.lit("/p/00003").alias("prefix"), F.lit(True).alias("allow")),
            F.struct(F.lit("/p/00003").alias("prefix"), F.lit(False).alias("allow")),
        )
    ).alias("r")
    return base.select("host", rule).select(
        "host", F.col("r.prefix").alias("prefix"), F.col("r.allow").alias("allow")
    )


_POLICY_RULES_SQL = (
    "SELECT host, prefix, CASE WHEN prefix = '/' THEN s % 3 <> 0"
    " ELSE allow END AS allow FROM ("
    "SELECT s, concat('site', lpad(CAST(s AS VARCHAR), 5, '0'), '.example')"
    " AS host, prefix, allow FROM (SELECT unnest(range(15)) AS s), ("
    " SELECT '/' AS prefix, CAST(NULL AS BOOLEAN) AS allow"
    " UNION ALL SELECT '/p/00001', TRUE"
    " UNION ALL SELECT '/p/000012', FALSE"
    " UNION ALL SELECT '/p/00003', TRUE"
    " UNION ALL SELECT '/p/00003', FALSE))"
)


def q_crawl_policy(spark, sf_dir):
    """Robots-style crawl-policy verdicts (RFC 9309 longest-match,
    allow wins length ties, no rule -> allowed) over canonicalized
    variant pages: broadcast rules join + per-page argmax window."""
    from pdal_spark.datapipe import weburl

    pages = _variant_pages(spark, sf_dir).select(
        "doc_id", weburl.canonical_url(F.col("url")).alias("url")
    )
    return weburl.policy_verdicts(
        pages, _policy_rules(spark), url_col="url", id_col="doc_id"
    )


def q_crawl_revisit(spark, sf_dir):
    """Revisit/change detection over the variant-page capture history:
    5 captures per canonical page, content synthesized so consecutive
    captures alternate identical/different — per-URL lag window labels
    new/changed/unchanged."""
    from pdal_spark.datapipe import weburl

    pages = _variant_pages(spark, sf_dir)
    docs = _table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("content_doc"), "text"
    )
    capt = (
        pages.withColumn(
            "content_doc",
            F.expr("(doc_id DIV 200) * 200 + doc_id % 100"),
        )
        .join(docs, "content_doc")
        .withColumn("content_hash", F.md5("text"))
    )
    return weburl.revisit_changes(capt, id_col="doc_id")


def q_url_canonical(spark, sf_dir):
    """Per-row URL canonicalization (projection only, no shuffle)."""
    from pdal_spark.datapipe import weburl

    pages = _variant_pages(spark, sf_dir)
    return pages.select(
        "doc_id", weburl.canonical_url(F.col("url")).alias("canonical_url")
    )


def q_url_templates(spark, sf_dir):
    """URL pattern mining over the variant pages: numeric/hex path
    segments generalized to {n}/{hex} map-only, ONE template-keyed
    combinable exchange — the crawl-frontier compressor (parametric
    page families, trap detection, per-template caps)."""
    from pdal_spark.datapipe import weburl

    pages = _variant_pages(spark, sf_dir)
    return weburl.url_templates(pages, min_count=2)


def q_url_dedup(spark, sf_dir):
    """URL-level dedup: keep the LATEST capture per canonical URL
"""
    from pdal_spark.datapipe import weburl

    pages = _variant_pages(spark, sf_dir)
    return weburl.url_dedup(pages, id_col="doc_id").select(
        "doc_id", "canonical_url", "warc_ts"
    )


_PII_DOCS_SQL = (
    "SELECT doc_id, CASE doc_id % 4"
    " WHEN 0 THEN concat(text, ' contact u', CAST(doc_id AS VARCHAR),"
    "   '@mail.example now')"
    " WHEN 1 THEN concat(text, ' from 10.0.', CAST(doc_id % 256 AS VARCHAR),"
    "   '.7 logged')"
    " WHEN 2 THEN concat(text, ' call 555-',"
    "   lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-4567')"
    " ELSE text END AS text FROM documents"
)


def q_pii_redact(spark, sf_dir):
    """PII redaction (emails/IPv4/phones -> placeholder tokens + per-type
    counts). The documents table carries no PII, so rows are decorated
    with deterministic synthetic PII first — synthesis is pure column
    math reproduced verbatim in the oracle."""
    from pdal_spark.datapipe import pii

    df = _table(spark, sf_dir, "documents")
    i = F.col("doc_id")
    v = i % 4
    t = F.col("text")
    decorated = (
        F.when(v == 0, F.concat(t, F.lit(" contact u"), i.cast("string"),
                                F.lit("@mail.example now")))
        .when(v == 1, F.concat(t, F.lit(" from 10.0."),
                               (i % 256).cast("string"), F.lit(".7 logged")))
        .when(v == 2, F.concat(t, F.lit(" call 555-"),
                               F.lpad((i % 1000).cast("string"), 3, "0"),
                               F.lit("-4567")))
        .otherwise(t)
    )
    out = pii.pii_redact(df.select("doc_id", decorated.alias("text")))
    return out.select("doc_id", "n_email", "n_ipv4", "n_phone", "text_redacted")


CELL_LEVELS = [4, 8, 12]
CELL_SCAN_LEVEL = 6


def q_cell_encode(spark, sf_dir):
    """S2-style hierarchical cell index: level-12 cell id + token +
    level-6 ancestor for every geocoded page — pure codegen bit math."""
    df = _docs_geo(spark, sf_dir)
    return df.withColumn("cell_id", cellindex_op.cell_id("x", "y", 12)).select(
        "doc_id",
        "cell_id",
        cellindex_op.cell_token("cell_id").alias("cell_token"),
        cellindex_op.cell_parent("cell_id", 6).alias("cell_l6"),
    )


def q_cell_rollup(spark, sf_dir):
    """Multi-level cell counts: one exchange at the finest level, then
    parent-mask rollups on the aggregated table (hypertable shape)."""
    df = _docs_geo(spark, sf_dir)
    return cellindex_op.cell_rollup(df, CELL_LEVELS)


def q_cell_range_scan(spark, sf_dir):
    """Region query via the contiguous-descendant-range property:
    covering(BOX) at level 6 -> merged BETWEEN predicates on the
    level-12 cell id (parquet row-group prunable on a stored id)."""
    df = _docs_geo(spark, sf_dir)
    ranges = cellindex_op.covering_ranges(
        (BOX.minx, BOX.miny, BOX.maxx, BOX.maxy), CELL_SCAN_LEVEL
    )
    cid = cellindex_op.cell_id("x", "y", 12)
    return cellindex_op.range_scan_join(
        df.withColumn("cell_id", cid), "cell_id", ranges
    ).select("doc_id", "cell_id")


BLOCKED_DOMAINS = ["site00001.example", "site00007.example"]


def q_domain_stats(spark, sf_dir):
    """Domain-level curation: blocklist anti-join (broadcast) then
    per-domain page counts — one map-side-combinable exchange."""
    pages = _variant_pages(spark, sf_dir)
    kept = weburl_op.blocklist_filter(pages, BLOCKED_DOMAINS, "url")
    return weburl_op.domain_stats(kept, "url")


def q_domain_cap(spark, sf_dir):
    """Per-domain contribution cap: keep <=3 pages per domain, chosen by
    the deterministic affine-cipher sample (partitioned window only)."""
    pages = _variant_pages(spark, sf_dir)
    out = weburl_op.domain_cap(pages, 3, id_col="doc_id")
    return out.select("doc_id", "domain")


CELL_PNP_HEX = crop_op.hexagon_ring(40.0, -10.0, 45.0)


def q_cell_pnp_join(spark, sf_dir):
    """Index-accelerated polygon-set join: bbox-covering range prune on
    the cell id (broadcast), exact even-odd PnP refine. Oracle is the
    index-FREE exact PnP per polygon — pruning must lose/add nothing."""
    df = _docs_geo(spark, sf_dir)
    cid = cellindex_op.cell_id("x", "y", 12)
    out = cellindex_op.cell_pnp_join(
        df.withColumn("cell_id", cid), [POLY, CELL_PNP_HEX], level=CELL_SCAN_LEVEL
    )
    return out.select("doc_id", F.col("geom_id").cast("long").alias("geom_id"))


_DQ_COLS_NUM = ["doc_id", "n_chars"]
_DQ_COLS_STR = ["text", "lang", "source"]
_DQ_CONSTRAINTS = [
    {"name": "rows_in_range", "kind": "row_count_between",
     "lo": 100, "hi": 10_000_000},
    {"name": "doc_id_not_null", "kind": "not_null", "col": "doc_id"},
    {"name": "doc_id_unique", "kind": "unique", "col": "doc_id"},
    {"name": "doc_id_nonneg", "kind": "min_ge", "col": "doc_id",
     "bound": 0},
    {"name": "text_not_null", "kind": "not_null", "col": "text"},
    {"name": "text_min_len", "kind": "min_length_ge", "col": "text",
     "bound": 1},
    {"name": "lang_known", "kind": "values_in", "col": "lang",
     "allowed": ["en", "de", "fr", "es", "zh"], "min_rate": 0.95},
    {"name": "lang_mostly_en", "kind": "values_in", "col": "lang",
     "allowed": ["en"], "min_rate": 0.9},  # intentionally failing row
    {"name": "n_chars_mean", "kind": "mean_between", "col": "n_chars",
     "lo": 50.0, "hi": 500.0},
    {"name": "n_chars_max", "kind": "max_le", "col": "n_chars",
     "bound": 100_000},
    {"name": "source_shape", "kind": "pattern_rate", "col": "source",
     "pattern": "^src[0-9]+$", "min_rate": 1.0},
]


def q_catalog_merge(spark, sf_dir):
    """Copy-on-write MERGE INTO on the snapshot catalog: documents
    ingested as three key-ranged files, then one merge that updates
    every doc_id % 7 == 0 row and inserts a disjoint batch — only the
    files containing matched keys are rewritten (manifest footer-stats
    prune -> provenance scan), the rest carry over byte-identical.
    Returns the merged table; the oracle replays update+insert as a
    CASE + UNION."""
    import tempfile

    from pdal_spark.catalog import SnapshotTable

    df = _table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    t = SnapshotTable(
        spark, tempfile.mkdtemp(prefix="merge_t_"), stats_cols=("doc_id",)
    )
    for lo, hi in ((0, 200), (200, 350), (350, 10**9)):
        t.append(
            df.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).coalesce(1)
        )
    updates = df.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", (F.col("n_chars") + 1000).alias("n_chars")
    )
    inserts = spark.range(0, 10).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        (F.col("id") * 11 + 3).alias("n_chars"),
    )
    t.merge(updates.unionByName(inserts), key="doc_id")
    return t.read().select("doc_id", "n_chars")


def q_catalog_changes(spark, sf_dir):
    """Change-data-feed across a copy-on-write merge: the file-level
    diff reads ONLY added/removed files (carried files never enter the
    comparison), rewritten files' carried rows cancel via exceptAll —
    updates surface as their delete+insert pair. Oracle: the same
    change set in closed form."""
    import tempfile

    from pdal_spark.catalog import SnapshotTable

    df = _table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    t = SnapshotTable(
        spark, tempfile.mkdtemp(prefix="cdf_t_"), stats_cols=("doc_id",)
    )
    for lo, hi in ((0, 200), (200, 350), (350, 10**9)):
        t.append(
            df.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).coalesce(1)
        )
    v_base = t.current_version()
    updates = df.filter(F.col("doc_id") % 13 == 0).select(
        "doc_id", (F.col("n_chars") + 5000).alias("n_chars")
    )
    inserts = spark.range(0, 5).select(
        (F.col("id") + 2_000_000).alias("doc_id"),
        (F.col("id") * 7 + 1).alias("n_chars"),
    )
    t.merge(updates.unionByName(inserts), key="doc_id")
    return t.changes(v_base).select("doc_id", "n_chars", "_change_type")


def q_dedup_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995): corpus
    ordered by (n_chars, doc_id), every pair within 3 positions —
    linear candidate volume by construction (n*w pairs). Rank comes
    from the distributed global_rank (range partition + offsets);
    oracle is row_number + a rank-distance self-join."""
    df = _table(spark, sf_dir, "documents")
    return dedup_op.sorted_neighborhood_pairs(
        df, [F.col("n_chars").asc(), F.col("doc_id").asc()], window=3
    )


def q_ann_index(spark, sf_dir):
    """Persistent IVF index lifecycle in one query: build on the
    even-id half (train + stored centroids/lists), APPEND the odd half
    against the frozen centroids (map-side, no retrain, one snapshot),
    query every vector at nprobe=nlist — exact mode, so the oracle is
    brute-force cosine top-k regardless of centroid quality."""
    import tempfile

    from pdal_spark.datapipe.annindex import IvfIndex

    df = _table(spark, sf_dir, "embeddings")
    idx = IvfIndex(spark, tempfile.mkdtemp(prefix="ivfidx_"))
    idx.build(df.filter(F.col("vec_id") % 2 == 0))
    idx.append(df.filter(F.col("vec_id") % 2 == 1))
    return idx.query(df, k=3)


_ROBOTS_HEAD = (
    "# crawl policy\nUser-agent: googlebot\nDisallow: /google-only\n"
    "\nUser-agent: *\nDisallow: /private/"
)
_ROBOTS_TAIL = (
    "\nAllow: /private/pub\nDisallow:\n"
    "User-agent: badbot\nUser-agent: otherbot\nDisallow: /\n"
)


def q_judge_kappa(spark, sf_dir):
    """Cohen's kappa between two quality judges — the length rule
    (n_chars >= 150) vs the heuristic quality score (>= 0.5):
    chance-corrected agreement from one contingency exchange, exact
    BIGINT count ratios in a fixed-shape double expression."""
    from pdal_spark.datapipe import clustereval as ce_op

    df = _table(spark, sf_dir, "documents")
    a = df.select(
        "doc_id", (F.col("n_chars") >= 150).cast("int").alias("label_a")
    )
    b = text_op.quality_score(df).select(
        "doc_id", (F.col("quality") >= 0.5).cast("int").alias("label_b")
    )
    return ce_op.cohens_kappa(a, b)


def q_domain_screen(spark, sf_dir):
    """Wilson-lower-bound domain quality screening: a domain survives
    when the CONFIDENCE lower bound of its pass rate clears 0.5, so
    small-sample domains are not judged like well-measured ones. One
    combinable count aggregate + a closed-form double expression —
    deterministic cross-engine."""
    df = _table(spark, sf_dir, "documents")
    return weburl_op.domain_quality_screen(
        df.withColumnRenamed("source", "domain"),
        pass_col=(F.col("n_chars") >= 150),
    )


def q_robots_rules(spark, sf_dir):
    """robots.txt PARSER (RFC 9309 grammar subset): raw text ->
    (host, prefix, allow) rules for the wildcard agent. Group
    membership computed relationally (running sum of group starts +
    per-host windows — no stateful kernel), so the DuckDB twin replays
    it exactly. The synthesized corpus exercises comments, other-agent
    groups, consecutive User-agent headers, and empty patterns."""
    hosts = (
        _table(spark, sf_dir, "documents")
        .select(F.col("source").alias("host")).distinct()
    )
    txt = F.concat(
        F.lit(_ROBOTS_HEAD), F.col("host"), F.lit(_ROBOTS_TAIL)
    )
    df = hosts.select("host", txt.alias("robots_txt"))
    out = weburl_op.parse_robots(df)
    return out.select(
        "host", "prefix", F.col("allow").cast("int").alias("allow")
    )


def q_shard_assign(spark, sf_dir):
    """Jump-consistent-hash resharding plan 16 -> 17 shards (Lamping &
    Veach 2014): map-only Arrow kernel (vectorized geometric-jump
    walk, zero shuffles); moved keys are the theoretical minimum and
    land only in the new shard. Oracle replays the identical uint64
    LCG walk as a recursive CTE in HUGEINT arithmetic."""
    from pdal_spark.datapipe import sharding as sh_op

    df = _table(spark, sf_dir, "documents").select("doc_id")
    return sh_op.shard_assign(df, "doc_id", n_old=16, n_new=17)


def q_ivm_counts(spark, sf_dir):
    """Incremental view maintenance: a per-bucket count+sum aggregate
    maintained through a copy-on-write merge by folding the change
    feed (signed counting — updates are delete+insert pairs), never
    rescanning the table. Oracle recomputes the aggregate on the
    closed-form merged state: maintained == recompute, exactly."""
    import tempfile

    from pdal_spark.catalog import SnapshotTable
    from pdal_spark.operators import ivm as ivm_op

    df = _table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    t = SnapshotTable(
        spark, tempfile.mkdtemp(prefix="ivm_t_"), stats_cols=("doc_id",)
    )
    for lo, hi in ((0, 200), (200, 350), (350, 10**9)):
        t.append(
            df.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).coalesce(1)
        )
    v_base = t.current_version()
    with_bucket = lambda d: d.withColumn(  # noqa: E731
        "bucket", F.pmod(F.col("doc_id"), F.lit(10))
    )
    base = ivm_op.aggregate_state(
        with_bucket(t.read()), ["bucket"], sum_cols=("n_chars",)
    )
    updates = df.filter(F.col("doc_id") % 13 == 0).select(
        "doc_id", (F.col("n_chars") + 5000).alias("n_chars")
    )
    inserts = spark.range(0, 5).select(
        (F.col("id") + 2_000_000).alias("doc_id"),
        (F.col("id") * 7 + 1).alias("n_chars"),
    )
    t.merge(updates.unionByName(inserts), key="doc_id")
    return ivm_op.maintain_aggregate(
        base, with_bucket(t.changes(v_base)), ["bucket"],
        sum_cols=("n_chars",),
    )


_QUANTILES = [0.0, 0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]


def q_quantiles_global(spark, sf_dir):
    """Exact global order statistics by counting (no global sort): one
    combinable exchange to per-value counts, range-partitioned prefix
    sums over the value order (ordered.prefix_sums — no single-task
    window), broadcast rank selection. percentile_disc semantics;
    DuckDB's native quantile_disc agrees (pytest-pinned)."""
    df = _table(spark, sf_dir, "events")
    return stats_op.exact_quantiles(df, "value", _QUANTILES)


def q_quantiles_by_type(spark, sf_dir):
    """Exact per-group quantiles: same counting formulation with the
    group key as the partition key (plain per-group windows — groups
    distribute; no driver state)."""
    df = _table(spark, sf_dir, "events")
    return stats_op.exact_quantiles(
        df, "value", _QUANTILES, by=["event_type"]
    )


def q_data_profile(spark, sf_dir):
    """Deequ-style per-column profile (Schelter et al. VLDB 2018): all
    completeness/distinctness/moment metrics for five columns in ONE
    aggregate over ONE scan (map-side combined; the long form explodes
    an array-of-structs on the single aggregate row — no metric-count
    job fan-out). distinct_mode='exact' here for the bit-exact oracle;
    the 100 TB default is the single-pass HLL mode."""
    from pdal_spark.datapipe import dataquality as dq_op

    df = _table(spark, sf_dir, "documents")
    return dq_op.profile(
        df, _DQ_COLS_NUM + _DQ_COLS_STR, distinct_mode="exact"
    )


def q_data_histogram(spark, sf_dir):
    """Equi-width histogram of n_chars (16 bins): min/max aggregate +
    one map-side-combined bin count, empty bins kept via a broadcast
    spine — drift monitoring's standard artifact. Identical bin
    arithmetic in both engines."""
    from pdal_spark.datapipe import dataquality as dq_op

    df = _table(spark, sf_dir, "documents")
    out = dq_op.histogram(df, "n_chars", bins=16)
    return out.select(
        "bin", F.round("lo", 6).alias("lo"), F.round("hi", 6).alias("hi"),
        "n",
    )


def q_data_quality(spark, sf_dir):
    """Declarative constraint suite over the ingest table — the gate a
    crawl drop passes before training jobs may read it. 11 constraints
    (completeness, key uniqueness, value ranges, set membership,
    regex shape) compiled onto one shared aggregate pass; one
    constraint is intentionally failing so the verdict path is
    exercised."""
    from pdal_spark.datapipe import dataquality as dq_op

    df = _table(spark, sf_dir, "documents")
    return dq_op.check(df, _DQ_CONSTRAINTS)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "crop_box": q_crop_box,
        "crop_box_outside": q_crop_box_outside,
        "crop_circle": q_crop_circle,
        "crop_polygon": q_crop_polygon,
        "crop_multi_geom": q_crop_multi_geom,
        "splitter_assign": q_splitter_assign,
        "splitter_counts": q_splitter_counts,
        "range_filter": q_range_filter,
        "mongo_filter": q_mongo_filter,
        "assign_conditional": q_assign_conditional,
        "decimation": q_decimation,
        "head_tail": q_head_tail,
        "divider_round_robin": q_divider_round_robin,
        "groupby_views": q_groupby_views,
        "sort_rank": q_sort_rank,
        "locate_max": q_locate_max,
        "randomize": q_randomize,
        "stats_moments": q_stats_moments,
        "merge_union": q_merge_union,
        "voxel_downsize": q_voxel_downsize,
        "window_agg_events": q_window_agg_events,
        "asof_join": q_asof_join,
        "sessionize": q_sessionize,
        "crawl_schedule": q_crawl_schedule,
        "interval_join": q_interval_join,
        "kmv_distinct": q_kmv_distinct,
        "hll_distinct": q_hll_distinct,
        "bm25_rank": q_bm25_rank,
        "boolean_and": q_boolean_and,
        "phrase_search": q_phrase_search,
        "hexbin_density": q_hexbin_density,
        "hexbin_dense": q_hexbin_dense,
        "knn_join": q_knn_join,
        "knn_join_salted": q_knn_join_salted,
        "neighbor_classify": q_neighbor_classify,
        "radial_density": q_radial_density,
        "chipper_2part": q_chipper_2part,
        "chipper_counts": q_chipper_counts,
        "chipper_assign": q_chipper_assign,
        "raster_cells": q_raster_cells,
        "raster_pixels": q_raster_pixels,
        "text_tokens": q_text_tokens,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "text_fingerprint": q_text_fingerprint,
        "text_bigram_lm": q_text_bigram_lm,
        "word_lm": q_word_lm,
        "ppl_buckets": q_ppl_buckets,
        "pack_sequences": q_pack_sequences,
        "bloom_screen": q_bloom_screen,
        "gopher_rules": q_gopher_rules,
        "curate": q_curate,
        "c4_clean": q_c4_clean,
        "boilerplate_host": q_boilerplate,
        "quality_classifier": q_quality_classifier,
        "classifier_pr": q_classifier_pr,
        "html_extract": q_html_extract,
        "band_claims": q_band_claims,
        "anchor_profile": q_anchor_profile,
        "image_dhash": q_image_dhash,
        "video_meta": q_video_meta,
        "video_frame_dhash": q_video_frame_dhash,
        "image_dhash_pairs": q_image_dhash_pairs,
        "pagerank": q_pagerank,
        "pagerank_personal": q_pagerank_personal,
        "communities": q_communities,
        "kcore": q_kcore,
        "hits": q_hits,
        "triangles": q_triangles,
        "harmonic": q_harmonic,
        "hyperball": q_hyperball,
        "text_repetition": q_text_repetition,
        "substring_dedup": q_substring_dedup,
        "dsir_weights": q_dsir_weights,
        "text_contamination": q_text_contamination,
        "source_mixture": q_source_mixture,
        "mixture_sample": q_mixture_sample,
        "split_assign": q_split_assign,
        "word_topk": q_word_topk,
        "word_freq_cms": q_word_freq_cms,
        "pmi_collocations": q_pmi_collocations,
        "winnow_fp": q_winnow_fp,
        "winnow_pairs": q_winnow_pairs,
        "mirror_sources": q_mirror_sources,
        "vocab_overlap": q_vocab_overlap,
        "cluster_ari": q_cluster_ari,
        "cluster_nmi": q_cluster_nmi,
        "zipf_fit": q_zipf_fit,
        "heaps_fit": q_heaps_fit,
        "textrank": q_textrank,
        "source_keyness": q_source_keyness,
        "chunk_docs": q_chunk_docs,
        "burst_windows": q_burst_windows,
        "kleinberg_bursts": q_kleinberg_bursts,
        "cocitation": q_cocitation,
        "adamic_adar": q_adamic_adar,
        "jl_project": q_jl_project,
        "frequent_pairs": q_frequent_pairs,
        "tfidf_keywords": q_tfidf_keywords,
        "dedup_edit": q_dedup_edit,
        "blocked_terms": q_blocked_terms,
        "weighted_sample": q_weighted_sample,
        "dedup_canonical": q_dedup_canonical,
        "dedup_keep_best": q_dedup_keep_best,
        "image_meta": q_image_meta,
        "audio_meta": q_audio_meta,
        "dedup_exact": q_dedup_exact,
        "dedup_paragraph": q_dedup_paragraph,
        "url_canonical": q_url_canonical,
        "url_templates": q_url_templates,
        "crawl_policy": q_crawl_policy,
        "crawl_revisit": q_crawl_revisit,
        "url_dedup": q_url_dedup,
        "pii_redact": q_pii_redact,
        "domain_stats": q_domain_stats,
        "domain_cap": q_domain_cap,
        "cell_encode": q_cell_encode,
        "cell_rollup": q_cell_rollup,
        "cell_range_scan": q_cell_range_scan,
        "cell_pnp_join": q_cell_pnp_join,
        "data_profile": q_data_profile,
        "data_histogram": q_data_histogram,
        "data_quality": q_data_quality,
        "quantiles_global": q_quantiles_global,
        "quantiles_by_type": q_quantiles_by_type,
        "catalog_merge": q_catalog_merge,
        "catalog_changes": q_catalog_changes,
        "ivm_counts": q_ivm_counts,
        "shard_assign": q_shard_assign,
        "robots_rules": q_robots_rules,
        "domain_screen": q_domain_screen,
        "judge_kappa": q_judge_kappa,
        "ann_index": q_ann_index,
        "dedup_sorted_neighborhood": q_dedup_sorted_neighborhood,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_jaccard_3gram": q_dedup_jaccard_3gram,
        "dedup_containment": q_dedup_containment,
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "simhash_pairs": q_simhash_pairs,
        "dedup_minhash_hash": q_dedup_minhash_hash,
        "dedup_incremental": q_dedup_incremental,
        "dedup_cosine": q_dedup_cosine,
        "dedup_semantic": q_dedup_semantic,
        "sim_cosine_topk": q_sim_cosine_topk,
        "bitext_align": q_bitext_align,
        "sim_lsh_topk": q_sim_lsh_topk,
        "sim_ivf_topk": q_sim_ivf_topk,
        "sim_pq_topk": q_sim_pq_topk,
        "feat_lof": q_feat_lof,
        "feat_reciprocity": q_feat_reciprocity,
        "feat_eigenvalues": q_feat_eigenvalues,
        "feat_covariance": q_feat_covariance,
        "reprojection": q_reprojection,
        "reprojection_utm": q_reprojection_utm,
        "reprojection_lcc": q_reprojection_lcc,
        "reprojection_albers": q_reprojection_albers,
        "projpipeline_utm_inv": q_projpipeline_utm_inv,
        "projpipeline_datum_shift": q_projpipeline_datum_shift,
        "projpipeline_polar": q_projpipeline_polar,
        "transformation": q_transformation,
        "info_bounds": q_info_bounds,
        "doclen_quantiles": q_doclen_quantiles,
        "bucketed_join": q_bucketed_join,
        "voxel_center_nn": q_voxel_center_nn,
        "voxel_centroid_nn": q_voxel_centroid_nn,
        "tindex": q_tindex,
        "las_roundtrip": q_las_roundtrip,
        "las_laz_roundtrip": q_las_laz_roundtrip,
        "las_laz_roundtrip_var": q_las_laz_roundtrip_var,
        "las_laz14_roundtrip": q_las_laz14_roundtrip,
        "warc_roundtrip": q_warc_roundtrip,
        "ept_query": q_ept_query,
        "ept_zstd_query": q_ept_zstd_query,
        "ept_laszip_query": q_ept_laszip_query,
        "ept_polygon_query": q_ept_polygon_query,
        "ept_addon": q_ept_addon,
        "tindex_read": q_tindex_read,
        "las_tiles": q_las_tiles,
        "gltf_manifest": q_gltf_manifest,
        "ogr_multipoint": q_ogr_multipoint,
        "delaunay_mesh": q_delaunay_mesh,
        "hag_delaunay": q_hag_delaunay,
        "plane_fit": q_plane_fit,
        "icp_register": q_icp_register,
        "miniball": q_miniball,
        "iqr_keep": q_iqr_keep,
        "mad_keep": q_mad_keep,
        "nn_distance": q_nn_distance,
        "outlier_radius": q_outlier_radius,
        "outlier_stat": q_outlier_stat,
        "delta_nearest": q_delta_nearest,
        "elm_noise": q_elm_noise,
        "scanline_views": q_scanline_views,
        "colorinterp": q_colorinterp,
        "overlay": q_overlay,
        "morton_forward": q_morton_forward,
        "hilbert_key": q_hilbert_key,
        "layout_optimize": q_layout_optimize,
        "gk_quantiles": q_gk_quantiles,
        "hag": q_hag,
        "ground_smrf": q_ground_smrf,
        "ground_pmf": q_ground_pmf,
        "skewness_balance": q_skewness_balance,
        "feat_normal": q_feat_normal,
        "feat_coplanar": q_feat_coplanar,
        "feat_rank": q_feat_rank,
        "fps": q_fps,
        "dem_keep": q_dem_keep,
        "colorization": q_colorization,
        "returns": q_returns,
        "cluster_sizes": q_cluster_sizes,
        "sample_poisson": q_sample_poisson,
        # rows-only entries (no DuckDB oracle; pytest-oracled instead) are
        # registered last so the driver's capped hash-check (first 50 slots)
        # spends itself on hash-verifiable queries.
        "bpe_merges": q_bpe_merges,
        "bpe_tokens": q_bpe_tokens,
        "unigram_tokens": q_unigram_tokens,
        "compression_ratio": q_compression_ratio,
    }


def oracle_sql() -> dict[str, str]:
    box_sql = crop_op.box_contains_sql(BOX)
    circle_sql = crop_op.circle_contains_sql(CIRCLE)
    poly_sql = crop_op.polygon_pnp_sql(POLY)
    tx_sql, ty_sql = splitter_op.split_sql(TILE_LEN, TILE_OX, TILE_OY)
    g0_sql = crop_op.box_contains_sql(crop_op.Box(-60.0, -60.0, 60.0, 60.0))
    g1_sql = crop_op.circle_contains_sql(crop_op.Circle(0.0, 0.0, 70.0))
    return {
        "crop_box": f"SELECT doc_id, x, y FROM ({_DOCS_GEO_SQL}) WHERE {box_sql}",
        "crop_box_outside": (
            f"SELECT doc_id, x, y FROM ({_DOCS_GEO_SQL}) WHERE NOT {box_sql}"
        ),
        "crop_circle": f"SELECT doc_id, x, y FROM ({_DOCS_GEO_SQL}) WHERE {circle_sql}",
        "crop_polygon": f"SELECT doc_id FROM ({_DOCS_GEO_SQL}) WHERE {poly_sql}",
        "crop_multi_geom": (
            f"SELECT doc_id, 0 AS geom_id FROM ({_DOCS_GEO_SQL}) WHERE {g0_sql} "
            f"UNION ALL "
            f"SELECT doc_id, 1 AS geom_id FROM ({_DOCS_GEO_SQL}) WHERE {g1_sql}"
        ),
        "splitter_assign": (
            f"SELECT doc_id, {tx_sql} AS tile_x, {ty_sql} AS tile_y "
            f"FROM ({_DOCS_GEO_SQL})"
        ),
        "splitter_counts": (
            f"SELECT {tx_sql} AS tile_x, {ty_sql} AS tile_y, "
            f"count(*) AS n_pages FROM ({_DOCS_GEO_SQL}) GROUP BY 1, 2"
        ),
        **_relational_oracles(),
        **_chipper_oracles(),
        **_raster_oracles(),
        **_datapipe_oracles(),
        **_feature_oracles(),
        **_eigen_oracles(),
        **_pointcloud_oracles(),
        **_misc_oracles(),
        **_dataquality_oracles(),
    }


def _misc_oracles() -> dict[str, str]:
    from pdal_spark.operators import reprojection as reproj_op

    mxs, mys, mw = reproj_op.reproject_sql("EPSG:4326", "EPSG:3857")
    reproj = f"""
      SELECT doc_id, round({mxs}, 4) AS mx, round({mys}, 4) AS my
      FROM ({_DOCS_GEO_SQL}) WHERE {mw}
    """
    uxs, uys, uw = reproj_op.reproject_sql("EPSG:4326", "EPSG:32631")
    reproj_utm = f"""
      SELECT doc_id, round({uxs}, 4) AS ue, round({uys}, 4) AS un
      FROM ({_DOCS_GEO_SQL}) WHERE {uw}
    """
    from pdal_spark.operators import projpipeline as pp_op

    pxs, pys, _, pw = pp_op.pipeline_sql(PIPE_UTM_INV)
    pipe_utm_inv = f"""
      WITH fwd AS (
        SELECT doc_id, {uxs} AS x, {uys} AS y
        FROM ({_DOCS_GEO_SQL}) WHERE {uw}
      )
      SELECT doc_id, round({pxs}, 6) AS lon, round({pys}, 6) AS lat
      FROM fwd WHERE {pw}
    """
    dxs, dys, _, dw = pp_op.pipeline_sql(PIPE_DATUM)
    pipe_datum = f"""
      SELECT doc_id, round({dxs}, 6) AS lon, round({dys}, 6) AS lat
      FROM ({_DOCS_GEO_SQL}) WHERE {dw}
    """
    sxs, sys_, _, sw = pp_op.pipeline_sql(PIPE_POLAR)
    pipe_polar = f"""
      SELECT doc_id, round({sxs}, 3) AS px, round({sys_}, 3) AS py
      FROM ({_DOCS_GEO_SQL}) WHERE {sw}
    """
    axs, ays, aw = reproj_op.reproject_sql("EPSG:4326", "EPSG:5070")
    reproj_albers = f"""
      SELECT doc_id, round({axs}, 3) AS ae, round({ays}, 3) AS an
      FROM ({_DOCS_GEO_SQL}) WHERE {aw}
    """
    lxs, lys, lw = reproj_op.reproject_sql("EPSG:4326", "EPSG:2154")
    reproj_lcc = f"""
      SELECT doc_id, round({lxs}, 4) AS le, round({lys}, 4) AS ln
      FROM ({_DOCS_GEO_SQL}) WHERE {lw}
    """
    from pdal_spark.operators import ogr as ogr_op

    ogr_mp = ogr_op.ogr_features_sql(
        f"(SELECT doc_id, ({_X_SQL}) AS x, ({_Y_SQL}) AS y, "
        f"CAST(n_chars AS DOUBLE) AS z FROM documents) t",
        z="z", multicount=4, order_col="doc_id",
    )
    m = AFFINE
    transformation = f"""
      SELECT doc_id,
             round({_dbl(m[0])} * x + {_dbl(m[1])} * y + {_dbl(m[3])}, 9) AS x,
             round({_dbl(m[4])} * x + {_dbl(m[5])} * y + {_dbl(m[7])}, 9) AS y
      FROM ({_DOCS_GEO_SQL})
    """
    info = f"""
      SELECT count(*) AS num_points, min(x) AS min_x, max(x) AS max_x,
             min(y) AS min_y, max(y) AS max_y
      FROM ({_DOCS_GEO_SQL})
    """
    # voxel center NN: cell 20, origin (-180,-90); tie by doc_id
    gx = "CAST(floor((x - (-180.0)) / 20.0) AS BIGINT)"
    gy = "CAST(floor((y - (-90.0)) / 20.0) AS BIGINT)"
    cx = f"((({gx}) + 0.5) * 20.0 + (-180.0))"
    cy = f"((({gy}) + 0.5) * 20.0 + (-90.0))"
    vox = f"""
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (
          PARTITION BY {gx}, {gy}
          ORDER BY ((x - {cx}) * (x - {cx}) + (y - {cy}) * (y - {cy})) ASC,
                   doc_id ASC
        ) AS rn
        FROM ({_DOCS_GEO_SQL})
      ) WHERE rn = 1
    """
    iqr = """
      WITH q AS (
        SELECT quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
        FROM events
      )
      SELECT event_id, value FROM events, q
      WHERE value > q.q1 - 1.5 * (q.q3 - q.q1)
        AND value < q.q3 + 1.5 * (q.q3 - q.q1)
    """
    mad = """
      WITH med AS (SELECT quantile_cont(value, 0.5) AS m FROM events),
      madv AS (
        SELECT quantile_cont(abs(value - med.m), 0.5) AS mad
        FROM events, med
      )
      SELECT event_id, value FROM events, med, madv
      WHERE abs(value - med.m) < 2.0 * madv.mad
    """
    nnk = f"""
      WITH pts AS ({_DOCS_GEO_SQL}),
      knn AS (
        SELECT s.doc_id AS src,
               sqrt((s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y)) AS dist,
               row_number() OVER (
                 PARTITION BY s.doc_id
                 ORDER BY ((s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y)) ASC,
                          c.doc_id ASC
               ) AS rank
        FROM pts s JOIN pts c ON s.doc_id <> c.doc_id
      )
      SELECT p.doc_id, round(k.dist, 6) AS nn_distance
      FROM pts p LEFT JOIN (SELECT * FROM knn WHERE rank = 4) k
        ON k.src = p.doc_id
    """
    outlier = f"""
      WITH pts AS ({_DOCS_GEO_SQL}),
      counts AS (
        SELECT s.doc_id, count(*) AS n
        FROM pts s JOIN pts c
          ON ((s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y)) <= {_dbl(10.0 * 10.0)}
        GROUP BY 1
      )
      SELECT p.doc_id,
             CAST(CASE WHEN coalesce(n, 0) > 2 THEN 0 ELSE 7 END AS INTEGER)
               AS classification
      FROM pts p LEFT JOIN counts USING (doc_id)
    """
    delta = f"""
      WITH pts AS ({_DOCS_GEO_SQL}),
      src AS (SELECT * FROM pts WHERE doc_id % 2 = 0),
      cand AS (SELECT * FROM pts WHERE doc_id % 2 = 1),
      nn AS (
        SELECT * FROM (
          SELECT s.doc_id, s.x AS sx, s.y AS sy, c.x AS cx2, c.y AS cy2,
                 sqrt((s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y)) AS dist,
                 row_number() OVER (
                   PARTITION BY s.doc_id
                   ORDER BY ((s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y)) ASC,
                            c.doc_id ASC
                 ) AS rank
          FROM src s JOIN cand c ON TRUE
        ) WHERE rank = 1
      )
      SELECT doc_id, round(sx - cx2, 9) AS delta_x, round(sy - cy2, 9) AS delta_y,
             round(dist, 9) AS delta_dist
      FROM nn
    """
    # voxel centroid NN: cell 20, origin (-180,-90); target = centroid,
    # or voxel center for 2-point voxels; tie = later arrival for n==2,
    # earlier otherwise (VoxelCentroidNearestNeighborFilter.cpp rules)
    vcn = f"""
      WITH pts AS ({_DOCS_GEO_SQL}),
      g AS (SELECT *, {gx} AS gx, {gy} AS gy FROM pts),
      a AS (
        SELECT *, count(*) OVER (PARTITION BY gx, gy) AS n,
               avg(x) OVER (PARTITION BY gx, gy) AS mx,
               avg(y) OVER (PARTITION BY gx, gy) AS my
        FROM g
      ),
      t AS (
        SELECT *,
               CASE WHEN n = 2 THEN ((gx + 0.5) * 20.0 + (-180.0)) ELSE mx END AS tx,
               CASE WHEN n = 2 THEN ((gy + 0.5) * 20.0 + (-90.0)) ELSE my END AS ty
        FROM a
      ),
      r AS (
        SELECT doc_id, row_number() OVER (
          PARTITION BY gx, gy
          ORDER BY ((x - tx) * (x - tx) + (y - ty) * (y - ty)) ASC,
                   (CASE WHEN n = 2 THEN -doc_id ELSE doc_id END) ASC
        ) AS rn
        FROM t
      )
      SELECT doc_id FROM r WHERE rn = 1
    """
    tx_sql = geo.tile_coord_sql("x", TILE_OX, TILE_LEN)
    ty_sql = geo.tile_coord_sql("y", TILE_OY, TILE_LEN)
    tind = f"""
      SELECT {tx_sql} AS tile_x, {ty_sql} AS tile_y,
             count(*) AS n_points,
             min(x) AS minx, min(y) AS miny, max(x) AS maxx, max(y) AS maxy
      FROM ({_DOCS_GEO_SQL}) GROUP BY 1, 2
    """
    outlier_stat = f"""
      WITH pts AS ({_DOCS_GEO_SQL}),
      knn AS (
        SELECT * FROM (
          SELECT s.doc_id AS src,
                 sqrt((s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y))
                   AS dist,
                 row_number() OVER (
                   PARTITION BY s.doc_id
                   ORDER BY ((s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y)) ASC,
                            c.doc_id ASC
                 ) AS rank
          FROM pts s JOIN pts c ON s.doc_id <> c.doc_id
        ) WHERE rank <= 4
      ),
      md AS (SELECT src, avg(dist) AS mean_d FROM knn GROUP BY 1),
      thr AS (SELECT avg(mean_d) + 1.5 * stddev_samp(mean_d) AS t FROM md)
      SELECT p.doc_id,
             CAST(CASE WHEN md.mean_d >= thr.t THEN 7 ELSE 0 END AS INTEGER)
               AS classification
      FROM pts p JOIN md ON md.src = p.doc_id CROSS JOIN thr
    """
    gltf_man = f"""
      SELECT CAST({tx_sql} * 100000 + {ty_sql} AS BIGINT) AS tile_id,
             count(*) AS n_vertices,
             count(*) // 3 AS n_faces,
             5028 + 12 * count(*) + 12 * (count(*) // 3) AS byte_length
      FROM ({_DOCS_GEO_SQL}) GROUP BY 1 HAVING count(*) >= 3
    """
    # LAS round trip: the writer's quantization law (XForm::toScaled,
    # pdal_types.hpp:123 + sround, Utils.hpp:152 + int32 store) then the
    # reader's de-quantization (i * scale, LasReader.cpp loadPointV10) —
    # identical IEEE-double ops on both engines, so bit-comparable.
    ls = _dbl(1e-6)

    def _squant(col: str) -> str:
        v = f"(({col}) - 0.0) / {ls}"
        return (
            f"(CAST(CASE WHEN {v} > 0 THEN FLOOR({v} + 0.5) "
            f"ELSE CEIL({v} - 0.5) END AS BIGINT) * {ls})"
        )

    las_rt = f"""
      WITH g AS (
        SELECT doc_id, ({_X_SQL}) AS x, ({_Y_SQL}) AS y,
               ((doc_id * 7919) % 1000) * 0.05 AS z
        FROM documents
      )
      SELECT doc_id,
             {_squant('x')} AS x,
             {_squant('y')} AS y,
             {_squant('z')} AS z,
             CAST(doc_id % 65536 AS INTEGER) AS intensity,
             CAST(doc_id % 5 + 1 AS INTEGER) AS return_number
      FROM g
    """
    # EPT build+query: the builder quantizes each axis with
    # floor((v - min)/0.01 + 0.5) (formats/ept.py write_ept); the same
    # arithmetic in SQL makes the box-filtered doc_id set bit-exact.
    def _eq(col: str, off: str) -> str:
        return (
            f"(CAST(FLOOR((({col}) - {off}) / 0.01 + 0.5) AS BIGINT) "
            f"* 0.01 + {off})"
        )

    ept_q = f"""
      WITH g AS (
        SELECT doc_id, ({_X_SQL}) AS x, ({_Y_SQL}) AS y,
               CAST(n_chars AS DOUBLE) AS z
        FROM documents
      ),
      b AS (SELECT min(x) AS ox, min(y) AS oy, min(z) AS oz FROM g),
      q AS (
        SELECT doc_id, {_eq('x', 'ox')} AS qx, {_eq('y', 'oy')} AS qy,
               {_eq('z', 'oz')} AS qz
        FROM g, b
      )
      SELECT doc_id, qx AS x, qy AS y FROM q
      WHERE qx >= -120.0 AND qx <= 120.0
        AND qy >= -60.0 AND qy <= 60.0
        AND qz >= 0.0 AND qz <= 400.0
    """
    ept_poly_q = f"""
      WITH g AS (
        SELECT doc_id, ({_X_SQL}) AS x, ({_Y_SQL}) AS y,
               CAST(n_chars AS DOUBLE) AS z
        FROM documents
      ),
      b AS (SELECT min(x) AS ox, min(y) AS oy, min(z) AS oz FROM g),
      q AS (
        SELECT doc_id, {_eq('x', 'ox')} AS qx, {_eq('y', 'oy')} AS qy
        FROM g, b
      )
      SELECT doc_id, qx AS x, qy AS y FROM q
      WHERE {crop_op.polygon_pnp_sql(POLY, 'qx', 'qy')}
    """
    ept_addon_q = f"""
      WITH g AS (
        SELECT doc_id, ({_X_SQL}) AS x, ({_Y_SQL}) AS y,
               CAST(n_chars AS DOUBLE) AS z
        FROM documents
      ),
      b AS (SELECT min(x) AS ox FROM g)
      SELECT doc_id,
             CASE WHEN {_eq('x', 'ox')} > 0
                  THEN CAST(doc_id AS DOUBLE) * 2 + 1
                  ELSE 0.0 END AS hag_addon
      FROM g, b
    """

    las_tiles = f"""
      SELECT CAST({tx_sql} AS VARCHAR) || '_' || CAST({ty_sql} AS VARCHAR)
               AS "group",
             count(*) AS count,
             min(x) AS minx, min(y) AS miny, max(x) AS maxx, max(y) AS maxy
      FROM ({_DOCS_GEO_SQL}) GROUP BY 1
    """

    # LAS sround quantization (Utils.hpp:152, half away from zero) at
    # scale 0.01, offset 0 — what write_las_parts stores and read_las
    # de-quantizes back to doubles
    def _lq(col: str) -> str:
        return (
            f"(CASE WHEN ({col}) >= 0 "
            f"THEN FLOOR(({col}) / 0.01 + 0.5) "
            f"ELSE -FLOOR(-({col}) / 0.01 + 0.5) END) * 0.01"
        )

    tb = TINDEX_BBOX
    tindex_read_q = f"""
      WITH g AS (
        SELECT doc_id, x, y, {tx_sql} AS tx, {ty_sql} AS ty
        FROM ({_DOCS_GEO_SQL})
      ),
      m AS (
        SELECT tx, ty, min(x) AS minx, min(y) AS miny,
               max(x) AS maxx, max(y) AS maxy
        FROM g GROUP BY 1, 2
      ),
      keep AS (
        SELECT tx, ty FROM m
        WHERE minx <= {_dbl(tb[2])} AND maxx >= {_dbl(tb[0])}
          AND miny <= {_dbl(tb[3])} AND maxy >= {_dbl(tb[1])}
      )
      SELECT g.doc_id, {_lq('g.x')} AS x, {_lq('g.y')} AS y
      FROM g JOIN keep USING (tx, ty)
    """
    warc_rt = """
      SELECT 'http://corpus.example/doc/' || doc_id AS url,
             '2026-08-19T00:' ||
               lpad(CAST((doc_id % 3600) // 60 AS VARCHAR), 2, '0') || ':' ||
               lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || 'Z' AS warc_date,
             '<urn:md5:' || md5('http://corpus.example/doc/' || doc_id)
               || '>' AS record_id,
             CAST(octet_length(CAST(text AS BLOB)) AS BIGINT)
               AS content_length,
             text
      FROM documents
    """
    return {
        "reprojection": reproj,
        "reprojection_utm": reproj_utm,
        "reprojection_lcc": reproj_lcc,
        "reprojection_albers": reproj_albers,
        "projpipeline_utm_inv": pipe_utm_inv,
        "projpipeline_datum_shift": pipe_datum,
        "projpipeline_polar": pipe_polar,
        "las_roundtrip": las_rt,
        "las_laz_roundtrip": las_rt,
        "las_laz_roundtrip_var": las_rt,
        "las_laz14_roundtrip": f"""
      WITH g AS (
        SELECT doc_id, ({_X_SQL}) AS x, ({_Y_SQL}) AS y,
               ((doc_id * 7919) % 1000) * 0.05 AS z
        FROM documents
      )
      SELECT doc_id,
             {_squant('x')} AS x,
             {_squant('y')} AS y,
             {_squant('z')} AS z,
             CAST(doc_id % 65536 AS INTEGER) AS intensity,
             CAST(doc_id % 9 + 1 AS INTEGER) AS return_number,
             CAST(doc_id % 4 AS INTEGER) AS scan_channel,
             CAST(doc_id % 256 AS INTEGER) AS classification,
             CAST((doc_id * 31) % 65536 AS INTEGER) AS red
      FROM g
    """,
        "warc_roundtrip": warc_rt,
        "ept_query": ept_q,
        "ept_zstd_query": ept_q,
        "ept_laszip_query": ept_q,
        "ept_polygon_query": ept_poly_q,
        "ept_addon": ept_addon_q,
        "tindex_read": tindex_read_q,
        "las_tiles": las_tiles,
        "outlier_stat": outlier_stat,
        "transformation": transformation,
        "info_bounds": info,
        "doclen_quantiles": _doclen_quantiles_oracle(),
        "bucketed_join": (
            "SELECT lang, count(*) AS n,"
            " CAST(sum(length(text) % 97) AS BIGINT) AS sum_score,"
            " CAST(sum(length(text)) AS BIGINT) AS sum_chars"
            " FROM documents GROUP BY lang"
        ),
        "voxel_center_nn": vox,
        "voxel_centroid_nn": vcn,
        "tindex": tind,
        "gltf_manifest": gltf_man,
        "ogr_multipoint": ogr_mp,
        "iqr_keep": iqr,
        "mad_keep": mad,
        "nn_distance": nnk,
        "outlier_radius": outlier,
        "delta_nearest": delta,
    }


def _pointcloud_oracles() -> dict[str, str]:
    docs_z = (
        f"SELECT doc_id, CAST(n_chars AS DOUBLE) AS z, "
        f"({_X_SQL}) AS x, ({_Y_SQL}) AS y FROM documents"
    )
    elm = f"""
      WITH pts AS ({docs_z}),
      cells AS (
        SELECT *, CAST(trunc(floor(x - (-180.0)) / {_dbl(ELM_CELL)}) AS BIGINT) AS cx,
                  CAST(trunc(floor(y - (-90.0)) / {_dbl(ELM_CELL)}) AS BIGINT) AS cy
        FROM pts
      ),
      ordd AS (
        SELECT *, row_number() OVER (PARTITION BY cx, cy ORDER BY z, doc_id) AS rk,
               lead(z) OVER (PARTITION BY cx, cy ORDER BY z, doc_id) AS nz
        FROM cells
      ),
      flag AS (
        SELECT *, CASE WHEN nz IS NULL THEN TRUE
                       ELSE abs(z - nz) < {_dbl(ELM_THR)} END AS gap_small
        FROM ordd
      ),
      stops AS (
        SELECT cx, cy, min(CASE WHEN gap_small THEN rk END) AS first_stop
        FROM flag GROUP BY 1, 2
      )
      SELECT f.doc_id,
             CAST(CASE WHEN f.rk < s.first_stop THEN 7 ELSE 0 END AS INTEGER)
               AS classification
      FROM flag f JOIN stops s USING (cx, cy)
    """
    scanline = """
      SELECT event_id,
             CAST(coalesce(sum(CASE WHEN event_id % 7 = 6 THEN 1 ELSE 0 END)
               OVER (ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2
               AS BIGINT) AS view_id
      FROM events
    """
    # colorinterp: pos = floor((v-min)/(max-min) * 4), skip v<0 or v>=100
    pos = "least(CAST(trunc(floor((value - 0.0) / 100.0 * 4)) AS INTEGER), 3)"
    reds = [str(c[0]) for c in RAMP]
    greens = [str(c[1]) for c in RAMP]
    blues = [str(c[2]) for c in RAMP]

    def pick(vals):
        return (
            f"CASE {pos} WHEN 0 THEN {vals[0]} WHEN 1 THEN {vals[1]} "
            f"WHEN 2 THEN {vals[2]} ELSE {vals[3]} END"
        )

    colorinterp = f"""
      SELECT event_id,
             CASE WHEN value >= 0.0 AND value < 100.0 THEN {pick(reds)} END AS red,
             CASE WHEN value >= 0.0 AND value < 100.0 THEN {pick(greens)} END AS green,
             CASE WHEN value >= 0.0 AND value < 100.0 THEN {pick(blues)} END AS blue
      FROM events
    """
    p1 = crop_op.polygon_pnp_sql(OVL_P1)
    p2 = crop_op.polygon_pnp_sql(OVL_P2)
    overlay = f"""
      SELECT doc_id,
             CASE WHEN {p2} THEN 20 WHEN {p1} THEN 10 END AS ovl
      FROM ({_DOCS_GEO_SQL})
    """
    # morton forward: xi/yi = trunc-normalized int31; x bit at 2b+1, y at 2b
    minx, miny, maxx, maxy = MORTON_BOUNDS
    xi = f"CAST(trunc((x - ({_dbl(minx)})) / {_dbl(maxx - minx)} * 2147483647) AS BIGINT)"
    yi = f"CAST(trunc((y - ({_dbl(miny)})) / {_dbl(maxy - miny)} * 2147483647) AS BIGINT)"
    terms = []
    for b in range(31):
        terms.append(f"((({xi} >> {b}) & 1) << {2 * b + 1})")
        terms.append(f"((({yi} >> {b}) & 1) << {2 * b})")
    morton = f"""
      WITH pts AS ({_DOCS_GEO_SQL}),
      keyed AS (SELECT doc_id, ({' + '.join(terms)}) AS morton_key FROM pts)
      SELECT doc_id, morton_key,
             CAST(row_number() OVER (ORDER BY morton_key, doc_id) AS BIGINT)
               AS morton_rank
      FROM keyed
    """
    hag = f"""
      WITH pts AS (
        SELECT doc_id, x, y, z,
               CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS cls
        FROM ({docs_z})
      ),
      ground AS (SELECT * FROM pts WHERE cls = 2),
      ng AS (SELECT * FROM pts WHERE cls <> 2),
      knn AS (
        SELECT * FROM (
          SELECT q.doc_id AS src, g.doc_id AS cand, g.z AS gz,
                 g.x AS gx, g.y AS gy, q.x AS qx, q.y AS qy,
                 ((q.x - g.x) * (q.x - g.x) + (q.y - g.y) * (q.y - g.y)) AS d2,
                 row_number() OVER (
                   PARTITION BY q.doc_id
                   ORDER BY ((q.x - g.x) * (q.x - g.x) + (q.y - g.y) * (q.y - g.y)) ASC,
                            g.doc_id ASC
                 ) AS rank
          FROM ng q JOIN ground g ON TRUE
        ) WHERE rank <= 3
      ),
      per AS (
        SELECT src,
               max(CASE WHEN rank = 1 AND qx = gx AND qy = gy THEN gz END)
                 AS exact_z,
               sum(gz * (1.0 / d2)) / sum(1.0 / d2) AS idw_z
        FROM knn GROUP BY 1
      )
      SELECT p.doc_id,
             round(CASE WHEN p.cls = 2 THEN 0.0
                        ELSE p.z - coalesce(per.exact_z, per.idw_z, p.z) END, 6)
               AS hag
      FROM pts p LEFT JOIN per ON per.src = p.doc_id
    """
    # skewness balancing: cumulative power sums in (value, event_id)
    # order; skew_prev derived by subtracting the row's own contribution
    def _skw(n, s1, s2, s3):
        m1 = f"({s1} / {n})"
        m2 = f"({s2} - {s1} * {s1} / {n})"
        m3 = f"({s3} - 3.0 * {m1} * {s2} + 2.0 * {n} * {m1} * {m1} * {m1})"
        return f"(CASE WHEN {m2} > 0 THEN sqrt({n}) * {m3} / power({m2}, 1.5) END)"

    skew_cur = _skw("n", "s1", "s2", "s3")
    skew_prev = _skw("(n - 1.0)", "(s1 - value)", "(s2 - value * value)",
                     "(s3 - value * value * value)")
    skewness = f"""
      WITH r AS (
        SELECT event_id, value,
               CAST(count(*) OVER w AS DOUBLE) AS n,
               sum(value) OVER w AS s1,
               sum(value * value) OVER w AS s2,
               sum(value * value * value) OVER w AS s3
        FROM events
        WINDOW w AS (ORDER BY value, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ),
      sk AS (
        SELECT event_id, n, {skew_cur} AS skew,
               CASE WHEN n > 1 THEN {skew_prev} END AS skew_prev
        FROM r
      ),
      lf AS (
        SELECT max(CASE WHEN skew > 0 AND coalesce(skew_prev <= 0, FALSE)
                        THEN n END) AS v
        FROM sk
      ),
      fin AS (SELECT skew FROM sk ORDER BY n DESC LIMIT 1)
      SELECT sk.event_id,
             CAST(CASE WHEN lf.v IS NULL
                       THEN (CASE WHEN fin.skew > 0 THEN 1 ELSE 2 END)
                       WHEN sk.n < lf.v THEN 2 ELSE 1 END AS INTEGER)
               AS classification
      FROM sk, lf, fin
    """
    returns_sql = """
      WITH r AS (
        SELECT event_id, CAST(event_id % 3 + 1 AS INTEGER) AS rn,
               CAST(CASE WHEN event_id % 5 = 0 THEN 1 ELSE 3 END AS INTEGER)
                 AS nr
        FROM events
      ),
      lab AS (
        SELECT event_id,
               CASE WHEN nr = 1 THEN 'only' WHEN rn = 1 THEN 'first'
                    WHEN rn = nr THEN 'last' ELSE 'intermediate' END
                 AS return_group
        FROM r
      )
      SELECT event_id, return_group FROM lab
      WHERE return_group IN ('first', 'only')
    """
    return {
        "skewness_balance": skewness,
        "returns": returns_sql,
        "elm_noise": elm,
        "scanline_views": scanline,
        "colorinterp": colorinterp,
        "overlay": overlay,
        "morton_forward": morton,
        "hilbert_key": _hilbert_oracle(),
        "layout_optimize": _layout_optimize_oracle(),
        "gk_quantiles": """
          SELECT q, (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n,
                 true AS certified, true AS exact_ok
          FROM (VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
                       (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE))) t(q)
        """,
        "hag": hag,
    }


def _hilbert_oracle() -> str:
    from pdal_spark.operators.layout import hilbert_key_sql

    return (f"SELECT doc_id, {hilbert_key_sql('x', 'y', MORTON_BOUNDS)}"
            f" AS hilbert_key FROM ({_DOCS_GEO_SQL})")


def _layout_optimize_oracle() -> str:
    # the pruned clustered read must equal the plain filter
    return f"""
      SELECT doc_id, round(x, 9) AS x, round(y, 9) AS y
      FROM ({_DOCS_GEO_SQL})
      WHERE x >= 10.0 AND x <= 60.0 AND y >= 10.0 AND y <= 40.0
    """


def _eigen_cov_sql(pts_sql: str, k: int, three_d: bool,
                   exclude_self: bool = False) -> str:
    """Shared CTE chain: (d2, id)-ranked kNN (self-inclusive, or
    features._self_knn(exclude_self=True)) -> float32-demeaned
    neighborhood covariance (EigenUtils.cpp:196-206 round-trip,
    /(n-1)) — the SQL twin of features._neighbor_cov."""
    self_pred = "s.doc_id <> c.doc_id" if exclude_self else "TRUE"
    zc = "c.z" if three_d else "0.0"
    zcols = (
        ", CAST(CAST(nb.pz - cent.mz AS FLOAT) AS DOUBLE) AS az"
        if three_d else ""
    )
    zcov = (
        ", sum(ax*az)/(any_value(n)-1) AS cxz, "
        "sum(ay*az)/(any_value(n)-1) AS cyz, "
        "sum(az*az)/(any_value(n)-1) AS czz"
        if three_d else ""
    )
    return f"""
      pts AS ({pts_sql}),
      knn AS (
        SELECT * FROM (
          SELECT s.doc_id AS src, c.doc_id AS cand,
                 row_number() OVER (
                   PARTITION BY s.doc_id
                   ORDER BY ((s.x-c.x)*(s.x-c.x)+(s.y-c.y)*(s.y-c.y)) ASC,
                            c.doc_id ASC
                 ) AS rank
          FROM pts s JOIN pts c ON {self_pred}
        ) WHERE rank <= {k}
      ),
      nb AS (
        SELECT k.src, c.x AS px, c.y AS py, {zc} AS pz
        FROM knn k JOIN pts c ON c.doc_id = k.cand
      ),
      cent AS (
        SELECT src, avg(px) AS mx, avg(py) AS my, avg(pz) AS mz,
               count(*) AS n
        FROM nb GROUP BY 1
      ),
      dem AS (
        SELECT nb.src, cent.n,
               CAST(CAST(nb.px - cent.mx AS FLOAT) AS DOUBLE) AS ax,
               CAST(CAST(nb.py - cent.my AS FLOAT) AS DOUBLE) AS ay
               {zcols}
        FROM nb JOIN cent USING (src)
      ),
      cov AS (
        SELECT src AS doc_id, any_value(n) AS n,
               sum(ax*ax)/(any_value(n)-1) AS cxx,
               sum(ax*ay)/(any_value(n)-1) AS cxy,
               sum(ay*ay)/(any_value(n)-1) AS cyy
               {zcov}
        FROM dem GROUP BY src
      )
    """


# DuckDB twin of the symmetric 3x3 trigonometric eigenvalue closed form
# (ascending e0 <= e1 <= e2) over cov(cxx..czz); identical decision
# values to numpy eigh within ~eps*||A|| — outputs that depend on them
# are rounded/thresholded with O(1) margins.
_EIG3_SQL = """
      tri AS (
        SELECT doc_id,
               (cxx + cyy + czz) / 3 AS q,
               cxy*cxy + cxz*cxz + cyz*cyz AS p1,
               cxx AS a, cyy AS b, czz AS c, cxy AS d, cxz AS e, cyz AS f
        FROM cov
      ),
      tri2 AS (
        SELECT doc_id, q, a, b, c, d, e, f,
               sqrt(greatest(
                 ((a-q)*(a-q) + (b-q)*(b-q) + (c-q)*(c-q) + 2*p1) / 6,
                 0.0)) AS p
        FROM tri
      ),
      tri3 AS (
        SELECT doc_id, q, p,
               CASE WHEN p = 0 THEN 0.0 ELSE
                 acos(least(greatest(
                   ((a-q)*((b-q)*(c-q) - f*f)
                    - d*(d*(c-q) - f*e)
                    + e*(d*f - (b-q)*e)) / (2*p*p*p),
                 -1.0), 1.0)) / 3
               END AS phi
        FROM tri2
      ),
      eig3 AS (
        SELECT doc_id,
               q + 2*p*cos(phi + 2*pi()/3) AS e0,
               3*q - (q + 2*p*cos(phi + 2*pi()/3)) - (q + 2*p*cos(phi)) AS e1,
               q + 2*p*cos(phi) AS e2
        FROM tri3
      )
"""


def _circumcircle_struct_sql(ax: str, ay: str, bx: str, by: str,
                             cx: str, cy: str) -> str:
    """SQL struct {'cx','cy','r2'}: circumcircle of points A, B, C —
    the same local-coordinate formula as mesh._circumcircles."""
    abx = f"({bx}-{ax})"
    aby = f"({by}-{ay})"
    acx = f"({cx}-{ax})"
    acy = f"({cy}-{ay})"
    ab2 = f"({abx}*{abx} + {aby}*{aby})"
    ac2 = f"({acx}*{acx} + {acy}*{acy})"
    d0 = f"(2.0*({abx}*{acy} - {aby}*{acx}))"
    d = f"(CASE WHEN {d0} = 0 THEN 4.9e-324 ELSE {d0} END)"
    ux = f"(({acy}*{ab2} - {aby}*{ac2}) / {d})"
    uy = f"(({abx}*{ac2} - {acx}*{ab2}) / {d})"
    return (f"{{'cx': {ax} + {ux}, 'cy': {ay} + {uy}, "
            f"'r2': {ux}*{ux} + {uy}*{uy}}}")


def _delaunay_cte_sql(pts_sql: str) -> str:
    """Bowyer-Watson as a list-state recursive CTE — a complete,
    independent Delaunay implementation in DuckDB. The engine's tiled
    operator certifies its output as THE Delaunay triangulation
    (incircle verification + Euler count, general position), and the DT
    is unique, so any correct strict-incircle construction yields the
    identical face set — this one inserts points in arrival order over
    a scale-64 super-triangle (mesh._bowyer_watson's geometry) and
    canonicalizes CCW/min-first exactly like mesh._canonical.

    Returns the `WITH RECURSIVE ...` chain ending in `faces(a, b, c)`
    (canonical doc-id triples); append further CTEs or a SELECT."""
    sup = _circumcircle_struct_sql(
        "a.x3[a.n+1]", "a.y3[a.n+1]", "a.x3[a.n+2]", "a.y3[a.n+2]",
        "a.x3[a.n+3]", "a.y3[a.n+3]")
    new = _circumcircle_struct_sql(
        "a.x3[ed.u]", "a.y3[ed.u]", "a.x3[ed.v]", "a.y3[ed.v]",
        "p.px", "p.py")
    return f"""
      WITH RECURSIVE pts AS ({pts_sql}),
      arr0 AS (
        SELECT list(x ORDER BY doc_id) AS xs, list(y ORDER BY doc_id) AS ys,
               list(doc_id ORDER BY doc_id) AS dids, count(*) AS n,
               avg(x) AS cx0, avg(y) AS cy0,
               64.0 * greatest(max(x)-min(x), max(y)-min(y)) + 1.0 AS mm
        FROM pts
      ),
      arrs AS (
        SELECT dids, n,
               list_append(list_append(list_append(xs, cx0 - 2.0*mm),
                                       cx0 + 2.0*mm), cx0) AS x3,
               list_append(list_append(list_append(ys, cy0 - mm),
                                       cy0 - mm), cy0 + 2.0*mm) AS y3
        FROM arr0
      ),
      bw(i, tris, circ) AS (
        SELECT 1,
               [{{'a': CAST(a.n+1 AS INT), 'b': CAST(a.n+2 AS INT),
                  'c': CAST(a.n+3 AS INT)}}],
               [{sup}]
        FROM arrs a
        UNION ALL
        SELECT bw.i + 1, st.tris2, st.circ2
        FROM bw, arrs a,
        LATERAL (SELECT a.x3[bw.i] AS px, a.y3[bw.i] AS py) p,
        LATERAL (
          SELECT list_filter(range(1, len(bw.tris)+1),
                   j -> (bw.circ[j].cx - p.px)*(bw.circ[j].cx - p.px)
                      + (bw.circ[j].cy - p.py)*(bw.circ[j].cy - p.py)
                      < bw.circ[j].r2) AS badj
        ) b,
        LATERAL (
          SELECT flatten(list_transform(b.badj, j -> [
                   {{'u': bw.tris[j].a, 'v': bw.tris[j].b}},
                   {{'u': bw.tris[j].b, 'v': bw.tris[j].c}},
                   {{'u': bw.tris[j].c, 'v': bw.tris[j].a}}])) AS edges
        ) e,
        LATERAL (
          SELECT list_filter(e.edges, ed ->
                   len(list_filter(e.edges, f ->
                     least(f.u, f.v) = least(ed.u, ed.v)
                     AND greatest(f.u, f.v) = greatest(ed.u, ed.v))) = 1
                 ) AS boundary
        ) bd,
        LATERAL (
          SELECT CASE WHEN len(b.badj) = 0 THEN bw.tris ELSE
                   list_concat(
                     list_filter(bw.tris,
                       (t, j) -> NOT list_contains(b.badj, j)),
                     list_transform(bd.boundary,
                       ed -> {{'a': ed.u, 'b': ed.v,
                               'c': CAST(bw.i AS INT)}}))
                 END AS tris2,
                 CASE WHEN len(b.badj) = 0 THEN bw.circ ELSE
                   list_concat(
                     list_filter(bw.circ,
                       (t, j) -> NOT list_contains(b.badj, j)),
                     list_transform(bd.boundary, ed -> {new}))
                 END AS circ2
        ) st
        WHERE bw.i <= a.n
      ),
      final AS (
        SELECT list_filter(tris,
                 t -> t.a <= a.n AND t.b <= a.n AND t.c <= a.n) AS tris
        FROM bw, arrs a WHERE i = a.n + 1
      ),
      canon AS (
        SELECT t.a AS ia,
               CASE WHEN cw.cw THEN t.c ELSE t.b END AS ib,
               CASE WHEN cw.cw THEN t.b ELSE t.c END AS ic
        FROM final, arrs a, LATERAL (SELECT unnest(final.tris) AS t) u,
        LATERAL (SELECT ((a.x3[t.b]-a.x3[t.a])*(a.y3[t.c]-a.y3[t.a])
                       - (a.y3[t.b]-a.y3[t.a])*(a.x3[t.c]-a.x3[t.a])) < 0
                 AS cw) cw
      ),
      rot AS (
        SELECT CASE WHEN ia <= ib AND ia <= ic THEN [ia, ib, ic]
                    WHEN ib <= ia AND ib <= ic THEN [ib, ic, ia]
                    ELSE [ic, ia, ib] END AS f
        FROM canon
      ),
      faces AS (
        SELECT a.dids[f[1]] AS a, a.dids[f[2]] AS b, a.dids[f[3]] AS c
        FROM rot, arrs a
      )
    """


def _eigen_oracles() -> dict[str, str]:
    """SQL twins for the eigen feature family. 2-D inputs (z = 0):
    the 3x3 decouples into the closed-form 2x2 pair (em, ep) plus an
    exact-zero z eigenvalue — ascending order is
    (least(em, 0), greatest(em, 0), ep). 3-D inputs: trig closed form
    (_EIG3_SQL). `+ 0` after round() normalizes -0.0 on both engines."""
    k = FEAT_K
    cov2 = _eigen_cov_sql(_DOCS_GEO_SQL, k, three_d=False)
    eig2 = """
      eig AS (
        SELECT doc_id,
               (cxx+cyy)/2 - sqrt(((cxx-cyy)/2)*((cxx-cyy)/2) + cxy*cxy) AS em,
               (cxx+cyy)/2 + sqrt(((cxx-cyy)/2)*((cxx-cyy)/2) + cxy*cxy) AS ep
        FROM cov
      )
    """
    eigenvalues = f"""
      WITH {cov2}, {eig2}
      SELECT doc_id,
             round(least(em, 0.0), 6) + 0 AS eigenvalue0,
             round(greatest(em, 0.0), 6) + 0 AS eigenvalue1,
             round(ep, 6) + 0 AS eigenvalue2
      FROM eig
    """
    covk = _eigen_cov_sql(_DOCS_GEO_SQL, 11, three_d=False)
    covariance = f"""
      WITH {covk}, {eig2}
      SELECT doc_id,
             round((sqrt(ep) - sqrt(greatest(em, 0.0))) / sqrt(ep), 6) + 0
               AS linearity,
             round(sqrt(greatest(em, 0.0)) / sqrt(ep), 6) + 0 AS planarity,
             CAST(0.0 AS DOUBLE) AS scattering,
             CAST(0.0 AS DOUBLE) AS verticality
      FROM eig
    """
    docs_z_sql = (
        f"SELECT doc_id, CAST(n_chars AS DOUBLE) AS z, "
        f"({_X_SQL}) AS x, ({_Y_SQL}) AS y FROM documents"
    )
    cov3 = _eigen_cov_sql(docs_z_sql, k, three_d=True)
    coplanar = f"""
      WITH {cov3}, {_EIG3_SQL}
      SELECT doc_id,
             CASE WHEN e1 > 25.0 * e0 AND 6.0 * e1 > e2
                  THEN 1 ELSE 0 END AS coplanar
      FROM eig3
    """
    t32 = float(np.float32(0.01))
    est_rank = f"""
      WITH {cov3}, {_EIG3_SQL}
      SELECT doc_id,
             CASE WHEN greatest(abs(e0), abs(e1), abs(e2)) > 0 THEN
               (CASE WHEN abs(e0) > {_dbl(t32)} * greatest(abs(e0), abs(e1), abs(e2)) THEN 1 ELSE 0 END)
               + (CASE WHEN abs(e1) > {_dbl(t32)} * greatest(abs(e0), abs(e1), abs(e2)) THEN 1 ELSE 0 END)
               + (CASE WHEN abs(e2) > {_dbl(t32)} * greatest(abs(e0), abs(e1), abs(e2)) THEN 1 ELSE 0 END)
             ELSE 0 END AS est_rank
      FROM eig3
    """
    cluster_sizes = f"""
      WITH RECURSIVE pts AS ({_DOCS_GEO_SQL}),
      edges AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM pts a JOIN pts b
          ON a.doc_id <> b.doc_id
         AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 144.0
      ),
      reach(id, lab) AS (
        SELECT doc_id, doc_id FROM pts
        UNION
        SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.id
      ),
      comp AS (SELECT id, min(lab) AS root FROM reach GROUP BY 1),
      sizes AS (SELECT root, count(*) AS sz FROM comp GROUP BY 1),
      kept AS (
        SELECT root, row_number() OVER (ORDER BY root ASC) AS cluster_id
        FROM sizes WHERE sz >= 2
      )
      SELECT coalesce(k.cluster_id, 0) AS cluster_id, count(*) AS n
      FROM comp c LEFT JOIN kept k USING (root) GROUP BY 1
    """
    # filters.fps / filters.sample: the greedy sequential kernels are
    # exactly replicable as list-state recursive CTEs — every distance
    # is the same two IEEE ops ((dx*dx)+(dy*dy)) in both engines, and
    # the tie rules (np.argmax first-max; arrival order) map to
    # list_indexof / iteration order, so the match is bit-exact.
    fps_sql = f"""
      WITH RECURSIVE pts AS ({_DOCS_GEO_SQL}),
      arrs AS (
        SELECT list(x ORDER BY doc_id) AS xs, list(y ORDER BY doc_id) AS ys,
               list(doc_id ORDER BY doc_id) AS ids, count(*) AS n
        FROM pts
      ),
      it(step, sel, mind) AS (
        SELECT 0, [CAST(1 AS BIGINT)],
               list_transform(range(1, n + 1),
                 i -> (xs[i]-xs[1])*(xs[i]-xs[1]) + (ys[i]-ys[1])*(ys[i]-ys[1]))
        FROM arrs
        UNION ALL
        SELECT step + 1,
               list_append(sel, CAST(list_indexof(mind, list_max(mind)) AS BIGINT)),
               list_transform(range(1, a.n + 1), i -> least(mind[i],
                 (a.xs[i]-a.xs[list_indexof(mind, list_max(mind))])*(a.xs[i]-a.xs[list_indexof(mind, list_max(mind))])
               + (a.ys[i]-a.ys[list_indexof(mind, list_max(mind))])*(a.ys[i]-a.ys[list_indexof(mind, list_max(mind))])))
        FROM it, arrs a WHERE step < 49
      )
      SELECT a.ids[pos] AS doc_id, ord - 1 AS fps_order
      FROM (SELECT unnest(sel) AS pos, unnest(range(1, 51)) AS ord
            FROM it WHERE step = 49), arrs a
    """
    sample_sql = f"""
      WITH RECURSIVE pts AS ({_DOCS_GEO_SQL}),
      arrs AS (
        SELECT list(x ORDER BY doc_id) AS xs, list(y ORDER BY doc_id) AS ys,
               list(doc_id ORDER BY doc_id) AS ids, count(*) AS n
        FROM pts
      ),
      it(i, kept) AS (
        SELECT 1, [CAST(1 AS BIGINT)] FROM arrs
        UNION ALL
        SELECT i + 1,
               CASE WHEN list_min(list_transform(kept, j ->
                      (a.xs[i+1]-a.xs[j])*(a.xs[i+1]-a.xs[j])
                    + (a.ys[i+1]-a.ys[j])*(a.ys[i+1]-a.ys[j]))) <= 100.0
                    THEN kept ELSE list_append(kept, CAST(i + 1 AS BIGINT)) END
        FROM it, arrs a WHERE i < a.n
      )
      SELECT a.ids[pos] AS doc_id
      FROM (SELECT unnest(kept) AS pos FROM it, arrs WHERE i = arrs.n), arrs a
    """
    # filters.chipper full membership: the BSP recursion itself as a
    # recursive CTE — nodes carry the subset as a wide-axis-ordered id
    # list; the cumulate-and-lround boundaries come from a sequential
    # scalar recursion (windowed SUM would not reproduce the float
    # accumulation order). Bit-exact vs chip_assign_np on the driver
    # table and on randomized tie-heavy fixtures.
    cap = CHIP_CAP
    chipper_sql = f"""
      WITH RECURSIVE pts AS ({_DOCS_GEO_SQL}),
      arrs AS (
        SELECT list(x ORDER BY doc_id) AS xs, list(y ORDER BY doc_id) AS ys,
               list(doc_id ORDER BY doc_id) AS dids, count(*) AS n,
               CAST(count(*) // {cap}
                    + CASE WHEN count(*) % {cap} > 0 THEN 1 ELSE 0 END
                 AS BIGINT) AS num
        FROM pts
      ),
      cum(k, total) AS (
        SELECT 1, CAST(n AS DOUBLE)/num FROM arrs
        UNION ALL
        SELECT k+1, total + CAST(a.n AS DOUBLE)/a.num
        FROM cum, arrs a WHERE k < a.num
      ),
      pb AS (
        SELECT list_prepend(CAST(0 AS BIGINT),
                 list(CAST(floor(total + 0.5) AS BIGINT) ORDER BY k)) AS P
        FROM cum
      ),
      nodes(pleft, pright, wide, ids) AS (
        SELECT 0, CAST(a.num AS INT),
               CASE WHEN (list_max(a.xs) - list_min(a.xs))
                      > (list_max(a.ys) - list_min(a.ys)) THEN 0 ELSE 1 END,
               CASE WHEN (list_max(a.xs) - list_min(a.xs))
                      > (list_max(a.ys) - list_min(a.ys))
                    THEN list_transform(list_sort(list_transform(
                           range(1, a.n+1), i -> {{'p': a.xs[i], 'a': i}})),
                           s -> s.a)
                    ELSE list_transform(list_sort(list_transform(
                           range(1, a.n+1), i -> {{'p': a.ys[i], 'a': i}})),
                           s -> s.a)
               END
        FROM arrs a
        UNION ALL
        SELECT c.pl, c.pr, c.cwide, c.cids
        FROM nodes nd, arrs a, pb,
        LATERAL (SELECT ((nd.pleft + nd.pright) // 2) AS pc) s,
        LATERAL (SELECT * FROM (VALUES
            (nd.pleft, s.pc, list_slice(nd.ids, 1,
               CAST(pb.P[s.pc+1] - pb.P[nd.pleft+1] AS INT))),
            (s.pc, nd.pright, list_slice(nd.ids,
               CAST(pb.P[s.pc+1] - pb.P[nd.pleft+1] + 1 AS INT),
               CAST(pb.P[nd.pright+1] - pb.P[nd.pleft+1] AS INT)))
          ) AS t(pl, pr, seg)) c0,
        LATERAL (SELECT CASE WHEN
              (list_max(list_transform(c0.seg,
                 i -> CASE WHEN nd.wide=0 THEN a.xs[i] ELSE a.ys[i] END))
             - list_min(list_transform(c0.seg,
                 i -> CASE WHEN nd.wide=0 THEN a.xs[i] ELSE a.ys[i] END)))
            > (list_max(list_transform(c0.seg,
                 i -> CASE WHEN nd.wide=0 THEN a.ys[i] ELSE a.xs[i] END))
             - list_min(list_transform(c0.seg,
                 i -> CASE WHEN nd.wide=0 THEN a.ys[i] ELSE a.xs[i] END)))
            THEN nd.wide ELSE 1 - nd.wide END AS cwide) cw,
        LATERAL (SELECT CASE WHEN cw.cwide = nd.wide THEN c0.seg
              ELSE list_transform(list_sort(list_transform(c0.seg,
                     i -> {{'p': CASE WHEN cw.cwide=0 THEN a.xs[i]
                                  ELSE a.ys[i] END, 'a': i}})), st -> st.a)
              END AS cids, cw.cwide AS cwide, c0.pl AS pl, c0.pr AS pr) c
        WHERE nd.pright - nd.pleft > 2
      ),
      leaves AS (
        SELECT pleft AS chip_id, ids FROM nodes, pb WHERE pright - pleft = 1
        UNION ALL
        SELECT nd.pleft, list_slice(nd.ids, 1,
                 CAST(pb.P[nd.pleft+2] - pb.P[nd.pleft+1] AS INT))
        FROM nodes nd, pb WHERE nd.pright - nd.pleft = 2
        UNION ALL
        SELECT nd.pleft + 1, list_slice(nd.ids,
                 CAST(pb.P[nd.pleft+2] - pb.P[nd.pleft+1] + 1 AS INT),
                 CAST(pb.P[nd.pright+1] - pb.P[nd.pleft+1] AS INT))
        FROM nodes nd, pb WHERE nd.pright - nd.pleft = 2
      )
      SELECT a.dids[pos] AS doc_id, CAST(chip_id AS BIGINT) AS chip_id,
             CAST(ord - 1 AS BIGINT) AS chip_rank
      FROM (SELECT chip_id, unnest(ids) AS pos,
                   unnest(range(1, len(ids)+1)) AS ord FROM leaves), arrs a
    """
    cov3ex = _eigen_cov_sql(docs_z_sql, k, three_d=True, exclude_self=True)
    plane_fit_sql = f"""
      WITH {cov3ex}, {_EIG3_SQL},
      nrm AS (
        SELECT q.doc_id, q.c1 / q.nn AS nx, q.c2 / q.nn AS ny,
               q.c3 / q.nn AS nz
        FROM (
          SELECT e.doc_id,
                 CASE WHEN cr.n01 >= cr.n02 AND cr.n01 >= cr.n12 THEN cr.x01
                      WHEN cr.n02 >= cr.n12 THEN cr.x02 ELSE cr.x12 END AS c1,
                 CASE WHEN cr.n01 >= cr.n02 AND cr.n01 >= cr.n12 THEN cr.y01
                      WHEN cr.n02 >= cr.n12 THEN cr.y02 ELSE cr.y12 END AS c2,
                 CASE WHEN cr.n01 >= cr.n02 AND cr.n01 >= cr.n12 THEN cr.z01
                      WHEN cr.n02 >= cr.n12 THEN cr.z02 ELSE cr.z12 END AS c3,
                 sqrt(CASE WHEN cr.n01 >= cr.n02 AND cr.n01 >= cr.n12 THEN cr.n01
                           WHEN cr.n02 >= cr.n12 THEN cr.n02 ELSE cr.n12 END) AS nn
          FROM eig3 e JOIN cov USING (doc_id),
          LATERAL (SELECT cov.cxx - e.e0 AS b11, cov.cxy AS b12,
                          cov.cxz AS b13, cov.cyy - e.e0 AS b22,
                          cov.cyz AS b23, cov.czz - e.e0 AS b33) bb,
          LATERAL (
            SELECT bb.b12*bb.b23 - bb.b13*bb.b22 AS x01,
                   bb.b13*bb.b12 - bb.b11*bb.b23 AS y01,
                   bb.b11*bb.b22 - bb.b12*bb.b12 AS z01,
                   bb.b12*bb.b33 - bb.b13*bb.b23 AS x02,
                   bb.b13*bb.b13 - bb.b11*bb.b33 AS y02,
                   bb.b11*bb.b23 - bb.b12*bb.b13 AS z02,
                   bb.b22*bb.b33 - bb.b23*bb.b23 AS x12,
                   bb.b23*bb.b13 - bb.b12*bb.b33 AS y12,
                   bb.b12*bb.b23 - bb.b22*bb.b13 AS z12
          ) cx0,
          LATERAL (
            SELECT cx0.x01 AS x01, cx0.y01 AS y01, cx0.z01 AS z01,
                   cx0.x02 AS x02, cx0.y02 AS y02, cx0.z02 AS z02,
                   cx0.x12 AS x12, cx0.y12 AS y12, cx0.z12 AS z12,
                   cx0.x01*cx0.x01 + cx0.y01*cx0.y01 + cx0.z01*cx0.z01 AS n01,
                   cx0.x02*cx0.x02 + cx0.y02*cx0.y02 + cx0.z02*cx0.z02 AS n02,
                   cx0.x12*cx0.x12 + cx0.y12*cx0.y12 + cx0.z12*cx0.z12 AS n12
          ) cr
        ) q
      ),
      db AS (
        SELECT nb.src AS doc_id,
               sum(abs(n.nx*(nb.px - cent.mx) + n.ny*(nb.py - cent.my)
                     + n.nz*(nb.pz - cent.mz))) / {k} AS dbar
        FROM nb JOIN cent USING (src) JOIN nrm n ON n.doc_id = nb.src
        GROUP BY 1
      )
      SELECT p.doc_id,
             round(abs(n.nx*(p.x - cent.mx) + n.ny*(p.y - cent.my)
                     + n.nz*(p.z - cent.mz))
                   / (abs(n.nx*(p.x - cent.mx) + n.ny*(p.y - cent.my)
                        + n.nz*(p.z - cent.mz)) + db.dbar), 6) AS plane_fit
      FROM pts p
      JOIN cent ON cent.src = p.doc_id
      JOIN nrm n ON n.doc_id = p.doc_id
      JOIN db ON db.doc_id = p.doc_id
    """
    cov3i = _eigen_cov_sql(docs_z_sql, k, three_d=True)
    feat_normal_sql = f"""
      WITH {cov3i}, {_EIG3_SQL},
      nrm AS (
        SELECT q.doc_id,
               q.c1 / q.nn AS nx, q.c2 / q.nn AS ny, q.c3 / q.nn AS nz,
               q.e0 AS e0, q.es AS es
        FROM (
          SELECT e.doc_id, e.e0, e.e0 + e.e1 + e.e2 AS es,
                 CASE WHEN cr.n01 >= cr.n02 AND cr.n01 >= cr.n12 THEN cr.x01
                      WHEN cr.n02 >= cr.n12 THEN cr.x02 ELSE cr.x12 END AS c1,
                 CASE WHEN cr.n01 >= cr.n02 AND cr.n01 >= cr.n12 THEN cr.y01
                      WHEN cr.n02 >= cr.n12 THEN cr.y02 ELSE cr.y12 END AS c2,
                 CASE WHEN cr.n01 >= cr.n02 AND cr.n01 >= cr.n12 THEN cr.z01
                      WHEN cr.n02 >= cr.n12 THEN cr.z02 ELSE cr.z12 END AS c3,
                 sqrt(CASE WHEN cr.n01 >= cr.n02 AND cr.n01 >= cr.n12 THEN cr.n01
                           WHEN cr.n02 >= cr.n12 THEN cr.n02 ELSE cr.n12 END) AS nn
          FROM eig3 e JOIN cov USING (doc_id),
          LATERAL (SELECT cov.cxx - e.e0 AS b11, cov.cxy AS b12,
                          cov.cxz AS b13, cov.cyy - e.e0 AS b22,
                          cov.cyz AS b23, cov.czz - e.e0 AS b33) bb,
          LATERAL (
            SELECT bb.b12*bb.b23 - bb.b13*bb.b22 AS x01,
                   bb.b13*bb.b12 - bb.b11*bb.b23 AS y01,
                   bb.b11*bb.b22 - bb.b12*bb.b12 AS z01,
                   bb.b12*bb.b33 - bb.b13*bb.b23 AS x02,
                   bb.b13*bb.b13 - bb.b11*bb.b33 AS y02,
                   bb.b11*bb.b23 - bb.b12*bb.b13 AS z02,
                   bb.b22*bb.b33 - bb.b23*bb.b23 AS x12,
                   bb.b23*bb.b13 - bb.b12*bb.b33 AS y12,
                   bb.b12*bb.b23 - bb.b22*bb.b13 AS z12
          ) cx0,
          LATERAL (
            SELECT cx0.x01 AS x01, cx0.y01 AS y01, cx0.z01 AS z01,
                   cx0.x02 AS x02, cx0.y02 AS y02, cx0.z02 AS z02,
                   cx0.x12 AS x12, cx0.y12 AS y12, cx0.z12 AS z12,
                   cx0.x01*cx0.x01 + cx0.y01*cx0.y01 + cx0.z01*cx0.z01 AS n01,
                   cx0.x02*cx0.x02 + cx0.y02*cx0.y02 + cx0.z02*cx0.z02 AS n02,
                   cx0.x12*cx0.x12 + cx0.y12*cx0.y12 + cx0.z12*cx0.z12 AS n12
          ) cr
        ) q
      )
      SELECT doc_id,
             round(CASE WHEN nz < 0 THEN -nx ELSE nx END, 6) + 0 AS normal_x,
             round(CASE WHEN nz < 0 THEN -ny ELSE ny END, 6) + 0 AS normal_y,
             round(CASE WHEN nz < 0 THEN -nz ELSE nz END, 6) + 0 AS normal_z,
             round(CASE WHEN es <> 0 THEN abs(e0 / es) ELSE 0.0 END, 6) + 0
               AS curvature
      FROM nrm
    """
    # filters.miniball: the smallest enclosing ball is UNIQUE and its
    # support has <= 4 points, so enumerating every pair / non-collinear
    # triple / non-degenerate quad of the 8-neighbor set with the
    # engine's own sphere formulas (_seb_ball sphere_of) and keeping the
    # smallest candidate containing all neighbors (same 1e-9 tolerance)
    # reproduces the Welzl result without recursion.
    miniball_sql = f"""
      WITH pts AS (
        SELECT doc_id, CAST(n_chars AS DOUBLE) AS z,
               ({_X_SQL}) AS x, ({_Y_SQL}) AS y
        FROM documents
      ),
      knn AS (
        SELECT * FROM (
          SELECT s.doc_id AS src, c.doc_id AS cand,
                 c.x AS px, c.y AS py, c.z AS pz,
                 row_number() OVER (
                   PARTITION BY s.doc_id
                   ORDER BY ((s.x-c.x)*(s.x-c.x)+(s.y-c.y)*(s.y-c.y)) ASC,
                            c.doc_id ASC
                 ) AS rank
          FROM pts s JOIN pts c ON s.doc_id <> c.doc_id
        ) WHERE rank <= {k}
      ),
      cand2 AS (
        SELECT a.src, (a.px+b.px)/2 AS cx, (a.py+b.py)/2 AS cy,
               (a.pz+b.pz)/2 AS cz,
               sqrt((a.px-(a.px+b.px)/2)*(a.px-(a.px+b.px)/2)
                  + (a.py-(a.py+b.py)/2)*(a.py-(a.py+b.py)/2)
                  + (a.pz-(a.pz+b.pz)/2)*(a.pz-(a.pz+b.pz)/2)) AS r
        FROM knn a JOIN knn b ON a.src = b.src AND a.rank < b.rank
      ),
      cand3 AS (
        SELECT src, px + ox AS cx, py + oy AS cy, pz + oz AS cz,
               sqrt(ox*ox + oy*oy + oz*oz) AS r
        FROM (
          SELECT a.src, a.px, a.py, a.pz,
                 (w.aa * w.bx - w.bb * w.ax) AS wx,
                 (w.aa * w.by - w.bb * w.ay) AS wy,
                 (w.aa * w.bz - w.bb * w.az) AS wz,
                 w.ux, w.uy, w.uz, w.uu
          FROM knn a
          JOIN knn b ON a.src = b.src AND a.rank < b.rank
          JOIN knn c ON b.src = c.src AND b.rank < c.rank,
          LATERAL (
            SELECT b.px-a.px AS ax, b.py-a.py AS ay, b.pz-a.pz AS az,
                   c.px-a.px AS bx, c.py-a.py AS by, c.pz-a.pz AS bz
          ) d,
          LATERAL (
            SELECT d.ay*d.bz - d.az*d.by AS ux,
                   d.az*d.bx - d.ax*d.bz AS uy,
                   d.ax*d.by - d.ay*d.bx AS uz,
                   d.ax*d.ax + d.ay*d.ay + d.az*d.az AS aa,
                   d.bx*d.bx + d.by*d.by + d.bz*d.bz AS bb,
                   (d.ay*d.bz - d.az*d.by)*(d.ay*d.bz - d.az*d.by)
                 + (d.az*d.bx - d.ax*d.bz)*(d.az*d.bx - d.ax*d.bz)
                 + (d.ax*d.by - d.ay*d.bx)*(d.ax*d.by - d.ay*d.bx) AS uu,
                   d.ax AS ax, d.ay AS ay, d.az AS az,
                   d.bx AS bx, d.by AS by, d.bz AS bz
          ) w
          WHERE w.uu >= 1e-9
        ) t,
        LATERAL (
          SELECT (wy*uz - wz*uy) / (2.0*uu) AS ox,
                 (wz*ux - wx*uz) / (2.0*uu) AS oy,
                 (wx*uy - wy*ux) / (2.0*uu) AS oz
        ) o
      ),
      cand4 AS (
        SELECT src, cx, cy, cz,
               sqrt((p1x-cx)*(p1x-cx) + (p1y-cy)*(p1y-cy)
                  + (p1z-cz)*(p1z-cz)) AS r
        FROM (
          SELECT a.src, a.px AS p1x, a.py AS p1y, a.pz AS p1z,
                 (m.r1*(m.a22*m.a33 - m.a23*m.a32)
                - m.a12*(m.r2*m.a33 - m.a23*m.r3)
                + m.a13*(m.r2*m.a32 - m.a22*m.r3)) / m.det AS cx,
                 (m.a11*(m.r2*m.a33 - m.a23*m.r3)
                - m.r1*(m.a21*m.a33 - m.a23*m.a31)
                + m.a13*(m.a21*m.r3 - m.r2*m.a31)) / m.det AS cy,
                 (m.a11*(m.a22*m.r3 - m.r2*m.a32)
                - m.a12*(m.a21*m.r3 - m.r2*m.a31)
                + m.r1*(m.a21*m.a32 - m.a22*m.a31)) / m.det AS cz
          FROM knn a
          JOIN knn b ON a.src = b.src AND a.rank < b.rank
          JOIN knn c ON b.src = c.src AND b.rank < c.rank
          JOIN knn d ON c.src = d.src AND c.rank < d.rank,
          LATERAL (
            SELECT 2.0*(b.px-a.px) AS a11, 2.0*(b.py-a.py) AS a12,
                   2.0*(b.pz-a.pz) AS a13,
                   2.0*(c.px-a.px) AS a21, 2.0*(c.py-a.py) AS a22,
                   2.0*(c.pz-a.pz) AS a23,
                   2.0*(d.px-a.px) AS a31, 2.0*(d.py-a.py) AS a32,
                   2.0*(d.pz-a.pz) AS a33,
                   (b.px*b.px + b.py*b.py + b.pz*b.pz)
                 - (a.px*a.px + a.py*a.py + a.pz*a.pz) AS r1,
                   (c.px*c.px + c.py*c.py + c.pz*c.pz)
                 - (a.px*a.px + a.py*a.py + a.pz*a.pz) AS r2,
                   (d.px*d.px + d.py*d.py + d.pz*d.pz)
                 - (a.px*a.px + a.py*a.py + a.pz*a.pz) AS r3
          ) m0,
          LATERAL (
            SELECT m0.a11 AS a11, m0.a12 AS a12, m0.a13 AS a13,
                   m0.a21 AS a21, m0.a22 AS a22, m0.a23 AS a23,
                   m0.a31 AS a31, m0.a32 AS a32, m0.a33 AS a33,
                   m0.r1 AS r1, m0.r2 AS r2, m0.r3 AS r3,
                   m0.a11*(m0.a22*m0.a33 - m0.a23*m0.a32)
                 - m0.a12*(m0.a21*m0.a33 - m0.a23*m0.a31)
                 + m0.a13*(m0.a21*m0.a32 - m0.a22*m0.a31) AS det
          ) m
          WHERE abs(m.det) > 0
        ) t
      ),
      cands AS (
        SELECT * FROM cand2 UNION ALL
        SELECT * FROM cand3 UNION ALL
        SELECT * FROM cand4
      ),
      valid AS (
        SELECT c.src, c.cx, c.cy, c.cz, c.r,
               row_number() OVER (PARTITION BY c.src
                                  ORDER BY c.r ASC, c.cx, c.cy, c.cz) AS rk
        FROM cands c
        WHERE NOT EXISTS (
          SELECT 1 FROM knn p
          WHERE p.src = c.src
            AND sqrt((p.px-c.cx)*(p.px-c.cx) + (p.py-c.cy)*(p.py-c.cy)
                   + (p.pz-c.cz)*(p.pz-c.cz)) > c.r + 1e-9*(1.0+abs(c.r))
        )
      )
      SELECT q.doc_id,
             round(dd.dd / (dd.dd + 2.0*v.r/sqrt(3.0)), 6) AS miniball
      FROM pts q JOIN valid v ON v.src = q.doc_id AND v.rk = 1,
      LATERAL (
        SELECT sqrt((q.x-v.cx)*(q.x-v.cx) + (q.y-v.cy)*(q.y-v.cy)
                  + (q.z-v.cz)*(q.z-v.cz)) AS dd
      ) dd
    """
    return {
        "feat_eigenvalues": eigenvalues,
        "feat_covariance": covariance,
        "feat_coplanar": coplanar,
        "feat_rank": est_rank,
        "plane_fit": plane_fit_sql,
        "feat_normal": feat_normal_sql,
        "miniball": miniball_sql,
        "ground_pmf": _pmf_oracle_sql(),
        "ground_smrf": _smrf_oracle_sql(),
        "icp_register": _icp_oracle_sql(),
        # filters.cluster: transitive closure as a recursive CTE; min
        # member = component root, kept (>= min_points) clusters
        # numbered 1..k by root — the reference's seed-scan order
        "cluster_sizes": cluster_sizes,
        "fps": fps_sql,
        "sample_poisson": sample_sql,
        "chipper_assign": chipper_sql,
        "delaunay_mesh": _delaunay_cte_sql(_DOCS_GEO_SQL)
        + " SELECT a, b, c FROM faces",
        # filters.hag delaunay mode: ground DT (same BW chain over the
        # ground class) + barycentric containment with the engine's
        # exact column formulas; min-(a,b,c) face pick; nearest-ground
        # (d2, gid) fallback outside the hull; ground rows hag = 0.
        "hag_delaunay": _delaunay_cte_sql(
            f"SELECT doc_id, ({_X_SQL}) AS x, ({_Y_SQL}) AS y "
            f"FROM documents WHERE doc_id % 3 = 0"
        ) + f"""
        , gz AS (
          SELECT doc_id AS gid, ({_X_SQL}) AS gx, ({_Y_SQL}) AS gy,
                 CAST(n_chars AS DOUBLE) AS gz
          FROM documents WHERE doc_id % 3 = 0
        ),
        fc AS (
          SELECT f.a, f.b, f.c,
                 va.gx AS ax, va.gy AS ay, va.gz AS az,
                 vb.gx AS bx, vb.gy AS by, vb.gz AS bz,
                 vc.gx AS cx, vc.gy AS cy, vc.gz AS cz
          FROM faces f
          JOIN gz va ON va.gid = f.a
          JOIN gz vb ON vb.gid = f.b
          JOIN gz vc ON vc.gid = f.c
        ),
        ng AS (
          SELECT doc_id AS pid, ({_X_SQL}) AS px, ({_Y_SQL}) AS py,
                 CAST(n_chars AS DOUBLE) AS pz
          FROM documents WHERE doc_id % 3 <> 0
        ),
        bary AS (
          SELECT ng.pid, fc.a, fc.b, fc.c,
                 ((ng.px - fc.ax) * (fc.cy - fc.ay)
                - (ng.py - fc.ay) * (fc.cx - fc.ax))
                 / ((fc.bx - fc.ax) * (fc.cy - fc.ay)
                  - (fc.by - fc.ay) * (fc.cx - fc.ax)) AS l2,
                 ((fc.bx - fc.ax) * (ng.py - fc.ay)
                - (fc.by - fc.ay) * (ng.px - fc.ax))
                 / ((fc.bx - fc.ax) * (fc.cy - fc.ay)
                  - (fc.by - fc.ay) * (fc.cx - fc.ax)) AS l3,
                 fc.az, fc.bz, fc.cz
          FROM ng JOIN fc ON TRUE
        ),
        hit AS (
          SELECT pid, ground_z FROM (
            SELECT pid,
                   (1.0 - l2 - l3) * az + l2 * bz + l3 * cz AS ground_z,
                   row_number() OVER (PARTITION BY pid
                                      ORDER BY a ASC, b ASC, c ASC) AS rk
            FROM bary
            WHERE (1.0 - l2 - l3) >= 0 AND l2 >= 0 AND l3 >= 0
          ) WHERE rk = 1
        ),
        fb AS (
          SELECT pid, ground_z FROM (
            SELECT ng.pid, g.gz AS ground_z,
                   row_number() OVER (PARTITION BY ng.pid ORDER BY
                     (g.gx - ng.px) * (g.gx - ng.px)
                   + (g.gy - ng.py) * (g.gy - ng.py) ASC, g.gid ASC) AS rk
            FROM ng JOIN gz g ON TRUE
            WHERE ng.pid NOT IN (SELECT pid FROM hit)
          ) WHERE rk = 1
        )
        SELECT ng.pid AS doc_id, round(ng.pz - u.ground_z, 6) AS hag
        FROM ng JOIN (SELECT * FROM hit UNION ALL SELECT * FROM fb) u
          ON u.pid = ng.pid
        UNION ALL
        SELECT doc_id, 0.0 AS hag FROM documents WHERE doc_id % 3 = 0
        """,
    }


def _icp_newton_chain(start: str, n_steps: int, prefix: str):
    """CTE chain refining `start` (one row, m11..m33) to its orthogonal
    polar factor via determinant-scaled Newton iteration
    N' = (g*N + (1/g)*N^-T)/2, g = |det N|^(-1/3) — numerically stable
    where the SVD's U/V individually are not (sigma ~ c*R has three
    near-equal singular values)."""
    ctes = []
    prev = start
    cof = {
        (1, 1): "m.m22*m.m33 - m.m23*m.m32",
        (1, 2): "m.m23*m.m31 - m.m21*m.m33",
        (1, 3): "m.m21*m.m32 - m.m22*m.m31",
        (2, 1): "m.m13*m.m32 - m.m12*m.m33",
        (2, 2): "m.m11*m.m33 - m.m13*m.m31",
        (2, 3): "m.m12*m.m31 - m.m11*m.m32",
        (3, 1): "m.m12*m.m23 - m.m13*m.m22",
        (3, 2): "m.m13*m.m21 - m.m11*m.m23",
        (3, 3): "m.m11*m.m22 - m.m12*m.m21",
    }
    det = ("(m.m11*(m.m22*m.m33 - m.m23*m.m32)"
           " - m.m12*(m.m21*m.m33 - m.m23*m.m31)"
           " + m.m13*(m.m21*m.m32 - m.m22*m.m31))")
    for s in range(n_steps):
        name = f"{prefix}{s}"
        cols = ", ".join(
            f"0.5*(d.g*m.m{i}{j} + ({cof[(i, j)]})/(d.g*d.dt)) AS m{i}{j}"
            for i in (1, 2, 3) for j in (1, 2, 3)
        )
        ctes.append(f"""
      {name} AS (
        SELECT {cols}
        FROM {prev} m, LATERAL (
          SELECT {det} AS dt, 1.0/cbrt(abs({det})) AS g
        ) d
      )""")
        prev = name
    return ",".join(ctes), prev


def _icp_iter_sql(idx: int, mv_cte: str) -> str:
    """One unrolled ICP iteration: exact 1-NN of the moved cloud
    against fx, the engine's one-pass moment aggregate, sigma, and the
    Umeyama rigid transform (R = polar(sigma), t = mean_a - R mean_b —
    identical to U S V^T for det > 0, which holds for this near-rigid
    registration)."""
    newton, rfinal = _icp_newton_chain(f"sg{idx}", 10, f"nw{idx}_")
    return f"""
      nn{idx} AS (
        SELECT * FROM (
          SELECT s.id AS sid, s.x AS sx, s.y AS sy, s.z AS sz,
                 f.x AS nx, f.y AS ny, f.z AS nz,
                 row_number() OVER (PARTITION BY s.id ORDER BY
                   (s.x-f.x)*(s.x-f.x) + (s.y-f.y)*(s.y-f.y)
                 + (s.z-f.z)*(s.z-f.z) ASC, f.id ASC) AS rk
          FROM {mv_cte} s JOIN fx f ON TRUE
        ) WHERE rk = 1
      ),
      ag{idx} AS (
        SELECT count(*) AS n,
               avg(nx) AS ax, avg(ny) AS ay, avg(nz) AS az,
               avg(sx) AS bx, avg(sy) AS by, avg(sz) AS bz,
               sum(nx*sx) AS p11, sum(nx*sy) AS p12, sum(nx*sz) AS p13,
               sum(ny*sx) AS p21, sum(ny*sy) AS p22, sum(ny*sz) AS p23,
               sum(nz*sx) AS p31, sum(nz*sy) AS p32, sum(nz*sz) AS p33
        FROM nn{idx}
      ),
      sg{idx} AS (
        SELECT p11/n - ax*bx AS m11, p12/n - ax*by AS m12,
               p13/n - ax*bz AS m13,
               p21/n - ay*bx AS m21, p22/n - ay*by AS m22,
               p23/n - ay*bz AS m23,
               p31/n - az*bx AS m31, p32/n - az*by AS m32,
               p33/n - az*bz AS m33
        FROM ag{idx}
      ),{newton},
      t{idx} AS (
        SELECT r.m11 AS r11, r.m12 AS r12, r.m13 AS r13,
               r.m21 AS r21, r.m22 AS r22, r.m23 AS r23,
               r.m31 AS r31, r.m32 AS r32, r.m33 AS r33,
               a.ax - (r.m11*a.bx + r.m12*a.by + r.m13*a.bz) AS tx,
               a.ay - (r.m21*a.bx + r.m22*a.by + r.m23*a.bz) AS ty,
               a.az - (r.m31*a.bx + r.m32*a.by + r.m33*a.bz) AS tz
        FROM {rfinal} r, ag{idx} a
      )"""


def _icp_oracle_sql() -> str:
    """filters.icp as pure SQL: q_icp_register's pipeline unrolled for
    the TWO iterations it deterministically runs on the gate tables
    (iteration 2's transform is ~identity, tripping the
    rotation/translation convergence test; verified at sf0.001 AND
    sf0.01). Each iteration = exact 1-NN correspondence + the engine's
    moment aggregate + Umeyama rigid via Newton polar decomposition;
    final = T1 @ T2 applied about the fixed centroid."""
    M = [0.9998476951563913, -0.01745240643728351, 0.0, 0.7,
         0.01745240643728351, 0.9998476951563913, 0.0, -0.4,
         0.0, 0.0, 1.0, 0.25]
    return f"""
      WITH pts AS (
        SELECT doc_id AS id, ({_X_SQL}) AS x, ({_Y_SQL}) AS y,
               CAST(n_chars AS DOUBLE) AS z
        FROM documents
      ),
      mvg AS (
        SELECT id,
               {_dbl(M[0])}*x + {_dbl(M[1])}*y + {_dbl(M[2])}*z + {_dbl(M[3])} AS x,
               {_dbl(M[4])}*x + {_dbl(M[5])}*y + {_dbl(M[6])}*z + {_dbl(M[7])} AS y,
               {_dbl(M[8])}*x + {_dbl(M[9])}*y + {_dbl(M[10])}*z + {_dbl(M[11])} AS z
        FROM pts
      ),
      cen AS (SELECT avg(x) AS cx, avg(y) AS cy, avg(z) AS cz FROM pts),
      fx AS (SELECT id, x - cen.cx AS x, y - cen.cy AS y,
                    z - cen.cz AS z FROM pts, cen),
      mv AS (SELECT id, x - cen.cx AS x, y - cen.cy AS y,
                    z - cen.cz AS z FROM mvg, cen),
      {_icp_iter_sql(1, "mv")},
      mv2 AS (
        SELECT s.id,
               t.r11*s.x + t.r12*s.y + t.r13*s.z + t.tx AS x,
               t.r21*s.x + t.r22*s.y + t.r23*s.z + t.ty AS y,
               t.r31*s.x + t.r32*s.y + t.r33*s.z + t.tz AS z
        FROM mv s, t1 t
      ),
      {_icp_iter_sql(2, "mv2")},
      fin AS (
        SELECT a.r11*b.r11 + a.r12*b.r21 + a.r13*b.r31 AS r11,
               a.r11*b.r12 + a.r12*b.r22 + a.r13*b.r32 AS r12,
               a.r11*b.r13 + a.r12*b.r23 + a.r13*b.r33 AS r13,
               a.r21*b.r11 + a.r22*b.r21 + a.r23*b.r31 AS r21,
               a.r21*b.r12 + a.r22*b.r22 + a.r23*b.r32 AS r22,
               a.r21*b.r13 + a.r22*b.r23 + a.r23*b.r33 AS r23,
               a.r31*b.r11 + a.r32*b.r21 + a.r33*b.r31 AS r31,
               a.r31*b.r12 + a.r32*b.r22 + a.r33*b.r32 AS r32,
               a.r31*b.r13 + a.r32*b.r23 + a.r33*b.r33 AS r33,
               a.r11*b.tx + a.r12*b.ty + a.r13*b.tz + a.tx AS tx,
               a.r21*b.tx + a.r22*b.ty + a.r23*b.tz + a.ty AS ty,
               a.r31*b.tx + a.r32*b.ty + a.r33*b.tz + a.tz AS tz
        FROM t1 a, t2 b
      )
      SELECT s.id AS doc_id,
             round(f.r11*sh.x + f.r12*sh.y + f.r13*sh.z + f.tx + cen.cx, 6)
               AS x,
             round(f.r21*sh.x + f.r22*sh.y + f.r23*sh.z + f.ty + cen.cy, 6)
               AS y,
             round(f.r31*sh.x + f.r32*sh.y + f.r33*sh.z + f.tz + cen.cz, 6)
               AS z
      FROM mvg s, cen, fin f,
      LATERAL (SELECT s.x - cen.cx AS x, s.y - cen.cy AS y,
                      s.z - cen.cz AS z) sh
    """


def _smrf_oracle_sql() -> str:
    """filters.smrf as pure SQL, mirroring smrf_grid stage by stage:
    min-Z grid -> knnfill (mean of 8 nearest populated cells, (d2, lin)
    order) -> low mask (progressive filter of the NEGATED surface,
    slope 5, window 1) -> object mask (radii 1..ceil(window/cell), each
    one L1-ball erode + dilate pair per morphology associativity) ->
    provisional DEM (mask + re-knnfill) -> MATLAB-gradient slope-aware
    thresholds -> |dem - z| > thr classify (floor-before-divide key on
    both sides, like the engine)."""
    cell, minx, miny = 15.0, -180.0, -90.0
    slope, threshold, window, scalar = 0.05, 0.5, 30.0, 1.25
    n_cols, n_rows = int(360.0 / cell) + 1, int(180.0 / cell) + 1
    import math

    max_r = int(math.ceil(window / cell))
    # object-mask stages: er{r} = L1-r erosion of filled; op{r} = L1-r
    # dilation of er{r}; prev surface chain: filled, op1, op2, ...
    morph = []
    obj_terms = []
    prev_surf = "filled"
    for r in range(1, max_r + 1):
        morph.append(f"""
      er{r} AS (
        SELECT g.pc, g.pr, min(h.zv) AS zv
        FROM grid g JOIN filled h
          ON abs(h.pc - g.pc) + abs(h.pr - g.pr) <= {r}
        GROUP BY 1, 2
      ),
      op{r} AS (
        SELECT g.pc, g.pr, max(h.zv) AS zv
        FROM grid g JOIN er{r} h
          ON abs(h.pc - g.pc) + abs(h.pr - g.pr) <= {r}
        GROUP BY 1, 2
      )""")
        obj_terms.append(
            f"(SELECT abs(p.zv - o.zv) > {slope * cell}*{r} "
            f"FROM {prev_surf} p, op{r} o "
            f"WHERE p.pc = g.pc AND p.pr = g.pr "
            f"AND o.pc = g.pc AND o.pr = g.pr)"
        )
        prev_surf = f"op{r}"
    obj_expr = " OR ".join(obj_terms)
    return f"""
      WITH pts AS (
        SELECT doc_id, ({_X_SQL}) AS x, ({_Y_SQL}) AS y,
               0.05 * (({_X_SQL}) + 180.0)
               + CASE WHEN doc_id % 5 = 0 THEN 12.0 ELSE 0.0 END AS z
        FROM documents
      ),
      grid AS (
        SELECT pc, pr FROM range(0, {n_cols}) t1(pc), range(0, {n_rows}) t2(pr)
      ),
      zmin AS (
        SELECT CAST(trunc(floor(x - ({_dbl(minx)})) / {_dbl(cell)}) AS INT) AS pc,
               CAST(trunc(floor(y - ({_dbl(miny)})) / {_dbl(cell)}) AS INT) AS pr,
               min(z) AS zv
        FROM pts GROUP BY 1, 2
      ),
      filled AS (
        SELECT g.pc, g.pr,
               coalesce(z0.zv,
                 (SELECT avg(t.zv) FROM (
                    SELECT p.zv FROM zmin p
                    ORDER BY (p.pr - g.pr)*(p.pr - g.pr)
                           + (p.pc - g.pc)*(p.pc - g.pc) ASC,
                           p.pc * {n_rows} + p.pr ASC
                    LIMIT 8) t)) AS zv
        FROM grid g LEFT JOIN zmin z0 ON z0.pc = g.pc AND z0.pr = g.pr
      ),
      -- low mask: progressive filter of -filled, slope 5, window 1
      nf AS (SELECT pc, pr, -zv AS zv FROM filled),
      ler AS (
        SELECT g.pc, g.pr, min(h.zv) AS zv
        FROM grid g JOIN nf h ON abs(h.pc-g.pc) + abs(h.pr-g.pr) <= 1
        GROUP BY 1, 2
      ),
      lop AS (
        SELECT g.pc, g.pr, max(h.zv) AS zv
        FROM grid g JOIN ler h ON abs(h.pc-g.pc) + abs(h.pr-g.pr) <= 1
        GROUP BY 1, 2
      ),
      {",".join(morph)},
      mask AS (
        SELECT g.pc, g.pr,
               ({obj_expr})
               OR (SELECT abs(n.zv - l.zv) > {5.0 * cell}
                   FROM nf n, lop l
                   WHERE n.pc = g.pc AND n.pr = g.pr
                     AND l.pc = g.pc AND l.pr = g.pr) AS bad
        FROM grid g
      ),
      keepc AS (
        SELECT f.pc, f.pr, f.zv
        FROM filled f JOIN mask m ON m.pc = f.pc AND m.pr = f.pr
        WHERE NOT m.bad
      ),
      zipro AS (
        SELECT g.pc, g.pr,
               coalesce(k0.zv,
                 (SELECT avg(t.zv) FROM (
                    SELECT p.zv FROM keepc p
                    ORDER BY (p.pr - g.pr)*(p.pr - g.pr)
                           + (p.pc - g.pc)*(p.pc - g.pc) ASC,
                           p.pc * {n_rows} + p.pr ASC
                    LIMIT 8) t)) AS zv
        FROM grid g LEFT JOIN keepc k0 ON k0.pc = g.pc AND k0.pr = g.pr
      ),
      sc AS (SELECT pc, pr, zv / {_dbl(cell)} AS zv FROM zipro),
      gr AS (
        SELECT g.pc, g.pr,
               CASE WHEN g.pc = 0
                    THEN (SELECT b.zv - a.zv FROM sc a, sc b
                          WHERE a.pc = 0 AND a.pr = g.pr
                            AND b.pc = 1 AND b.pr = g.pr)
                    WHEN g.pc = {n_cols - 1}
                    THEN (SELECT b.zv - a.zv FROM sc a, sc b
                          WHERE a.pc = {n_cols - 2} AND a.pr = g.pr
                            AND b.pc = {n_cols - 1} AND b.pr = g.pr)
                    ELSE (SELECT 0.5 * (b.zv - a.zv) FROM sc a, sc b
                          WHERE a.pc = g.pc - 1 AND a.pr = g.pr
                            AND b.pc = g.pc + 1 AND b.pr = g.pr)
               END AS gx,
               CASE WHEN g.pr = 0
                    THEN (SELECT b.zv - a.zv FROM sc a, sc b
                          WHERE a.pr = 0 AND a.pc = g.pc
                            AND b.pr = 1 AND b.pc = g.pc)
                    WHEN g.pr = {n_rows - 1}
                    THEN (SELECT b.zv - a.zv FROM sc a, sc b
                          WHERE a.pr = {n_rows - 2} AND a.pc = g.pc
                            AND b.pr = {n_rows - 1} AND b.pc = g.pc)
                    ELSE (SELECT 0.5 * (b.zv - a.zv) FROM sc a, sc b
                          WHERE a.pr = g.pr - 1 AND a.pc = g.pc
                            AND b.pr = g.pr + 1 AND b.pc = g.pc)
               END AS gy
        FROM grid g
      ),
      thr AS (
        SELECT z.pc, z.pr, z.zv AS dem,
               {_dbl(threshold)} + {_dbl(scalar)} * sqrt(g.gx*g.gx + g.gy*g.gy)
                 AS thr
        FROM zipro z JOIN gr g ON g.pc = z.pc AND g.pr = z.pr
      )
      SELECT p.doc_id,
             CASE WHEN t.dem IS NULL THEN 1
                  WHEN abs(t.dem - p.z) > t.thr THEN 1 ELSE 2 END
               AS classification
      FROM pts p
      LEFT JOIN thr t
        ON t.pc = CAST(trunc(floor(p.x - ({_dbl(minx)})) / {_dbl(cell)}) AS INT)
       AND t.pr = CAST(trunc(floor(p.y - ({_dbl(miny)})) / {_dbl(cell)}) AS INT)
    """


def _pmf_oracle_sql() -> str:
    """filters.pmf as pure SQL: min-Z grid (floor-before-divide key),
    nearest-cell void fill, then each progressive window as ONE
    L1-ball min join + ONE L1-ball max join (iterated 5-cell diamond
    erosion/dilation == erosion/dilation by the L1 ball of radius
    `iterations` — morphology associativity), finally
    z < min_j(opened_j + ht_j) with the floor-after-divide classify
    key. The window series is computed by the engine's own
    pmf_windows(), so the stage unrolling always matches q_ground_pmf's
    parameters (cell=15, max_window=60, slope=0.05, i=0.5, max=3.0)."""
    from pdal_spark.operators.ground import pmf_windows

    cell, minx, miny = 15.0, -180.0, -90.0
    n_cols, n_rows = int(360.0 / cell) + 1, int(180.0 / cell) + 1
    stages = [
        (int(0.5 * (ws - 1)), ht)
        for ws, ht in pmf_windows(cell, 60.0, 0.05, 0.5, 3.0, True)
    ]
    chain = []
    prev = "filled"
    lims = []
    for j, (iters, ht) in enumerate(stages):
        chain.append(f"""
      er{j} AS (
        SELECT g.pc, g.pr, min(h.zv) AS zv
        FROM grid g JOIN {prev} h
          ON abs(h.pc - g.pc) + abs(h.pr - g.pr) <= {iters}
        GROUP BY 1, 2
      ),
      op{j} AS (
        SELECT g.pc, g.pr, max(h.zv) AS zv
        FROM grid g JOIN er{j} h
          ON abs(h.pc - g.pc) + abs(h.pr - g.pr) <= {iters}
        GROUP BY 1, 2
      )""")
        lims.append(f"op{j}.zv + {_dbl(ht)}")
        prev = f"op{j}"
    joins = " ".join(
        f"JOIN op{j} ON op{j}.pc = grid.pc AND op{j}.pr = grid.pr"
        for j in range(len(stages))
    )
    least = lims[0] if len(lims) == 1 else "least(" + ", ".join(lims) + ")"
    return f"""
      WITH pts AS (
        SELECT doc_id, ({_X_SQL}) AS x, ({_Y_SQL}) AS y,
               CASE WHEN doc_id % 5 = 0 THEN 12.0 ELSE 0.0 END AS z
        FROM documents
      ),
      grid AS (
        SELECT pc, pr FROM range(0, {n_cols}) t1(pc), range(0, {n_rows}) t2(pr)
      ),
      zmin AS (
        SELECT CAST(trunc(floor(x - ({_dbl(minx)})) / {_dbl(cell)}) AS INT) AS pc,
               CAST(trunc(floor(y - ({_dbl(miny)})) / {_dbl(cell)}) AS INT) AS pr,
               min(z) AS zv
        FROM pts GROUP BY 1, 2
      ),
      filled AS (
        SELECT g.pc, g.pr,
               coalesce(z0.zv,
                 (SELECT p.zv FROM zmin p
                  ORDER BY (p.pr - g.pr)*(p.pr - g.pr)
                         + (p.pc - g.pc)*(p.pc - g.pc) ASC,
                         p.pc * {n_rows} + p.pr ASC
                  LIMIT 1)) AS zv
        FROM grid g LEFT JOIN zmin z0 ON z0.pc = g.pc AND z0.pr = g.pr
      ),{",".join(chain)},
      lim AS (
        SELECT grid.pc, grid.pr, {least} AS zlim
        FROM grid {joins}
      )
      SELECT p.doc_id,
             CASE WHEN p.z < l.zlim THEN 2 ELSE 1 END AS classification
      FROM pts p
      LEFT JOIN lim l
        ON l.pc = CAST(trunc(floor((p.x - ({_dbl(minx)})) / {_dbl(cell)})) AS INT)
       AND l.pr = CAST(trunc(floor((p.y - ({_dbl(miny)})) / {_dbl(cell)})) AS INT)
    """


def _feature_oracles() -> dict[str, str]:
    kk = LOF_MINPTS + 1
    knn_self = f"""
      knn AS (
        SELECT * FROM (
          SELECT s.doc_id AS src, c.doc_id AS cand,
                 sqrt((s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y)) AS dist,
                 row_number() OVER (
                   PARTITION BY s.doc_id
                   ORDER BY ((s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y)) ASC,
                            c.doc_id ASC
                 ) AS rank
          FROM pts s JOIN pts c ON TRUE
        ) WHERE rank <= {kk}
      )
    """
    lof_sql = f"""
      WITH pts AS ({_DOCS_GEO_SQL}),
      {knn_self},
      kd AS (SELECT src AS id, dist AS kdistance FROM knn WHERE rank = {kk}),
      lrd AS (
        SELECT k.src, 1.0 / avg(greatest(kdj.kdistance, k.dist)) AS lrd
        FROM knn k JOIN kd kdj ON kdj.id = k.cand GROUP BY 1
      ),
      lofv AS (
        SELECT k.src, avg(lj.lrd / li.lrd) AS lof
        FROM knn k
        JOIN lrd lj ON lj.src = k.cand
        JOIN lrd li ON li.src = k.src
        GROUP BY 1
      )
      SELECT kd.id AS doc_id, round(kd.kdistance, 6) AS kdistance,
             round(lrd.lrd, 6) AS lrd, round(lofv.lof, 6) AS lof
      FROM kd JOIN lrd ON lrd.src = kd.id JOIN lofv ON lofv.src = kd.id
    """
    krec = FEAT_K + 1
    recip_sql = f"""
      WITH pts AS ({_DOCS_GEO_SQL}),
      knn AS (
        SELECT * FROM (
          SELECT s.doc_id AS src, c.doc_id AS cand,
                 row_number() OVER (
                   PARTITION BY s.doc_id
                   ORDER BY ((s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y)) ASC,
                            c.doc_id ASC
                 ) AS rank
          FROM pts s JOIN pts c ON TRUE
        ) WHERE rank <= {krec}
      ),
      others AS (SELECT src, cand FROM knn WHERE src <> cand),
      uni AS (
        SELECT o.src, count(*) AS u
        FROM others o
        WHERE NOT EXISTS (
          SELECT 1 FROM knn r WHERE r.src = o.cand AND r.cand = o.src
        )
        GROUP BY 1
      )
      SELECT p.doc_id,
             round(coalesce(u, 0) * 100.0 / {FEAT_K}, 6) AS reciprocity
      FROM pts p LEFT JOIN uni ON uni.src = p.doc_id
    """
    return {"feat_lof": lof_sql, "feat_reciprocity": recip_sql}


def _chipper_oracles() -> dict[str, str]:
    # chipper_2part: terminal distance-2 case — the cut is the lround'd
    # half boundary in the wider axis (x for this geocode: 360 vs 180
    # span). floor(total + .5) replicates lround for positive totals.
    two_part = f"""
      WITH pts AS ({_DOCS_GEO_SQL}),
      r AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY x ASC, doc_id ASC) - 1 AS xr,
               count(*) OVER () AS n
        FROM pts
      )
      SELECT doc_id,
             CAST(CASE WHEN xr < CAST(floor(CAST(n AS DOUBLE) / 2 + 0.5) AS BIGINT)
                  THEN 0 ELSE 1 END AS BIGINT) AS chip_id
      FROM r
    """
    # chipper_counts: chip k size == P[k+1]-P[k] with
    # P[k] = floor((n/num)*k + .5) — analytic, membership-free.
    counts = f"""
      WITH c AS (SELECT count(*) AS n FROM documents),
      dims AS (
        SELECT n, n // {CHIP_CAP} + CASE WHEN n % {CHIP_CAP} <> 0 THEN 1 ELSE 0 END
                 AS num FROM c
      ),
      ks AS (SELECT unnest(range(0, num)) AS chip_id, n, num FROM dims)
      SELECT chip_id,
             CAST(floor((CAST(n AS DOUBLE) / num) * (chip_id + 1) + 0.5) AS BIGINT)
             - CAST(floor((CAST(n AS DOUBLE) / num) * chip_id + 0.5) AS BIGINT) AS n
      FROM ks
    """
    return {"chipper_2part": two_part, "chipper_counts": counts}


def _raster_rc_sql() -> str:
    """Raw (unrounded) per-cell raster table — the CTE body the dem /
    colorization oracles join against; mirrors rasterize() exactly."""
    g = RGRID
    docs = (
        f"SELECT doc_id, n_chars, ({_X_SQL}) AS x, ({_Y_SQL}) AS y FROM documents"
    )
    cx = f"(({_dbl(g.origin_x)}) + (c.i + 0.5) * {_dbl(g.edge)})"
    cy = f"(({_dbl(g.origin_y)}) + ({_dbl(g.height)} - (c.j + 0.5)) * {_dbl(g.edge)})"
    d = f"sqrt((p.x - {cx}) * (p.x - {cx}) + (p.y - {cy}) * (p.y - {cy}))"
    return f"""
      WITH pts AS ({docs}),
      cells AS (
        SELECT a.i, b.j
        FROM (SELECT unnest(range(0, {g.width})) AS i) a
        CROSS JOIN (SELECT unnest(range(0, {g.height})) AS j) b
      ),
      hits AS (
        SELECT c.i AS col, c.j AS row, p.doc_id, CAST(p.n_chars AS DOUBLE) AS v,
               {d} AS dd
        FROM pts p JOIN cells c ON {d} < {_dbl(g.radius)}
      )
      SELECT col, row,
             CASE WHEN count(*) FILTER (WHERE dd = 0) > 0
                  THEN arg_min(v, doc_id) FILTER (WHERE dd = 0)
                  ELSE sum(v * (1.0 / dd)) / sum(1.0 / dd) END AS idw
      FROM hits GROUP BY 1, 2
    """


def _raster_oracles() -> dict[str, str]:
    g = RGRID
    docs = (
        f"SELECT doc_id, n_chars, ({_X_SQL}) AS x, ({_Y_SQL}) AS y FROM documents"
    )
    cx = f"(({_dbl(g.origin_x)}) + (c.i + 0.5) * {_dbl(g.edge)})"
    cy = f"(({_dbl(g.origin_y)}) + ({_dbl(g.height)} - (c.j + 0.5)) * {_dbl(g.edge)})"
    d = f"sqrt((p.x - {cx}) * (p.x - {cx}) + (p.y - {cy}) * (p.y - {cy}))"
    cells_sql = f"""
      WITH pts AS ({docs}),
      cells AS (
        SELECT a.i, b.j
        FROM (SELECT unnest(range(0, {g.width})) AS i) a
        CROSS JOIN (SELECT unnest(range(0, {g.height})) AS j) b
      ),
      hits AS (
        SELECT c.i AS col, c.j AS row, p.doc_id, CAST(p.n_chars AS DOUBLE) AS v,
               {d} AS dd
        FROM pts p JOIN cells c ON {d} < {_dbl(g.radius)}
      )
      SELECT col, row, count(*) AS count,
             round(min(v), 6) AS vmin, round(max(v), 6) AS vmax,
             round(avg(v), 6) AS mean, round(stddev_pop(v), 6) AS stdev,
             round(CASE WHEN count(*) FILTER (WHERE dd = 0) > 0
                        THEN arg_min(v, doc_id) FILTER (WHERE dd = 0)
                        ELSE sum(v * (1.0 / dd)) / sum(1.0 / dd) END, 6) AS idw
      FROM hits GROUP BY 1, 2
    """
    pixels_sql = f"""
      WITH px AS (SELECT unnest(range(0, {g.width * g.height})) AS pid)
      SELECT pid, pid % {g.width} AS col, pid // {g.width} AS row,
             CAST(({_dbl(g.origin_x)}) + (pid % {g.width} + 0.5) * {_dbl(g.edge)}
               AS DOUBLE) AS x,
             CAST(({_dbl(g.origin_y)})
               + ({_dbl(g.height)} - (pid // {g.width} + 0.5))
               * {_dbl(g.edge)} AS DOUBLE) AS y
      FROM px
    """
    # point cell key: the engine's raster_cell text, in DuckDB's dialect
    pcol, prow = geo.raster_cell_sql(
        f"({_X_SQL})", f"({_Y_SQL})", g.origin_x, g.origin_y, g.edge, g.height
    )
    dem_sql = f"""
      WITH rc AS ({_raster_rc_sql()}),
      pts AS (
        SELECT doc_id, CAST(n_chars AS DOUBLE) AS z,
               {pcol} AS col, {prow} AS row
        FROM documents
      )
      SELECT doc_id
      FROM pts JOIN rc USING (col, row)
      WHERE z >= rc.idw + (-150.0) AND z <= rc.idw + 150.0
    """
    colorization_sql = f"""
      WITH rc AS ({_raster_rc_sql()}),
      pts AS (
        SELECT doc_id, {pcol} AS col, {prow} AS row FROM documents
      )
      SELECT doc_id, round(rc.idw * 0.01, 6) AS idw_sample
      FROM pts LEFT JOIN rc USING (col, row)
    """
    return {
        "raster_cells": cells_sql,
        "raster_pixels": pixels_sql,
        "dem_keep": dem_sql,
        "colorization": colorization_sql,
    }


def _sharding_sql(n: int, out: str) -> str:
    from pdal_spark.datapipe import sharding as sh_op

    return sh_op.jump_bucket_sql("documents", "doc_id", n, out_col=out)


def _judge_kappa_sql() -> str:
    from pdal_spark.datapipe import clustereval as ce_op

    q = text_op.quality_score_sql()
    a = ("SELECT doc_id, CAST(n_chars >= 150 AS INT) AS label_a "
         "FROM documents")
    b = (f"SELECT doc_id, CAST({q['quality']} >= 0.5 AS INT) AS label_b "
         "FROM documents")
    return ce_op.cohens_kappa_sql(a, b)


def _dataquality_oracles() -> dict[str, str]:
    from pdal_spark.datapipe import dataquality as dq_op

    return {
        "dedup_sorted_neighborhood": dedup_op.sorted_neighborhood_sql(
            "n_chars, doc_id", window=3
        ),
        "judge_kappa": _judge_kappa_sql(),
        "domain_screen": weburl_op.domain_quality_screen_sql(
            "SELECT source AS domain, n_chars FROM documents",
            "n_chars >= 150",
        ),
        "robots_rules": (
            "SELECT host, prefix, CAST(allow AS INT) AS allow FROM ("
            + weburl_op.parse_robots_sql(
                "SELECT DISTINCT source AS host, "
                + "'" + _ROBOTS_HEAD.replace("\n", "' || chr(10) || '")
                + "' || source || '"
                + _ROBOTS_TAIL.replace("\n", "' || chr(10) || '")
                + "' AS robots_txt FROM documents"
            )
            + ")"
        ),
        "shard_assign": """
          WITH olds AS ({_SH_OLD}), news AS ({_SH_NEW})
          SELECT o.doc_id, o.bucket_old, n.bucket_new,
                 CASE WHEN o.bucket_old <> n.bucket_new THEN 1 ELSE 0 END
                   AS moved
          FROM olds o JOIN news n USING (doc_id)
        """.replace("{_SH_OLD}", _sharding_sql(16, "bucket_old")).replace(
            "{_SH_NEW}", _sharding_sql(17, "bucket_new")
        ),
        "ivm_counts": """
          WITH merged AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 13 = 0 THEN n_chars + 5000
                        ELSE n_chars END AS n_chars
            FROM documents
            UNION ALL
            SELECT 2000000 + i.range, i.range * 7 + 1 FROM range(0, 5) i
          )
          SELECT doc_id % 10 AS bucket, count(*) AS n,
                 CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
          FROM merged GROUP BY 1
        """,
        "catalog_changes": """
          SELECT doc_id, n_chars + 5000 AS n_chars,
                 'insert' AS _change_type
          FROM documents WHERE doc_id % 13 = 0
          UNION ALL
          SELECT 2000000 + i.range, i.range * 7 + 1, 'insert'
          FROM range(0, 5) i
          UNION ALL
          SELECT doc_id, n_chars, 'delete'
          FROM documents WHERE doc_id % 13 = 0
        """,
        "catalog_merge": """
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000
                      ELSE n_chars END AS n_chars
          FROM documents
          UNION ALL
          SELECT 1000000 + i.range AS doc_id,
                 i.range * 11 + 3 AS n_chars
          FROM range(0, 10) i
        """,
        "quantiles_global": stats_op.exact_quantiles_sql(
            "events", "value", _QUANTILES
        ),
        "quantiles_by_type": stats_op.exact_quantiles_sql(
            "events", "value", _QUANTILES, by=["event_type"]
        ),
        "data_profile": dq_op.profile_sql(
            "documents", _DQ_COLS_NUM, _DQ_COLS_STR, distinct_mode="exact"
        ),
        "data_quality": dq_op.check_sql("documents", _DQ_CONSTRAINTS),
        "data_histogram": (
            "SELECT bin, round(lo, 6) AS lo, round(hi, 6) AS hi, n FROM ("
            + dq_op.histogram_sql("documents", "n_chars", 16) + ")"
        ),
    }


def _datapipe_oracles() -> dict[str, str]:
    from pdal_spark.datapipe import bursts as b_op
    from pdal_spark.datapipe import chunking as ch_op
    from pdal_spark.datapipe import contentfilter as cf_op
    from pdal_spark.datapipe import jl as jl_op
    from pdal_spark.datapipe import collocations as coll_op
    from pdal_spark.datapipe import contamination as cont_op
    from pdal_spark.datapipe import corpusstats as cs_op
    from pdal_spark.datapipe import itemsets as it_op
    from pdal_spark.datapipe import winnow as win_op
    from pdal_spark.datapipe import dsir as dsir_op
    from pdal_spark.datapipe import frequency as freq_op
    from pdal_spark.datapipe import substring as ss_op
    from pdal_spark.datapipe import repetition as rep_op

    ws, bpe = text_op.token_count_sql()
    q = text_op.quality_score_sql()
    md5_sql, roll_sql = text_op.fingerprint_sql()
    return {
        "text_repetition": rep_op.repetition_sql(),
        "substring_dedup": ss_op.substring_dedup_sql(),
        "dsir_weights": dsir_op.dsir_weights_sql(),
        "text_contamination": cont_op.contamination_sql(),
        "source_mixture": cont_op.source_mixture_sql(),
        "mixture_sample": cont_op.mixture_sample_sql(
            300, select="doc_id, lang"
        ),
        "split_assign": cont_op.split_assign_sql(select="doc_id, lang"),
        "word_topk": freq_op.top_k_words_sql(k=20),
        "word_freq_cms": freq_op.cms_topk_sql(k=15, d=4, w=512),
        "pmi_collocations": coll_op.pmi_collocations_sql(min_count=3),
        "zipf_fit": cs_op.zipf_fit_sql(max_rank=1000),
        "heaps_fit": cs_op.heaps_fit_sql(),
        "source_keyness": cs_op.source_keyness_sql(
            min_count=5, min_llr=3.84
        ),
        "chunk_docs": ch_op.chunk_documents_sql(max_tokens=64, overlap=16),
        "burst_windows": b_op.burst_windows_sql(
            width_s=3600, min_surprise=1.0
        ),
        "jl_project": jl_op.jl_project_sql(d_in=64, d_out=16),
        "frequent_pairs": it_op.frequent_pairs_sql(min_support=150),
        "tfidf_keywords": ranking_op.tfidf_keywords_sql(k=5),
        "winnow_fp": win_op.winnow_fingerprints_sql(k=8, w=4),
        "winnow_pairs": win_op.winnow_pairs_sql(
            k=8, w=4, min_shared=8, max_df=20
        ),
        "mirror_sources": win_op.mirror_sources_sql(
            min_shared=5, max_df=10
        ),
        "weighted_sample": cont_op.weighted_sample_sql(k=25),
        # real PPM decode vs the closed-form pixel function: channel 0 =
        # (x*7 + y*13 + id) % 256, channels 1/2 offset by 85/170; header
        # "P6\n12 8\n255\n" = 12 bytes + 288 pixel bytes
        "image_meta": """
          SELECT i.range AS doc_id,
                 CAST(300 AS BIGINT) AS byte_len,
                 CAST(12 AS INT) AS width, CAST(8 AS INT) AS height,
                 CAST(3 AS INT) AS channels,
                 round((SELECT avg(CAST(
                          (xx.range*7 + yy.range*13 + i.range + off.o) % 256
                        AS DOUBLE))
                        FROM range(0, 12) xx, range(0, 8) yy,
                             (VALUES (0), (85), (170)) off(o)), 6)
                   AS mean_intensity
          FROM range(0, 500) i
        """,
        # WAV fixture: mono 16-bit PCM, 2048 samples -> 44-byte
        # header+chunks + 4096 data bytes; pcm regenerated sample-exact
        "audio_meta": """
          SELECT i.range AS doc_id,
                 CAST(4140 AS BIGINT) AS byte_len,
                 CAST(8000 AS INT) AS sample_rate,
                 CAST(1 AS INT) AS channels,
                 CAST(2048 AS BIGINT) AS n_samples,
                 round((SELECT sqrt(avg(
                          (CAST(round(sin(2.0*pi()*(4 + i.range % 8)
                                 *CAST(t.range AS DOUBLE)/512.0)*16384.0)
                            AS DOUBLE)/32768.0)
                        * (CAST(round(sin(2.0*pi()*(4 + i.range % 8)
                                 *CAST(t.range AS DOUBLE)/512.0)*16384.0)
                            AS DOUBLE)/32768.0)))
                        FROM range(0, 2048) t), 6) AS rms
          FROM range(0, 64) i
        """,
        # near-dup clustering: pair SQL (jaccard 3-gram shingles) +
        # recursive-CTE transitive closure; canonical = min member
        "dedup_canonical": f"""
          WITH RECURSIVE prs AS (
            {dedup_op.jaccard_pairs_sql(0.5, shingle=3)}
          ),
          reach(id, lab) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.b, r.lab FROM reach r
            JOIN (SELECT id1 AS a, id2 AS b FROM prs
                  UNION ALL SELECT id2, id1 FROM prs) e
              ON e.a = r.id
          )
          SELECT id AS doc_id, min(lab) AS canonical_id,
                 CASE WHEN id = min(lab) THEN 1 ELSE 0 END AS is_canonical
          FROM reach GROUP BY id
        """,
        # same closure, survivor = argmax(n_chars) w/ min-id tiebreak
        "dedup_keep_best": f"""
          WITH RECURSIVE prs AS (
            {dedup_op.jaccard_pairs_sql(0.5, shingle=3)}
          ),
          reach(id, lab) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.b, r.lab FROM reach r
            JOIN (SELECT id1 AS a, id2 AS b FROM prs
                  UNION ALL SELECT id2, id1 FROM prs) e
              ON e.a = r.id
          ),
          comp AS (
            SELECT id AS doc_id, min(lab) AS root FROM reach GROUP BY id
          ),
          best AS (
            SELECT c.root, d.doc_id AS best_id,
                   row_number() OVER (PARTITION BY c.root
                     ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
            FROM comp c JOIN documents d ON d.doc_id = c.doc_id
          )
          SELECT c.doc_id, b.best_id AS canonical_id,
                 CASE WHEN c.doc_id = b.best_id THEN 1 ELSE 0 END
                   AS is_canonical
          FROM comp c JOIN best b ON b.root = c.root AND b.rn = 1
        """,
        "text_tokens": (
            f"SELECT doc_id, CAST({ws} AS BIGINT) AS n_ws_tokens, "
            f"CAST({bpe} AS BIGINT) AS n_bpe_tokens FROM documents"
        ),
        "text_quality": (
            f"SELECT doc_id, CAST({q['n_words']} AS BIGINT) AS n_words, "
            f"{q['mean_word_len']} AS mean_word_len, "
            f"{q['punct_ratio']} AS punct_ratio, "
            f"{q['stopword_ratio']} AS stopword_ratio, "
            f"{q['quality']} AS quality FROM documents"
        ),
        "text_langid": text_op.lang_id_sql(),
        "text_bigram_lm": text_op.char_bigram_logloss_sql(),
        "word_lm": wordlm_op.word_lm_logloss_sql(),
        "ppl_buckets": text_op.perplexity_buckets_sql(),
        "pack_sequences": pack_op.pack_sequences_sql(256, ws),
        "bloom_screen": bloom_op.bloom_screen_sql(
            "doc_id % 3 = 0", m_bits=4096, k=3
        ),
        "gopher_rules": qrules_op.gopher_rules_sql(
            min_words=50, min_stopwords=1
        ),
        "curate": curate_op.curate_counts_sql(min_words=50, min_stopwords=1),
        "c4_clean": c4_op.c4_clean_sql(
            table="(" + c4_op.with_synth_lines_sql() + ")"
        ),
        "boilerplate_host": boiler_op.strip_boilerplate_sql(
            boiler_op.with_synth_host_pages_sql()
        ),
        "quality_classifier": clf_op.hashed_linear_score_sql(
            threshold_micro=25
        ),
        "classifier_pr": clf_op.pr_curve_sql(
            scored_sql=(
                f"SELECT s.id, s.score_micro, "
                f"CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS label "
                f"FROM ({clf_op.hashed_linear_score_sql()}) s "
                f"JOIN documents d ON d.doc_id = s.id"
            )
        ),
        "html_extract": (
            "SELECT doc_id, " + hx_op.extract_text_sql() + " AS extracted, "
            + hx_op.extract_text_sql()
            + " = text || ' Tom & Jerry <3' AS is_faithful FROM ("
            + hx_op.with_synth_html_sql() + ")"
        ),
        "anchor_profile": anchors_op.anchor_profile_sql(_ANCHOR_LINKS_SQL),
        "image_dhash": _DHASH_IMG_SQL,

        "video_meta": """
          SELECT i.range AS doc_id, CAST(10 AS INT) AS width,
                 CAST(8 AS INT) AS height, CAST(30 AS INT) AS fps_num,
                 CAST(6 AS INT) AS n_frames,
                 CAST(36 + 6*(6 + 80 + 2*20) AS BIGINT) AS byte_len,
                 round((SELECT avg(CAST(
                          (x.range*7 + y.range*13 + f.range*5 + i.range)
                          % 256 AS DOUBLE))
                        FROM range(0,10) x, range(0,8) y, range(0,6) f), 6)
                   AS mean_luma
          FROM range(0, 64) i
        """,
        "video_frame_dhash": """
          WITH g AS (
            SELECT i.range AS id, f.range*2 AS frame_idx,
                   y.range AS y, x.range AS x,
              CAST(((x.range*10)//9*7 + y.range*13 + f.range*2*5
                    + i.range) % 256 AS BIGINT) AS v
            FROM range(0,64) i, range(0,3) f, range(0,8) y, range(0,9) x
          ),
          bits AS (
            SELECT a.id, a.frame_idx, a.y, a.x,
                   CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit
            FROM g a JOIN g b ON a.id=b.id AND a.frame_idx=b.frame_idx
                              AND a.y=b.y AND b.x=a.x+1
            WHERE a.x < 8
          ),
          halves AS (
            SELECT id, frame_idx,
              CAST(sum(CASE WHEN y*8+x < 32
                THEN bit * (CAST(1 AS BIGINT) << CAST(y*8+x AS INT))
                ELSE 0 END) AS BIGINT) AS lo,
              CAST(sum(CASE WHEN y*8+x >= 32
                THEN bit * (CAST(1 AS BIGINT) << CAST(y*8+x-32 AS INT))
                ELSE 0 END) AS BIGINT) AS hi
            FROM bits GROUP BY id, frame_idx
          )
          SELECT id, CAST(frame_idx AS INT) AS frame_idx,
            (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
              * 4294967296 + lo AS dhash
          FROM halves
        """,
        "image_dhash_pairs": (
            "WITH h AS (" + _DHASH_IMG_SQL + ") "
            "SELECT a.doc_id AS id1, b.doc_id AS id2, "
            "CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming "
            "FROM h a, h b "
            "WHERE a.doc_id < b.doc_id "
            "AND bit_count(xor(a.dhash, b.dhash)) <= 2"
        ),
        "harmonic": (
            "SELECT node, h_num, round(harmonic, 6) AS harmonic FROM ("
            + graphrank_op.harmonic_centrality_sql(
                "SELECT src, dst FROM (" + _TRIANGLE_EDGES_SQL + ")"
                " WHERE src <> dst",
                radius=4,
            )
            + ")"
        ),
        "triangles": graphrank_op.triangles_sql(
            "SELECT src, dst FROM (" + _TRIANGLE_EDGES_SQL + ")"
            " WHERE src <> dst"
        ),
        "pagerank": graphrank_op.pagerank_sql(
            "SELECT src, dst FROM (" + _PAGERANK_EDGES_SQL + ")"
            " WHERE src <> dst",
            n_iters=4,
        ),
        "pagerank_personal": graphrank_op.personalized_pagerank_sql(
            "SELECT src, dst FROM (" + _PAGERANK_EDGES_SQL + ")"
            " WHERE src <> dst",
            seeds=PPR_SEEDS,
            n_iters=4,
        ),
        "communities": graphrank_op.label_propagation_sql(
            _PAGERANK_EDGES_SQL, n_iters=4
        ),
        "kcore": graphrank_op.kcore_sql(
            _PAGERANK_EDGES_SQL, k=3, n_rounds=6
        ),
        "hits": graphrank_op.hits_sql(
            "SELECT src, dst FROM (" + _PAGERANK_EDGES_SQL + ")"
            " WHERE src <> dst",
            n_iters=4,
        ),
        "adamic_adar": graphrank_op.adamic_adar_sql(
            "SELECT doc_id % 53 AS src, (doc_id * 7 + 1) % 89 AS dst"
            " FROM documents",
            max_degree=60,
        ),
        "cocitation": graphrank_op.cocitation_sql(
            "SELECT doc_id % 53 AS src, (doc_id * 7 + 1) % 89 AS dst"
            " FROM documents UNION ALL"
            " SELECT (doc_id * 3) % 53, (doc_id * 13 + 5) % 89"
            " FROM documents",
            min_count=3,
            max_degree=50,
        ),
        "text_fingerprint": (
            f"SELECT doc_id, {md5_sql} AS fp_md5, "
            f"CAST({roll_sql} AS BIGINT) AS fp_roll FROM documents"
        ),
        "dedup_exact": dedup_op.exact_dedup_sql(select="doc_id, lang"),
        "dedup_paragraph": dedup_op.paragraph_dedup_sql(chunk_words=10),
        "url_canonical": (
            f"SELECT doc_id, {weburl_op.canonical_url_sql('url')} AS canonical_url "
            f"FROM ({_VARIANT_PAGES_SQL})"
        ),
        "url_templates": weburl_op.url_templates_sql(
            _VARIANT_PAGES_SQL, min_count=2
        ),
        "url_dedup": weburl_op.url_dedup_sql(
            f"({_VARIANT_PAGES_SQL})", id_col="doc_id",
            select="doc_id, canonical_url, warc_ts",
        ),
        "crawl_revisit": weburl_op.revisit_changes_sql(
            pages_sql=(
                f"SELECT v.doc_id, v.url, v.warc_ts, md5(d.text) AS content_hash "
                f"FROM ({_VARIANT_PAGES_SQL}) v JOIN documents d "
                f"ON d.doc_id = (v.doc_id // 200) * 200 + v.doc_id % 100"
            ),
            id_col="doc_id",
        ),
        "crawl_policy": weburl_op.policy_verdicts_sql(
            pages_sql=(
                f"SELECT doc_id, {weburl_op.canonical_url_sql('url')} AS url "
                f"FROM ({_VARIANT_PAGES_SQL})"
            ),
            rules_sql=_POLICY_RULES_SQL,
            id_col="doc_id",
        ),
        "pii_redact": (
            lambda e: (
                f"SELECT doc_id, {e['n_email']} AS n_email, "
                f"{e['n_ipv4']} AS n_ipv4, {e['n_phone']} AS n_phone, "
                f"{e['text_redacted']} AS text_redacted "
                f"FROM ({_PII_DOCS_SQL})"
            )
        )(pii_op.pii_redact_sql()),
        "domain_cap": weburl_op.domain_cap_sql(
            f"({_VARIANT_PAGES_SQL})", 3, id_col="doc_id",
            select="doc_id, domain",
        ),
        "domain_stats": (
            f"SELECT domain, count(*) AS n_pages FROM "
            f"(SELECT {weburl_op.url_domain_sql('url')} AS domain "
            f"FROM ({_VARIANT_PAGES_SQL})) "
            f"WHERE domain NOT IN ("
            + ", ".join(f"'{d}'" for d in BLOCKED_DOMAINS)
            + ") GROUP BY domain"
        ),
        "cell_encode": (
            lambda cid: (
                f"SELECT doc_id, {cid} AS cell_id, "
                f"{cellindex_op.cell_token_sql(cid)} AS cell_token, "
                f"{cellindex_op.cell_parent_sql(cid, 6)} AS cell_l6 "
                f"FROM ({_DOCS_GEO_SQL})"
            )
        )(cellindex_op.cell_id_sql("x", "y", 12)),
        "cell_rollup": cellindex_op.cell_rollup_sql(
            f"({_DOCS_GEO_SQL})", CELL_LEVELS
        ),
        "cell_pnp_join": (
            f"SELECT doc_id, CAST(0 AS BIGINT) AS geom_id "
            f"FROM ({_DOCS_GEO_SQL}) WHERE {crop_op.polygon_pnp_sql(POLY)} "
            f"UNION ALL SELECT doc_id, CAST(1 AS BIGINT) AS geom_id "
            f"FROM ({_DOCS_GEO_SQL}) "
            f"WHERE {crop_op.polygon_pnp_sql(CELL_PNP_HEX)}"
        ),
        "cell_range_scan": (
            f"SELECT doc_id, cell_id FROM (SELECT doc_id, "
            f"{cellindex_op.cell_id_sql('x', 'y', 12)} AS cell_id "
            f"FROM ({_DOCS_GEO_SQL})) WHERE "
            + cellindex_op.range_filter_sql(
                "cell_id",
                cellindex_op.covering_ranges(
                    (BOX.minx, BOX.miny, BOX.maxx, BOX.maxy), CELL_SCAN_LEVEL
                ),
            )
        ),
        "dedup_jaccard": dedup_op.jaccard_pairs_sql(0.8),
        "dedup_jaccard_3gram": dedup_op.jaccard_pairs_sql(0.5, shingle=3),
        "dedup_containment": dedup_op.containment_pairs_sql(0.7, shingle=2),
        "dedup_minhash": dedup_op.minhash_dedup_pairs_sql(0.8),
        "dedup_simhash": (
            f"SELECT id AS doc_id, CAST(simhash AS BIGINT) AS simhash "
            f"FROM ({dedup_op.simhash_sql()})"
        ),
        "simhash_pairs": (
            f"WITH sim AS ({dedup_op.simhash_sql()}) "
            f"SELECT a.id AS id1, b.id AS id2, "
            f"CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming "
            f"FROM sim a JOIN sim b ON a.id < b.id "
            f"WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
        ),
        "dedup_edit": dedup_op.edit_distance_pairs_sql(max_dist=40),
        "blocked_terms": cf_op.blocked_terms_sql(
            ["spark", "fast", "sl0w"]
        ),
        "dedup_cosine": sim_op.cosine_dedup_pairs_sql(0.3),
        "dedup_semantic": sim_op.semdedup_sql(0.3),
        "sim_cosine_topk": sim_op.cosine_topk_sql(3),
        "bitext_align": sim_op.margin_align_sql(k=4, threshold=1.0),
        "sim_lsh_topk": sim_op.lsh_cosine_topk_sql(3),
        "sim_ivf_topk": sim_op.ivf_topk_sql(3),
        "ann_index": sim_op.ivf_topk_sql(3),
        "sim_pq_topk": pq_entry_op.pq_topk_sql([0, 1, 2, 3], k=10),
    }


def _relational_oracles() -> dict[str, str]:
    from pdal_spark.datapipe import clustereval as ce_oracle_op

    rq = [parse_range(r) for r in RANGES]
    # OR within l_quantity, AND with l_discount (both non-nullable doubles;
    # isnan() twin kept for exactness)
    range_pred = (
        f"(({range_sql(rq[0], 'l_quantity')}) OR ({range_sql(rq[1], 'l_quantity')}))"
        f" AND ({range_sql(rq[2], 'l_discount')})"
    )
    # assign twins: condition l_discount[0:0.05]; updates in order
    assign_expr = (
        "CASE WHEN (l_discount >= 0 AND l_discount <= 0.05) THEN "
        "  (CASE WHEN (CASE WHEN l_quantity >= 40 THEN 40 ELSE l_quantity END) < 5 "
        "        THEN 0 ELSE (CASE WHEN l_quantity >= 40 THEN 40 ELSE l_quantity END) END) "
        "ELSE l_quantity END"
    )
    gx = "CAST(floor((x - (-180.0)) / 15.0) AS BIGINT)"
    gy = "CAST(floor((y - (-90.0)) / 15.0) AS BIGINT)"
    return {
        "range_filter": (
            f"SELECT l_orderkey, l_linenumber, l_quantity, l_discount "
            f"FROM lineitem WHERE {range_pred}"
        ),
        "mongo_filter": (
            f"SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders "
            f"WHERE {mongo_sql(MONGO)}"
        ),
        "assign_conditional": (
            f"SELECT l_orderkey, l_linenumber, CAST({assign_expr} AS DOUBLE) "
            f"AS qty_capped FROM lineitem"
        ),
        "decimation": (
            "SELECT doc_id, lang FROM documents "
            "WHERE doc_id >= 3 AND (doc_id - 3) % 7 = 0"
        ),
        "head_tail": (
            "(SELECT doc_id, n_chars, 'head' AS \"end\" FROM documents "
            "ORDER BY doc_id LIMIT 40) UNION ALL "
            "(SELECT doc_id, n_chars, 'tail' AS \"end\" FROM documents "
            "ORDER BY doc_id DESC LIMIT 40)"
        ),
        "divider_round_robin": (
            # DuckDB sum(INTEGER) is HUGEINT; cast to BIGINT to match the
            # engine's LongType in the driver's exact value-hash compare.
            "SELECT doc_id % 4 AS view_id, count(*) AS n, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM documents GROUP BY 1"
        ),
        "groupby_views": (
            "SELECT user_id AS view_id, count(*) AS n FROM events GROUP BY 1"
        ),
        "sort_rank": (
            "SELECT event_id, CAST(row_number() OVER (ORDER BY value ASC, event_id ASC) "
            "AS BIGINT) AS sort_rank FROM events"
        ),
        "locate_max": (
            "SELECT event_id, value FROM events ORDER BY value DESC, event_id ASC LIMIT 1"
        ),
        "randomize": (
            "SELECT event_id, CAST(row_number() OVER (ORDER BY "
            f"{rel_op.shuffle_key_sql(42, 'event_id')} ASC, event_id ASC) "
            "AS BIGINT) AS shuffle_rank FROM events"
        ),
        "stats_moments": stats_op.stats_sql(
            "lineitem", ["l_quantity", "l_discount"], round_to=6
        ),
        "merge_union": (
            "SELECT doc_id, lang FROM documents WHERE lang = 'en' "
            "UNION ALL SELECT doc_id, lang FROM documents WHERE lang = 'zh'"
        ),
        "voxel_downsize": (
            f"SELECT doc_id, x, y FROM ("
            f"  SELECT doc_id, x, y, row_number() OVER ("
            f"    PARTITION BY {gx}, {gy} ORDER BY doc_id"
            f"  ) AS rn FROM ({_DOCS_GEO_SQL})"
            f") WHERE rn = 1"
        ),
        "window_agg_events": (
            "SELECT CAST(day(ts) AS INTEGER) AS d, CAST(hour(ts) AS INTEGER) AS h, "
            "CAST(floor(minute(ts) / 5) AS BIGINT) AS m5, event_type, "
            "count(*) AS n, round(sum(value), 6) AS sum_value "
            "FROM events GROUP BY 1, 2, 3, 4"
        ),
        "bm25_rank": ranking_op.bm25_score_sql(BM25_QUERY),
        "boolean_and": ranking_op.conjunctive_search_sql(BM25_QUERY),
        "phrase_search": ranking_op.conjunctive_search_sql(
            PHRASE_QUERY, phrase=True
        ),
        "kmv_distinct": sketch_op.kmv_sketch_sql(
            f"(SELECT source, ({text_op.fingerprint_sql()[1]}) AS fp_roll "
            f"FROM documents)",
            ["source"], "fp_roll", k=32,
        ),
        "hll_distinct": sketch_op.hll_sketch_sql(
            f"(SELECT source, ({text_op.fingerprint_sql()[1]}) AS fp_roll "
            f"FROM documents)",
            ["source"], "fp_roll", m=64,
        ),
        "cluster_ari": ce_oracle_op.adjusted_rand_sql(
            "SELECT doc_id, lang AS label_a FROM documents",
            "SELECT doc_id, source AS label_b FROM documents",
        ),
        "cluster_nmi": ce_oracle_op.normalized_mutual_info_sql(
            "SELECT doc_id, lang AS label_a FROM documents",
            "SELECT doc_id, source AS label_b FROM documents",
        ),
        "vocab_overlap": sketch_op.hll_overlap_sql(
            "(SELECT source, "
            "CAST('0x' || substring(md5(w), 1, 15) AS BIGINT) AS wid "
            "FROM (SELECT source, unnest(string_split(text, ' ')) AS w "
            "FROM documents))",
            "source",
            "wid",
            m=64,
        ),
        "sessionize": ts_op.sessionize_sql(
            "(SELECT event_id, user_id, ts FROM events)",
            key="user_id", ts="ts", gap_seconds=600.0,
            select="event_id, user_id, ts, session_id",
        ),
        "crawl_schedule": ts_op.rate_limit_schedule_sql(
            "(SELECT event_id, user_id, ts FROM events)",
            key="user_id", ts="ts", delay_seconds=30.0, id_col="event_id",
            select="event_id, user_id",
        ),
        "interval_join": ts_op.interval_join_sql(
            "(SELECT event_id, user_id, ts FROM events "
            "WHERE event_type = 'click')",
            "(SELECT event_id, user_id, ts FROM events "
            "WHERE event_type = 'error')",
            key="user_id", ts="ts", delta_seconds=21600.0,
            left_select="l.event_id, l.user_id",
            right_payload=["event_id"],
        ),
        "asof_join": asof_op.asof_join_sql(
            "(SELECT event_id, user_id, ts FROM events "
            "WHERE event_type = 'click')",
            "(SELECT event_id, user_id, ts, value FROM events "
            "WHERE event_type = 'view')",
            on="user_id", ts="ts", payload=["event_id", "value"],
            left_select="l.event_id, l.user_id",
        ),
        **_hexbin_oracles(),
        **_knn_oracles(),
    }


def _knn_oracles() -> dict[str, str]:
    knn_core = f"""
      WITH pts AS ({_DOCS_GEO_SQL}),
      pairs AS (
        SELECT s.doc_id AS src_id, c.doc_id AS cand_id,
               sqrt((s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y)) AS dist,
               CAST(row_number() OVER (
                 PARTITION BY s.doc_id
                 ORDER BY ((s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y)) ASC,
                          c.doc_id ASC
               ) AS INTEGER) AS rank
        FROM pts s JOIN pts c ON s.doc_id <> c.doc_id
      )
      SELECT src_id, cand_id, dist, rank FROM pairs WHERE rank <= {KNN_K}
    """
    classify = f"""
      WITH pts AS (
        SELECT doc_id, x, y, CAST(doc_id % 5 AS INTEGER) AS classification
        FROM ({_DOCS_GEO_SQL})
      ),
      knn AS (
        SELECT * FROM (
          SELECT s.doc_id AS src_id, c.doc_id AS cand_id, c.classification AS ncls,
                 row_number() OVER (
                   PARTITION BY s.doc_id
                   ORDER BY ((s.x-c.x)*(s.x-c.x) + (s.y-c.y)*(s.y-c.y)) ASC,
                            c.doc_id ASC
                 ) AS rank
          FROM pts s JOIN pts c ON s.doc_id <> c.doc_id
        ) WHERE rank <= {KNN_K}
      ),
      votes AS (
        SELECT src_id, ncls, count(*) AS v FROM knn GROUP BY 1, 2
      ),
      winner AS (
        SELECT src_id, ncls, v,
               sum(v) OVER (PARTITION BY src_id) AS k_actual,
               row_number() OVER (PARTITION BY src_id ORDER BY v DESC, ncls ASC) AS rk
        FROM votes
      )
      SELECT p.doc_id,
             CASE WHEN w.v > w.k_actual / 2.0 AND w.ncls <> p.classification
                  THEN w.ncls ELSE p.classification END AS classification
      FROM pts p LEFT JOIN (SELECT * FROM winner WHERE rk = 1) w
        ON p.doc_id = w.src_id
    """
    radial = f"""
      WITH pts AS ({_DOCS_GEO_SQL}),
      counts AS (
        SELECT s.doc_id, count(*) AS n
        FROM pts s JOIN pts c
          ON ((s.x-c.x)*(s.x-c.x) + (s.y-c.y)*(s.y-c.y)) <= {_dbl(12.0 * 12.0)}
        GROUP BY 1
      )
      SELECT p.doc_id,
             round(coalesce(n, 0) / ((4.0/3.0) * pi() * {_dbl(12.0**3)}), 9)
               AS radial_density
      FROM pts p LEFT JOIN counts USING (doc_id)
    """
    return {
        "knn_join": knn_core,
        "knn_join_salted": knn_core,
        "neighbor_classify": classify,
        "radial_density": radial,
    }


def _hexbin_oracles() -> dict[str, str]:
    import math

    height = HEX_EDGE * math.sqrt(3.0)
    hx_sql, hy_sql = geo.hex_cell_sql("x", "y", TILE_OX, TILE_OY, height)
    base = (
        f"SELECT {hx_sql} AS hex_x, {hy_sql} AS hex_y, count(*) AS count "
        f"FROM ({_DOCS_GEO_SQL}) GROUP BY 1, 2"
    )
    return {
        "hexbin_density": base,
        "hexbin_dense": f"SELECT * FROM ({base}) WHERE count >= 3",
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: geocode -> polygon crop -> tile -> per-tile counts at sf0.001."""
    configure_session(spark)
    sf_dir = "/root/testdata/sf0.001"
    df = crop_op.crop(_docs_geo(spark, sf_dir), [POLY], mode="stream")
    out = splitter_op.split(df, TILE_LEN, TILE_OX, TILE_OY)
    return out.groupBy("tile_x", "tile_y").agg(F.count("*").alias("n_pages"))
