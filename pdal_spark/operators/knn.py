"""Cell-bucketed kNN / radius join primitive + the operators built on it.

The reference does all neighbor searches through an exact in-memory
KD-tree (pdal/KDIndex.hpp, nanoflann L2). Here every kNN search goes
through one entry point, :func:`knn_join`, whose `cell_size` picks the
contract:

  * cell_size=None — exact at any density: the candidates are broadcast
    and every (src, cand) pair is ranked. The plan for small candidate
    sets (tests, the feature family's default, hausdorff/delta on small
    clouds).
  * cell_size=c — grid-bucketed, nothing broadcast (the scale plan):
    candidates get a cell id (floor(x/c), floor(y/c)), each query point
    sees its 3x3 cell neighborhood, and the k nearest of those are kept.

Grid exactness: results equal the KD-tree's whenever the true
kth-neighbor distance (or search radius) is <= cell_size. Callers pick
cell_size from expected density; `validate=True` asserts the invariant
on the computed result (one extra aggregate) — the scale-safe way to
*prove* exactness instead of hoping.

Skew (the north rule's mega-cell case): keys (cells or blocks) whose
population exceeds `salt_threshold` are split into `n_salts` sub-keys;
the other side replicates over the sub-keys of hot keys only (driven by
a broadcast join against the small hot-key table). Cold keys pay
nothing.

Operators built on the primitive:
  * neighbor_classifier — filters.neighborclassifier
    (NeighborClassifierFilter.cpp:108-193): k-vote with
    votes > k/2 and smallest-class tie win (std::map + max_element).
    Candidate mode = snapshot semantics, exact parity. Self mode is
    ALSO snapshot here — the reference mutates classifications in place
    while scanning (order-dependent, 176-180); documented divergence.
  * outlier — filters.outlier (OutlierFilter.cpp:96-151): statistical
    (mean kNN distance, threshold mean + m*stdev[sample]) and radius
    (inlier iff neighbor count within radius > min_k, self included).
  * nn_distance — filters.nndistance: kth or avg neighbor distance.
  * radial_density — filters.radialdensity: count within radius / volume.
  * hausdorff / delta kernels — max-min NN distance / per-point diff.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdal_spark.functions.dimrange import parse_range, value_passes

NEIGHBOR_OFFSETS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]


def _with_cell(df: DataFrame, cell_size: float, x: str, y: str) -> DataFrame:
    return df.withColumn("_cx", F.floor(F.col(x) / cell_size).cast("long")).withColumn(
        "_cy", F.floor(F.col(y) / cell_size).cast("long")
    )


def _sides(src, cand, cell_size, src_id, cand_id, x, y):
    """(src_id, x, y) and (cand_id, _cxv, _cyv) projections, each with
    its grid cell (_cx, _cy) when cell_size is given."""
    s = src.select(F.col(src_id), F.col(x), F.col(y))
    c = cand.select(F.col(cand_id), F.col(x).alias("_cxv"), F.col(y).alias("_cyv"))
    if cell_size is None:
        return s, c
    return _with_cell(s, cell_size, x, y), _with_cell(c, cell_size, "_cxv", "_cyv")


def _d2(x: str, y: str):
    return (F.col(x) - F.col("_cxv")) ** 2 + (F.col(y) - F.col("_cyv")) ** 2


def _neighbourhood(s: DataFrame) -> DataFrame:
    """Each row once per cell of its 3x3 neighborhood, with (_cx, _cy)
    rewritten to that cell (arrays of struct -> explode: one narrow
    pass, no shuffle until the join itself)."""
    offs = F.array(*[
        F.struct((F.col("_cx") + dx).alias("cx"), (F.col("_cy") + dy).alias("cy"))
        for dx, dy in NEIGHBOR_OFFSETS
    ])
    return (
        s.withColumn("_nb", F.explode(offs))
        .withColumn("_cx", F.col("_nb.cx"))
        .withColumn("_cy", F.col("_nb.cy"))
        .drop("_nb")
    )


def _rank(pairs, k, src_id, cand_id, x, y, exclude_self):
    """The k nearest candidates per src of a pair frame -> (src_id,
    cand_id, dist, rank); rank is 1-based by (d², cand_id)."""
    if exclude_self:
        pairs = pairs.filter(F.col(src_id) != F.col(cand_id))
    w = Window.partitionBy(src_id).orderBy(F.col("_d2").asc(), F.col(cand_id).asc())
    return (
        pairs.withColumn("_d2", _d2(x, y))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col(src_id), F.col(cand_id), F.sqrt(F.col("_d2")).alias("dist"), "rank")
    )


AUTO_SALT_FLOOR = 65_536


def _hot_keys(side, keys, salt_threshold, n_salts):
    """(keys..., _nsalt) for the keys whose row count in `side` exceeds
    the salt threshold; None when salt_threshold is None (no salting).

    salt_threshold="auto": a key is hot when its count exceeds
    max(AUTO_SALT_FLOOR, 8 * |side| / shuffle_partitions), i.e. when one
    key alone would dominate a reduce task. |side| is the sum of the
    same per-key counts (the 1-row total broadcasts), so there is no
    eager count() driver action per call (looped callers: ICP, the
    features family). On well-spread data the hot table is empty and
    the plan degenerates to the unsalted one."""
    if salt_threshold is None:
        return None
    counts = side.groupBy(*keys).agg(F.count("*").alias("_n"))
    if salt_threshold == "auto":
        parts = int(side.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
        counts = counts.crossJoin(F.broadcast(counts.agg(F.sum("_n").alias("_tot"))))
        thr = F.greatest(
            F.lit(AUTO_SALT_FLOOR).cast("double"),
            (8.0 * F.col("_tot")) / F.lit(float(max(parts, 1))))
    else:
        thr = F.lit(salt_threshold)
    return counts.filter(F.col("_n") > thr).select(*keys, F.lit(n_salts).alias("_nsalt"))


def _salt(split, replicate, hot, keys, split_id):
    """DS2-style hot-key salting -> (split, replicate), both with _salt.
    Rows of `split` in a hot key go to one of its `_nsalt` sub-keys by a
    hash of `split_id`; rows of `replicate` in a hot key are copied to
    every sub-key. Cold keys, and every key when hot is None, get 0."""
    if hot is None:
        return split.withColumn("_salt", F.lit(0)), replicate.withColumn("_salt", F.lit(0))
    split = split.join(F.broadcast(hot), keys, "left").withColumn(
        "_salt",
        F.when(
            F.col("_nsalt").isNotNull(),
            F.pmod(F.xxhash64(F.col(split_id)), F.col("_nsalt")).cast("int"),
        ).otherwise(F.lit(0)),
    ).drop("_nsalt")
    # Spark rejects a generator nested in an expression: cast separately
    replicate = replicate.join(F.broadcast(hot), keys, "left").withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.coalesce(F.col("_nsalt"), F.lit(1)) - 1)),
    ).withColumn("_salt", F.col("_salt").cast("int")).drop("_nsalt")
    return split, replicate


def _check_grid(out, k, cell_size, src_id):
    """Raise unless every query found k neighbors AND its kth distance
    fits within one cell (then the 3x3 neighborhood provably covered
    the true k-disk). Fewer than k found => neighborhood exhausted
    before k => grid too coarse (or k > |cand|, where the exact plan is
    the tool)."""
    bad = (
        out.groupBy(src_id)
        .agg(F.count("*").alias("_nf"), F.max("dist").alias("_md"))
        .filter((F.col("_nf") < k) | (F.col("_md") > F.lit(float(cell_size))))
        .count()
    )
    if bad:
        raise ValueError(
            f"kNN grid too coarse: {bad} query points have < {k} neighbors "
            f"in the 3x3 neighborhood or kth distance > cell_size="
            f"{cell_size}; increase cell_size or pass cell_size=None"
        )


#: block edge in cells for the kernel kNN — candidates replicate into a
#: 1-cell halo around each (BLOCK x BLOCK)-cell block, so the per-point
#: replication factor is (BLOCK+2)^2/BLOCK^2 (~1.6x at 8) instead of the
#: 9x of per-cell replication, and groups stay large enough that the
#: Arrow per-group overhead is amortized.
KNN_BLOCK_CELLS = 8


def knn_join(
    src: DataFrame,
    cand: DataFrame,
    k: int,
    cell_size: float | None = None,
    src_id: str = "src_id",
    cand_id: str = "cand_id",
    x: str = "x",
    y: str = "y",
    exclude_self: bool = False,
    salt_threshold: int | None | str = "auto",
    n_salts: int = 8,
    validate: bool = False,
) -> DataFrame:
    """k nearest candidates per src row -> (src_id, cand_id, dist, rank).

    rank is 1-based by (distance, cand_id) — the cand_id tiebreak makes
    the result deterministic where the reference KD-tree's equal-distance
    order is unspecified. exclude_self drops cand rows whose id equals
    the src id (self-kNN).

    cell_size=None is the exact plan: the candidates are broadcast, every
    (src, cand) pair is ranked in one window, and the result equals the
    KD-tree's at any density. Use it when the candidate set fits in a
    broadcast; salt_threshold, n_salts and validate do not apply.

    With a cell_size the k nearest among the 3x3 cell neighborhood are
    returned (exact iff the kth distance is <= cell_size; validate=True
    checks that on the result and raises ValueError otherwise). Small
    inputs (both sides under the ordered.SMALL_BYTES plan-stats gate)
    take :func:`knn_join_pairwise`, where pure codegen beats the cogroup
    kernel's Arrow/python overhead; PDAL_SPARK_FORCE_DISTRIBUTED=1 pins
    the kernel shape so the plan census audits the at-scale plan (same
    convention as operators/ordered.py). Larger inputs take the cogroup
    kernel, which returns the same rows as the pairwise plan.

    Why a kernel: the pairwise plan materializes EVERY (src,
    neighborhood-candidate) pair and shuffles all of them through a
    per-src window — ~200 pairs/point at typical densities, so a
    1M-point join moves 198M rows through the rank exchange and the
    window sort is ~90% of the wall clock (measured on the 4-worker
    standalone harness; scaling efficiency 0.47). In the kernel the pair
    stream never exists as rows: candidates replicate into the 1-cell
    halo of each BLOCK x BLOCK cell block (the SMRF tiled-halo pattern),
    one cogroup shuffle brings each block's srcs and halo candidates
    together, and a vectorized numpy kernel emits exactly k rows per src
    — masked to the src's own 3x3 cell neighborhood so results match the
    pairwise plan bit for bit. Shuffle volume drops from O(pairs) to
    O(1.6 x points); there is no window.

    Skew: the kernel splits the srcs of blocks whose SRC population
    exceeds salt_threshold over n_salts sub-groups and replicates the
    block's candidates per sub-group (srcs are independent given the
    candidates, so this is exact); the pairwise plan splits hot
    candidate cells and replicates their srcs. salt_threshold="auto"
    (default) is the count rule of :func:`_hot_keys`; pass an int to pin
    the threshold, or None to disable salting.
    """
    from pdal_spark.operators.ordered import SMALL_BYTES, _is_small

    if cell_size is None:
        s, c = _sides(src, cand, None, src_id, cand_id, x, y)
        return _rank(s.crossJoin(F.broadcast(c)), k, src_id, cand_id, x, y,
                     exclude_self)
    plan = (knn_join_pairwise
            if _is_small(src, SMALL_BYTES) and _is_small(cand, SMALL_BYTES)
            else _knn_cogroup)
    out = plan(src, cand, k, cell_size, src_id=src_id, cand_id=cand_id,
               x=x, y=y, exclude_self=exclude_self,
               salt_threshold=salt_threshold, n_salts=n_salts)
    if validate:
        _check_grid(out, k, cell_size, src_id)
    return out


def _knn_cogroup(src, cand, k, cell_size, src_id, cand_id, x, y,
                 exclude_self, salt_threshold, n_salts) -> DataFrame:
    """knn_join's block-cogroup kernel plan (see knn_join)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    B = KNN_BLOCK_CELLS
    s, c = _sides(src, cand, cell_size, src_id, cand_id, x, y)
    s = s.withColumn("_bx", F.floor(F.col("_cx") / B).cast("long")) \
         .withColumn("_by", F.floor(F.col("_cy") / B).cast("long"))
    # candidate (cell cx,cy) belongs to block (bx,by)'s halo iff
    # cx in [bx*B-1, bx*B+B] — i.e. up to 4 blocks; enumerate them
    # map-side with an explode over the distinct floor values
    def halo_blocks(cell):
        return F.array_distinct(F.array(*[
            F.floor((F.col(cell) + d) / B).cast("long") for d in (-1, 0, 1)
        ]))

    c = (
        c.withColumn("_bx", F.explode(halo_blocks("_cx")))
        .withColumn("_by", F.explode(halo_blocks("_cy")))
    )
    hot = _hot_keys(s, ["_bx", "_by"], salt_threshold, n_salts)
    s, c = _salt(s, c, hot, ["_bx", "_by"], src_id)

    out_schema = T.StructType([
        T.StructField(src_id, src.schema[src_id].dataType),
        T.StructField(cand_id, cand.schema[cand_id].dataType),
        T.StructField("dist", T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
    ])
    kk = int(k)
    excl = bool(exclude_self)

    def kernel(key, spdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(spdf) or not len(cpdf):
            return pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in out_schema}
            )
        # stable candidate order by id => stable argsort tie-breaks by id
        cpdf = cpdf.sort_values(cand_id, kind="stable")
        cxv = cpdf["_cxv"].to_numpy(np.float64)
        cyv = cpdf["_cyv"].to_numpy(np.float64)
        ccx = cpdf["_cx"].to_numpy(np.int64)
        ccy = cpdf["_cy"].to_numpy(np.int64)
        cids = cpdf[cand_id].to_numpy()
        sxv = spdf[x].to_numpy(np.float64)
        syv = spdf[y].to_numpy(np.float64)
        scx = spdf["_cx"].to_numpy(np.int64)
        scy = spdf["_cy"].to_numpy(np.int64)
        sids = spdf[src_id].to_numpy()
        out_s, out_c, out_d, out_r = [], [], [], []
        chunk = max(1, (4 << 20) // max(len(cpdf), 1))  # ~32MB f64 matrix
        for lo in range(0, len(spdf), chunk):
            hi = min(lo + chunk, len(spdf))
            dx = sxv[lo:hi, None] - cxv[None, :]
            dy = syv[lo:hi, None] - cyv[None, :]
            d2 = dx * dx + dy * dy
            # restrict to the src's own 3x3 cell neighborhood — the
            # contract (and the driver oracle) is neighborhood-kNN
            nb = (
                (np.abs(scx[lo:hi, None] - ccx[None, :]) <= 1)
                & (np.abs(scy[lo:hi, None] - ccy[None, :]) <= 1)
            )
            if excl:
                nb &= sids[lo:hi, None] != cids[None, :]
            d2 = np.where(nb, d2, np.inf)
            # stable argsort => ties broken by candidate id (pre-sorted)
            order = np.argsort(d2, axis=1, kind="stable")[:, :kk]
            dsel = np.take_along_axis(d2, order, axis=1)
            valid = np.isfinite(dsel)
            nv = valid.sum(axis=1)
            rows = np.repeat(np.arange(hi - lo), nv)
            flat_ord = order[valid]
            out_s.append(np.repeat(sids[lo:hi], nv))
            out_c.append(cids[flat_ord])
            out_d.append(np.sqrt(dsel[valid]))
            ranks = np.concatenate(
                [np.arange(1, n + 1) for n in nv]
            ) if len(rows) else np.empty(0, dtype=np.int64)
            out_r.append(ranks)
        return pd.DataFrame({
            src_id: np.concatenate(out_s) if out_s else [],
            cand_id: np.concatenate(out_c) if out_c else [],
            "dist": np.concatenate(out_d) if out_d else [],
            "rank": (np.concatenate(out_r) if out_r else np.empty(0)
                     ).astype(np.int32),
        })

    return (
        s.groupBy("_bx", "_by", "_salt")
        .cogroup(c.groupBy("_bx", "_by", "_salt"))
        .applyInPandas(kernel, schema=out_schema)
    )


def knn_join_pairwise(
    src: DataFrame,
    cand: DataFrame,
    k: int,
    cell_size: float,
    src_id: str = "src_id",
    cand_id: str = "cand_id",
    x: str = "x",
    y: str = "y",
    exclude_self: bool = False,
    salt_threshold: int | None | str = "auto",
    n_salts: int = 8,
) -> DataFrame:
    """Materialized-pair plan of knn_join with a cell_size: every
    neighborhood pair as a row through a per-src rank window. knn_join
    takes it for small inputs, and it is the parity oracle for the
    cogroup kernel (tests assert bit-equal results). Same arguments and
    output as knn_join; salting splits hot candidate cells and
    replicates their srcs."""
    s, c = _sides(src, cand, cell_size, src_id, cand_id, x, y)
    hot = _hot_keys(c, ["_cx", "_cy"], salt_threshold, n_salts)
    c, s = _salt(c, _neighbourhood(s), hot, ["_cx", "_cy"], cand_id)
    return _rank(s.join(c, ["_cx", "_cy", "_salt"]), k, src_id, cand_id, x, y,
                 exclude_self)


def radius_join(
    src: DataFrame,
    cand: DataFrame,
    radius: float,
    cell_size: float | None = None,
    src_id: str = "src_id",
    cand_id: str = "cand_id",
    x: str = "x",
    y: str = "y",
    exclude_self: bool = False,
) -> DataFrame:
    """All candidates within `radius` (inclusive, KD radius-search style)
    per src row. cell_size defaults to radius (then the 3x3 neighborhood
    provably covers the disk)."""
    cell = cell_size or radius
    if cell < radius:
        raise ValueError("cell_size must be >= radius for exact coverage")
    s, c = _sides(src, cand, cell, src_id, cand_id, x, y)
    joined = _neighbourhood(s).join(c, ["_cx", "_cy"])
    if exclude_self:
        joined = joined.filter(F.col(src_id) != F.col(cand_id))
    return (
        joined.withColumn("_d2", _d2(x, y))
        .filter(F.col("_d2") <= F.lit(radius * radius))
        .select(F.col(src_id), F.col(cand_id), F.sqrt(F.col("_d2")).alias("dist"))
    )


# ---------------------------------------------------------------------------
# filters.neighborclassifier
# ---------------------------------------------------------------------------


def neighbor_classifier(
    src: DataFrame,
    cand: DataFrame | None,
    k: int,
    cell_size: float | None = None,
    dim: str = "classification",
    domain: list[str] | None = None,
    id_col: str = "page_id",
    cand_id_col: str | None = None,
    x: str = "x",
    y: str = "y",
    salt_threshold: int | None = None,
) -> DataFrame:
    """filters.neighborclassifier (NeighborClassifierFilter.cpp:108-193).

    For every src row (optionally restricted to rows passing ANY `domain`
    DimRange, 145-152): take the k nearest candidates, count classes,
    winner = highest count with smallest class value on ties (std::map
    iteration order + strict max_element, 115-127); update iff
    votes > k_actual/2 and winner != current class (131-134).

    cand=None -> self mode with SNAPSHOT semantics (reference self mode
    votes on already-updated neighbors in scan order — order-dependent;
    non-goal, divergence documented). Candidate mode is exact parity.
    cell_size: as knn_join (None = the exact broadcast plan).
    """
    self_mode = cand is None
    cand_df = src if self_mode else cand
    cid = id_col if self_mode else (cand_id_col or id_col)
    cand_sel = cand_df.select(
        F.col(cid).alias("_nc_cand"),
        F.col(dim).alias("_nc_class"),
        F.col(x),
        F.col(y),
    )

    in_domain = None
    if domain:
        ftypes = dict((f.name, f.dataType.typeName()) for f in src.schema.fields)
        for rs in domain:
            r = parse_range(rs)
            p = value_passes(r, F.col(r.name), ftypes.get(r.name) in ("double", "float"))
            in_domain = p if in_domain is None else (in_domain | p)

    queries = src.filter(in_domain) if in_domain is not None else src
    q_pts = queries.select(F.col(id_col).alias("_nc_src"), F.col(x), F.col(y))

    knn = knn_join(
        q_pts,
        cand_sel.select(F.col("_nc_cand"), F.col(x), F.col(y)),
        k,
        cell_size,
        src_id="_nc_src",
        cand_id="_nc_cand",
        x=x,
        y=y,
        exclude_self=self_mode,
        salt_threshold=salt_threshold,
    )

    # F.mode() has no deterministic tie rule, so the vote is explicit:
    per_class = (
        knn.join(cand_sel.select("_nc_cand", "_nc_class"), "_nc_cand")
        .groupBy("_nc_src", "_nc_class")
        .agg(F.count("*").alias("_votes"))
    )
    wv = Window.partitionBy("_nc_src").orderBy(
        F.col("_votes").desc(), F.col("_nc_class").asc()
    )
    winners = (
        per_class.withColumn("_rk", F.row_number().over(wv))
        .filter(F.col("_rk") == 1)
        .join(
            per_class.groupBy("_nc_src").agg(F.sum("_votes").alias("_k_actual")),
            "_nc_src",
        )
        .select("_nc_src", "_nc_class", "_votes", "_k_actual")
    )

    out = src.join(winners, src[id_col] == winners["_nc_src"], "left")
    updated = (
        F.col("_votes").isNotNull()
        & (F.col("_votes") > F.col("_k_actual") / 2.0)
        & (F.col("_nc_class") != F.col(dim))
    )
    return (
        out.withColumn(dim, F.when(updated, F.col("_nc_class")).otherwise(F.col(dim)))
        .drop("_nc_src", "_nc_class", "_votes", "_k_actual")
    )


# ---------------------------------------------------------------------------
# filters.outlier / nndistance / radialdensity
# ---------------------------------------------------------------------------


def outlier_statistical(
    df: DataFrame,
    mean_k: int = 8,
    multiplier: float = 2.0,
    cell_size: float | None = None,
    noise_class: int = 7,
    id_col: str = "page_id",
    x: str = "x",
    y: str = "y",
    validate: bool = False,
) -> DataFrame:
    """filters.outlier statistical (OutlierFilter.cpp:96-151): per-point
    mean distance to mean_k nearest neighbors (self excluded); outlier iff
    mean dist >= mean + multiplier * sample-stdev of all mean dists;
    outliers get Classification = noise_class. cell_size and validate:
    as knn_join (None = the exact broadcast plan)."""
    pts = df.select(F.col(id_col).alias("_o_src"), F.col(x), F.col(y))
    cand = df.select(F.col(id_col).alias("_o_cand"), F.col(x), F.col(y))
    knn = knn_join(
        pts, cand, mean_k, cell_size, src_id="_o_src", cand_id="_o_cand",
        x=x, y=y, exclude_self=True, validate=validate,
    )
    mean_d = knn.groupBy("_o_src").agg(F.avg("dist").alias("_mean_d"))
    thr_row = mean_d.agg(
        F.avg("_mean_d").alias("m"), F.stddev_samp("_mean_d").alias("s")
    ).collect()[0]
    threshold = thr_row["m"] + multiplier * thr_row["s"]
    out = df.join(mean_d, df[id_col] == mean_d["_o_src"], "left")
    is_noise = F.col("_mean_d") >= F.lit(threshold)
    return out.withColumn(
        "classification",
        F.when(is_noise, F.lit(noise_class)).otherwise(
            F.col("classification") if "classification" in df.columns else F.lit(0)
        ),
    ).drop("_o_src", "_mean_d")


def outlier_radius(
    df: DataFrame,
    radius: float = 1.0,
    min_k: int = 2,
    noise_class: int = 7,
    id_col: str = "page_id",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """filters.outlier radius (OutlierFilter.cpp:76-94): inlier iff
    neighbor count within radius (self INCLUDED) > min_k."""
    pts = df.select(F.col(id_col).alias("_o_src"), F.col(x), F.col(y))
    cand = df.select(F.col(id_col).alias("_o_cand"), F.col(x), F.col(y))
    nb = radius_join(pts, cand, radius, src_id="_o_src", cand_id="_o_cand", x=x, y=y)
    counts = nb.groupBy("_o_src").agg(F.count("*").alias("_n_nb"))
    out = df.join(counts, df[id_col] == counts["_o_src"], "left")
    is_inlier = F.coalesce(F.col("_n_nb"), F.lit(0)) > min_k
    return out.withColumn(
        "classification",
        F.when(~is_inlier, F.lit(noise_class)).otherwise(
            F.col("classification") if "classification" in df.columns else F.lit(0)
        ),
    ).drop("_o_src", "_n_nb")


def nn_distance(
    df: DataFrame,
    k: int = 10,
    mode: str = "kth",
    cell_size: float | None = None,
    id_col: str = "page_id",
    x: str = "x",
    y: str = "y",
    validate: bool = False,
) -> DataFrame:
    """filters.nndistance (NNDistanceFilter.cpp:60-66): per-point kth or
    average neighbor distance as a new NNDistance column. cell_size and
    validate: as knn_join (None = the exact broadcast plan)."""
    pts = df.select(F.col(id_col).alias("_n_src"), F.col(x), F.col(y))
    cand = df.select(F.col(id_col).alias("_n_cand"), F.col(x), F.col(y))
    knn = knn_join(pts, cand, k, cell_size, src_id="_n_src", cand_id="_n_cand",
                   x=x, y=y, exclude_self=True, validate=validate)
    if mode == "kth":
        agg = knn.filter(F.col("rank") == k).select(
            F.col("_n_src"), F.col("dist").alias("nn_distance")
        )
    elif mode == "avg":
        agg = knn.groupBy("_n_src").agg(F.avg("dist").alias("nn_distance"))
    else:
        raise ValueError("mode must be kth|avg")
    return df.join(agg, df[id_col] == agg["_n_src"], "left").drop("_n_src")


def radial_density(
    df: DataFrame,
    radius: float = 1.0,
    id_col: str = "page_id",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """filters.radialdensity (RadialDensityFilter.cpp:61,84-85): neighbor
    count within radius / sphere volume (reference uses 3D volume even
    for planar data; replicated)."""
    pts = df.select(F.col(id_col).alias("_r_src"), F.col(x), F.col(y))
    cand = df.select(F.col(id_col).alias("_r_cand"), F.col(x), F.col(y))
    nb = radius_join(pts, cand, radius, src_id="_r_src", cand_id="_r_cand", x=x, y=y)
    vol = (4.0 / 3.0) * math.pi * radius**3
    counts = nb.groupBy("_r_src").agg((F.count("*") / vol).alias("radial_density"))
    return df.join(counts, df[id_col] == counts["_r_src"], "left").drop("_r_src")


# ---------------------------------------------------------------------------
# kernels.hausdorff / kernels.delta
# ---------------------------------------------------------------------------


def hausdorff(
    a: DataFrame, b: DataFrame, id_a: str = "page_id", id_b: str = "page_id",
    x: str = "x", y: str = "y", cell_size: float | None = None,
    validate: bool = False,
) -> float:
    """kernels.hausdorff: max(max-min-dist(a->b), max-min-dist(b->a)).

    cell_size and validate: as knn_join — give a cell_size when the
    candidate side is a full point cloud (not broadcastable)."""
    def one_way(s, c, ids, idc):
        nn = knn_join(
            s.select(F.col(ids).alias("_h_src"), x, y),
            c.select(F.col(idc).alias("_h_cand"), x, y),
            1, cell_size, src_id="_h_src", cand_id="_h_cand", x=x, y=y,
            validate=validate,
        )
        return nn.agg(F.max("dist")).collect()[0][0]

    return max(one_way(a, b, id_a, id_b), one_way(b, a, id_b, id_a))


def delta(
    src: DataFrame, cand: DataFrame, id_src: str = "page_id",
    id_cand: str = "page_id", x: str = "x", y: str = "y",
    cell_size: float | None = None, validate: bool = False,
) -> DataFrame:
    """kernels.delta: per src point, coordinate diffs vs nearest cand
    (cell_size and validate: as knn_join)."""
    nn = knn_join(
        src.select(F.col(id_src).alias("_d_src"), x, y),
        cand.select(F.col(id_cand).alias("_d_cand"), x, y),
        1, cell_size, src_id="_d_src", cand_id="_d_cand", x=x, y=y,
        validate=validate,
    )
    c = cand.select(
        F.col(id_cand).alias("_d_cand"),
        F.col(x).alias("_d_x"),
        F.col(y).alias("_d_y"),
    )
    return (
        src.join(nn, src[id_src] == nn["_d_src"])
        .join(c, "_d_cand")
        .select(
            F.col(id_src),
            (F.col(x) - F.col("_d_x")).alias("delta_x"),
            (F.col(y) - F.col("_d_y")).alias("delta_y"),
            F.col("dist").alias("delta_dist"),
        )
    )
