"""Similarity search over an embedding column (array<float>).

  cosine_topk         exact top-k neighbors: the blocked plan (candidates
                      hashed into blocks, every query visits every block,
                      per-block local top-k, then a per-query window);
                      margin_align runs the same plan across collections.
  lsh_cosine_topk     random-hyperplane LSH bucketing: only same-bucket
                      pairs are scored, each once, then ranked.
  ivf_topk            spherical-k-means inverted lists; a query probes its
                      nprobe nearest lists (exact at nprobe = nlist).
  cosine_dedup_pairs  near-dup pairs over the LSH buckets; semdedup over
                      the k-means clusters.

Every Arrow kernel is built from the same numpy pieces: _cosine_block
(the rounded cosine block), _topk (per-query top-k), _group_pairs
(within-group pairs) and _nearest_lists (nearest centroids). Their
dot products are a dimension-ordered left fold in double
(_seq_dot_matrix), the fold the JVM Column (_dot: zip_with + aggregate)
and the DuckDB oracle run too, so all three are bit-comparable;
emitted similarities are rounded to 6 decimals.

Hyperplane components are deterministic rationals
((p*131 + j*31 + 7) % 1000)/1000 - 0.5 (plane p, dim j) — identical
arithmetic in Spark, SQL, and numpy; no RNG state anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdal_spark.geo import sql_double

ROUND = 6


def _dot(a: Column, b: Column) -> Column:
    """Ordered left-fold dot product in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _norm_sql(a: str) -> str:
    return (
        f"sqrt(list_sum(list_transform({a}, "
        f"v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
    )


def _seq_dot_matrix(S: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """(m,d) x (n,d) -> (m,n) dot products accumulated in DIMENSION ORDER.

    Deliberately not BLAS matmul: each element is the left-fold
    Σ_j S[i,j]*C[k,j] in ascending j, bit-identical to the Column-HOF
    fold and to DuckDB's list_sum — vectorized across the (m,n) plane, so
    it's still ~two orders faster than per-pair Python."""
    import numpy as np

    acc = np.zeros((S.shape[0], C.shape[0]))
    for j in range(S.shape[1]):
        acc += np.multiply.outer(S[:, j], C[:, j])
    return acc


def _seq_norms(M: "np.ndarray") -> "np.ndarray":
    import numpy as np

    acc = np.zeros(M.shape[0])
    for j in range(M.shape[1]):
        acc += M[:, j] * M[:, j]
    return np.sqrt(acc)


def _round_half_up(x: "np.ndarray", digits: int = ROUND) -> "np.ndarray":
    """HALF_UP decimal rounding (Spark round() / DuckDB round semantics;
    numpy's round is half-even and would diverge)."""
    import numpy as np

    s = 10.0 ** digits
    return np.sign(x) * np.floor(np.abs(x) * s + 0.5) / s


def _matrix(vectors: "pd.Series") -> "np.ndarray":
    """An Arrow batch's array column as an (n, d) float64 matrix."""
    import numpy as np

    return np.array(list(vectors), dtype=np.float64)


def _cosine_block(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
    """(m, n) cosines of A's rows against B's, rounded HALF_UP to ROUND
    places — the similarity every Arrow kernel ranks and filters on."""
    import numpy as np

    return _round_half_up(
        _seq_dot_matrix(A, B) / np.multiply.outer(_seq_norms(A), _seq_norms(B))
    )


def _topk(
    qids: "np.ndarray", cids: "np.ndarray", sims: "np.ndarray", k: int,
    exclude_self: bool,
) -> "pd.DataFrame":
    """(src_id, cand_id, cosine): each query's k best candidates by
    (cosine desc, cand id asc) from its row of the cosine block.
    exclude_self drops the candidate whose id is the query's own, which
    is right for self-search only: across two collections an equal id
    is a different vector."""
    import numpy as np
    import pandas as pd

    out_s, out_c, out_v = [], [], []
    for i in range(len(qids)):
        cands, vals = cids, sims[i]
        if exclude_self:
            mask = cids != qids[i]
            cands, vals = cids[mask], vals[mask]
        order = np.lexsort((cands, -vals))[:k]
        out_s.extend([qids[i]] * len(order))
        out_c.extend(cands[order])
        out_v.extend(vals[order])
    return pd.DataFrame({
        "src_id": np.array(out_s, np.int64),
        "cand_id": np.array(out_c, np.int64),
        "cosine": np.array(out_v, np.float64),
    })


def _group_pairs(
    pdf: "pd.DataFrame", tbl: int | None = None,
    threshold: float | None = None,
) -> "pd.DataFrame":
    """(id1, id2, cosine), id1 < id2: every pair of one group's (id, v)
    rows once. With ``tbl`` the group is one LSH (tbl, bucket) and each
    row carries all its table buckets in ``bks``: a pair is kept only in
    its first colliding table, so the pairs of all groups are distinct
    without a dedup exchange. With ``threshold`` only pairs whose cosine
    is >= threshold are kept."""
    import numpy as np
    import pandas as pd

    ids = pdf["id"].to_numpy(np.int64)
    M = _matrix(pdf["v"])
    iu, ju = np.triu_indices(len(ids), 1)
    swap = ids[iu] > ids[ju]
    i1 = np.where(swap, ju, iu)
    i2 = np.where(swap, iu, ju)
    sim = _cosine_block(M, M)[iu, ju]
    keep = ids[i1] != ids[i2]
    if tbl is not None:
        bks = np.array(list(pdf["bks"]), dtype=np.int64)
        keep &= (bks[i1] == bks[i2]).argmax(axis=1) == tbl
    if threshold is not None:
        keep &= sim >= threshold
    return pd.DataFrame({
        "id1": ids[i1][keep], "id2": ids[i2][keep], "cosine": sim[keep],
    })


def _nearest_lists(
    M: "np.ndarray", C: "np.ndarray", nprobe: int = 1
) -> "np.ndarray":
    """(rows, min(nprobe, nlist)) ids of each row's nprobe
    highest-cosine unit-norm centroids, ties to the smaller list id."""
    import numpy as np

    sims = _seq_dot_matrix(M, C) / _seq_norms(M)[:, None]
    lists = np.broadcast_to(np.arange(C.shape[0]), sims.shape)
    return np.lexsort((lists, -sims), axis=1)[:, :nprobe]


def _rank(pairs: DataFrame, k: int) -> DataFrame:
    """(src_id, cand_id, cosine, rank): each src's k best pairs by
    (cosine desc, cand_id asc)."""
    w = Window.partitionBy("src_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "cand_id", "cosine", "rank")
    )


def cosine_topk(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per vector (excluding self); ties
    broken by candidate id ascending. Runs the blocked plan of
    _exact_topk with one block per default-parallelism slot."""
    return _exact_topk(df, df, k, exclude_self=True, id_col=id_col,
                       vec_col=vec_col)


def _exact_topk(
    src_df: DataFrame,
    cand_df: DataFrame,
    k: int,
    exclude_self: bool,
    n_blocks: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of every src vector among cand_df's
    vectors (cand_df may be src_df itself, with exclude_self, or another
    collection) — the one exact plan behind cosine_topk and
    margin_align.

    Shape: candidates hash into n_blocks blocks (list_id =
    xxhash64(id) mod B — a plain id-mod would let stride-k id patterns
    empty some blocks and overload others; B defaults to the session's
    defaultParallelism), every query replicates to every block (a B-row
    broadcast crossJoin, not a data crossJoin), each block emits its
    LOCAL top-k through ivf_rank's Arrow kernel, and the per-query
    window keeps the global top-k — exact because the global top-k is
    contained in the union of per-block top-ks under the same
    comparator. Nothing is collected on the driver. Each block's group
    holds all n queries plus about n/B candidates, so task memory is
    O(n·d + n²/B) (the vectors and the n x n/B cosine block), and the
    queries cross the exchange B times."""
    spark = src_df.sparkSession
    B = int(n_blocks or spark.sparkContext.defaultParallelism)
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    members = cand_df.select(
        *cols,
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("list_id"),
        F.lit(0).alias("role"),
    )
    blocks = spark.range(B).select(F.col("id").cast("int").alias("list_id"))
    probes = src_df.select(*cols).crossJoin(F.broadcast(blocks)).withColumn(
        "role", F.lit(1)
    )
    return ivf_rank(members, probes, k, exclude_self)


def margin_align(
    src_df: DataFrame,
    cand_df: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Ratio-margin alignment (Artetxe & Schwenk 2019, CCMatrix-style
    bitext mining): for every src vector, its best candidate by

        margin(x, y) = cos(x, y) / ((avgNN_k(x, Y) + avgNN_k(y, X)) / 2)

    kept when margin >= threshold — the absolute-cosine-free criterion
    that survives hubness (a candidate close to EVERYTHING has a high
    denominator, so generic hubs never win).

    Determinism: neighbor cosines are 6-dp-rounded, so their per-side
    k-sums are accumulated as exact BIGINT micro-cosines
    (round(cos * 1e6)) — order-free across engines — and the margin is
    ONE fixed-shape double expression over those integer sums, rounded
    to 6 dp. That is what makes the DuckDB twin bit-comparable despite
    the two avg() aggregations inside the formula.

    Scale shape: two exact top-k passes (_exact_topk, forward and
    backward, neither excluding equal ids) + two map-side-combined
    integer sums + a per-src argmax window over k rows."""
    fwd = _exact_topk(src_df, cand_df, k, exclude_self=False, id_col=id_col,
                      vec_col=vec_col)
    bwd = _exact_topk(cand_df, src_df, k, exclude_self=False, id_col=id_col,
                      vec_col=vec_col)

    def _micro_sums(df: DataFrame, out_id: str, s: str, c: str) -> DataFrame:
        return df.groupBy(F.col("src_id").alias(out_id)).agg(
            F.sum(F.round(F.col("cosine") * 1e6).cast("long")).alias(s),
            F.count("*").alias(c),
        )

    ax = _micro_sums(fwd, "_x", "smx", "kx")
    ay = _micro_sums(bwd, "_y", "smy", "ky")
    scored = (
        fwd.join(ax, fwd["src_id"] == ax["_x"])
        .join(ay, fwd["cand_id"] == ay["_y"])
        .withColumn(
            "margin",
            F.round(
                F.col("cosine") * F.lit(2000000.0) * F.col("kx") * F.col("ky")
                / (F.col("smx") * F.col("ky") + F.col("smy") * F.col("kx")),
                ROUND,
            ),
        )
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("margin").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("margin") >= threshold))
        .select(
            "src_id", F.col("cand_id").alias("dst_id"), "cosine", "margin"
        )
    )


def margin_align_sql(
    k: int = 4,
    threshold: float = 1.0,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    src_pred: str = "label % 2 = 0",
    cand_pred: str = "label % 2 = 1",
) -> str:
    dot = _dot_sql("a.v", "b.v")
    return f"""
      WITH base AS (
        SELECT {id_col} AS id, {vec_col} AS v, {_norm_sql(vec_col)} AS n,
               ({src_pred}) AS is_src, ({cand_pred}) AS is_cand
        FROM {table}
      ),
      fwd AS (
        SELECT * FROM (
          SELECT a.id AS src_id, b.id AS cand_id,
                 round(({dot}) / (a.n * b.n), {ROUND}) AS cosine,
                 row_number() OVER (
                   PARTITION BY a.id
                   ORDER BY round(({dot}) / (a.n * b.n), {ROUND}) DESC,
                            b.id ASC
                 ) AS rk
          FROM base a JOIN base b ON a.is_src AND b.is_cand
        ) WHERE rk <= {k}
      ),
      bwd AS (
        SELECT * FROM (
          SELECT a.id AS src_id, b.id AS cand_id,
                 round(({dot}) / (a.n * b.n), {ROUND}) AS cosine,
                 row_number() OVER (
                   PARTITION BY a.id
                   ORDER BY round(({dot}) / (a.n * b.n), {ROUND}) DESC,
                            b.id ASC
                 ) AS rk
          FROM base a JOIN base b ON a.is_cand AND b.is_src
        ) WHERE rk <= {k}
      ),
      ax AS (
        SELECT src_id AS x, SUM(CAST(round(cosine * 1e6) AS BIGINT)) AS smx,
               count(*) AS kx
        FROM fwd GROUP BY 1
      ),
      ay AS (
        SELECT src_id AS y, SUM(CAST(round(cosine * 1e6) AS BIGINT)) AS smy,
               count(*) AS ky
        FROM bwd GROUP BY 1
      ),
      scored AS (
        SELECT f.src_id, f.cand_id, f.cosine,
               round(f.cosine * 2000000.0 * ax.kx * ay.ky
                     / (ax.smx * ay.ky + ay.smy * ax.kx), {ROUND}) AS margin
        FROM fwd f JOIN ax ON ax.x = f.src_id JOIN ay ON ay.y = f.cand_id
      ),
      best AS (
        SELECT *, row_number() OVER (
          PARTITION BY src_id ORDER BY margin DESC, cand_id ASC
        ) AS rn
        FROM scored
      )
      SELECT src_id, cand_id AS dst_id, cosine, margin
      FROM best WHERE rn = 1 AND margin >= {sql_double(threshold, 'duckdb')}
    """


def cosine_topk_sql(
    k: int, table: str = "embeddings", id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    dot = _dot_sql("a.v", "b.v")
    return f"""
      WITH base AS (
        SELECT {id_col} AS id, {vec_col} AS v, {_norm_sql(vec_col)} AS n
        FROM {table}
      ),
      pairs AS (
        SELECT a.id AS src_id, b.id AS cand_id,
               round(({dot}) / (a.n * b.n), {ROUND}) AS cosine
        FROM base a JOIN base b ON a.id <> b.id
      ),
      rk AS (
        SELECT src_id, cand_id, cosine,
               CAST(row_number() OVER (
                 PARTITION BY src_id ORDER BY cosine DESC, cand_id ASC
               ) AS INTEGER) AS rank
        FROM pairs
      )
      SELECT src_id, cand_id, cosine, rank FROM rk WHERE rank <= {k}
    """


N_PLANES = 4
N_TABLES = 4


def _plane_component(p: Column | int, j: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5)."""
    pp = F.lit(p) if isinstance(p, int) else p
    return ((pp * 131 + j * 31 + 7) % 1000).cast("double") / 1000.0 - 0.5


def _bucket_col(v: Column, table_idx: int, n_planes: int) -> Column:
    """Sign-concatenation bucket over this table's planes (plane ids are
    globally distinct: pid = table_idx * n_planes + p)."""
    bucket = None
    for p in range(n_planes):
        pid = table_idx * n_planes + p
        d = F.aggregate(
            F.transform(v, lambda x, j: x.cast("double") * _plane_component(pid, j)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        bit = F.when(d > 0, F.lit(1 << p)).otherwise(0)
        bucket = bit if bucket is None else bucket + bit
    return bucket


def lsh_buckets(
    df: DataFrame,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, v, bks, tbl, bucket): one row per (vector, hash table);
    bks is the vector's bucket in every table (the first-colliding-table
    rule of _group_pairs reads it).

    Multi-table OR-amplification: a pair is a candidate if it collides
    in ANY table — the recall knob for random-hyperplane LSH."""
    v = F.col(vec_col)
    tagged = df.select(
        F.col(id_col).alias("id"),
        v.alias("v"),
        F.array(
            *[_bucket_col(v, t, n_planes) for t in range(n_tables)]
        ).alias("bks"),
    )
    return tagged.select(
        "id", "v", "bks", F.posexplode("bks").alias("tbl", "bucket")
    )


def lsh_cosine_topk(
    df: DataFrame,
    k: int,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine re-rank over pairs that collide in
    at least one LSH table. Deterministic — the SQL oracle reproduces it
    exactly. Recall grows with n_tables (OR), precision with n_planes.

    Each pair is scored once, in its first colliding table (_group_pairs),
    and leaves the kernel in both directions — no dedup exchange."""

    def bucket_pairs(key, pdf):
        return _group_pairs(pdf, tbl=int(key[0]))

    pairs = (
        lsh_buckets(df, n_planes, n_tables, id_col, vec_col)
        .groupBy("tbl", "bucket")
        .applyInPandas(bucket_pairs, schema="id1 long, id2 long, cosine double")
    )
    both = pairs.select(F.inline(F.array(
        F.struct(F.col("id1").alias("src_id"), F.col("id2").alias("cand_id"),
                 "cosine"),
        F.struct(F.col("id2").alias("src_id"), F.col("id1").alias("cand_id"),
                 "cosine"),
    )))
    return _rank(both, k)


def _bucket_sql(table_idx: int, n_planes: int) -> str:
    # DuckDB list_transform index i is 1-based; Spark transform j is
    # 0-based — use (i-1) to align.
    return " + ".join(
        f"(CASE WHEN list_sum(list_transform(range(1, len(v) + 1), "
        f"i -> CAST(v[i] AS DOUBLE) * "
        f"(CAST((({table_idx * n_planes + p} * 131 + (i - 1) * 31 + 7) % 1000) AS DOUBLE)"
        f" / 1000.0 - 0.5)"
        f")) > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )


def lsh_cosine_topk_sql(
    k: int, n_planes: int = N_PLANES, n_tables: int = N_TABLES,
    table: str = "embeddings", id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    bucket_cols = ", ".join(
        f"({_bucket_sql(t, n_planes)}) AS b{t}" for t in range(n_tables)
    )
    collide = " OR ".join(f"a.b{t} = b.b{t}" for t in range(n_tables))
    dot = _dot_sql("a.v", "b.v")
    return f"""
      WITH base AS (
        SELECT {id_col} AS id, {vec_col} AS v, {_norm_sql(vec_col)} AS n,
               {bucket_cols}
        FROM {table}
      ),
      pairs AS (
        SELECT a.id AS src_id, b.id AS cand_id,
               round(({dot}) / (a.n * b.n), {ROUND}) AS cosine
        FROM base a JOIN base b ON a.id <> b.id AND ({collide})
      ),
      rk AS (
        SELECT src_id, cand_id, cosine,
               CAST(row_number() OVER (
                 PARTITION BY src_id ORDER BY cosine DESC, cand_id ASC
               ) AS INTEGER) AS rank
        FROM pairs
      )
      SELECT src_id, cand_id, cosine, rank FROM rk WHERE rank <= {k}
    """


IVF_NLIST = 8
IVF_ITERS = 2


def ivf_train(
    df: DataFrame,
    nlist: int = IVF_NLIST,
    n_iters: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
) -> "np.ndarray":
    """Deterministic spherical k-means: (nlist, d) unit-norm centroids.

    Init = the nlist vectors with smallest ids (no RNG). Each Lloyd
    iteration is one map-side pass (broadcast centroids, Arrow-batched
    argmax-cosine assignment emitting PARTIAL per-list sums/counts) plus
    one tiny shuffle of <= num_partitions * nlist partial rows reduced by
    a 64-column codegen aggregate — the scan streams, nothing wide is
    collected. Centroid components are rounded HALF_UP to 9 decimals
    each iteration so float summation order (which Spark does not fix
    across runs) cannot leak into assignments.

    100 TB shape: training never needs the full table — pass sample_mod
    to train on the deterministic slice pmod(xxhash64(id), sample_mod)=0
    (hash-sampling, no shuffle); assignment of the full table stays
    map-side in ivf_assign. Empty lists keep their previous centroid.
    """
    import numpy as np

    spark = df.sparkSession
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if sample_mod is not None and sample_mod > 1:
        base = base.filter(F.pmod(F.xxhash64(F.col("id")), sample_mod) == 0)

    seed_rows = base.orderBy("id").limit(nlist).collect()
    cents = np.array([r.v for r in seed_rows], dtype=np.float64)
    if len(cents) < nlist:
        raise ValueError(f"nlist={nlist} exceeds {len(cents)} training vectors")
    cents = cents / _seq_norms(cents)[:, None]
    d = cents.shape[1]

    for _ in range(n_iters):
        bc = spark.sparkContext.broadcast(cents)

        def partials(batches):
            import pandas as pd

            C = bc.value
            sums = np.zeros((C.shape[0], C.shape[1]))
            cnts = np.zeros(C.shape[0], dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                M = _matrix(pdf["v"])
                a = _nearest_lists(M, C)[:, 0]
                for lst in np.unique(a):
                    mask = a == lst
                    sums[lst] += M[mask].sum(axis=0)
                    cnts[lst] += int(mask.sum())
            nz = np.nonzero(cnts)[0]
            yield pd.DataFrame({
                "list_id": nz.astype(np.int32),
                "cnt": cnts[nz],
                "sums": [sums[i] for i in nz],
            })

        part = base.mapInPandas(
            partials, schema="list_id int, cnt long, sums array<double>"
        )
        agg = (
            part.groupBy("list_id")
            .agg(
                F.sum("cnt").alias("cnt"),
                *[
                    F.sum(F.col("sums")[j]).alias(f"s{j}")
                    for j in range(d)
                ],
            )
            .collect()
        )
        new = cents.copy()
        for r in agg:
            if r.cnt:
                mean = np.array([r[f"s{j}"] for j in range(d)]) / r.cnt
                nrm = float(np.sqrt((mean * mean).sum()))
                if nrm > 0:
                    new[r.list_id] = mean / nrm
        cents = _round_half_up(new, 9)
        bc.destroy()
    return cents


def ivf_assign(
    df: DataFrame,
    centroids: "np.ndarray",
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, v, list_id): each vector tagged with its nprobe
    highest-cosine centroid lists (ties -> smaller list_id). nprobe=1 is
    index build (one row per vector); nprobe>1 is the query-side probe
    expansion. Pure map-side: broadcast centroids, Arrow kernel, no
    shuffle."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(centroids)
    npb = int(nprobe)

    def kernel(batches):
        C = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            lists = _nearest_lists(_matrix(pdf["v"]), C, npb)
            n = lists.shape[1]
            yield pd.DataFrame({
                "id": np.repeat(pdf["id"].to_numpy(np.int64), n),
                "v": pdf["v"].repeat(n).tolist(),
                "list_id": lists.ravel().astype(np.int32),
            })

    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return src.mapInPandas(kernel, schema="id long, v array<float>, list_id int")


def ivf_topk(
    df: DataFrame,
    k: int,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NLIST,
    n_iters: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
) -> DataFrame:
    """IVF approximate top-k cosine self-search: spherical-k-means
    inverted lists, query probes its nprobe nearest lists, exact cosine
    re-rank over probed members only.

    Plan shape (the 100 TB one): centroid train is map-side + an
    nlist-row aggregate; index build and probe expansion are map-side
    with broadcast centroids; the single real exchange hashes on
    list_id, where an Arrow kernel emits per-(query, list) LOCAL top-k
    (<= nprobe*k rows per query leave the kernel — the global top-k is
    provably inside the union of per-list top-ks since rank comparators
    match); a final window on src_id ranks the survivors. No all-pairs
    join anywhere. List skew at scale: raise nlist (finer lists) or
    reuse the count-gated salting from operators/knn.py on list_id.

    nprobe >= nlist probes every list, making the result EXACT — equal
    to cosine_topk row-for-row (same fold, same rounding, same
    tie-break); ivf_topk_sql exports that oracle. Recall at nprobe <
    nlist is covered by tests against the exact path.
    """
    cents = ivf_train(df, nlist, n_iters, id_col, vec_col, sample_mod)
    members = ivf_assign(df, cents, 1, id_col, vec_col).withColumn(
        "role", F.lit(0)
    )
    probes = ivf_assign(df, cents, nprobe, id_col, vec_col).withColumn(
        "role", F.lit(1)
    )
    return ivf_rank(members, probes, k)


def ivf_rank(
    members: DataFrame, probes: DataFrame, k: int, exclude_self: bool = True
) -> DataFrame:
    """The blocked rank stage shared by ivf_topk, the persistent index
    (annindex.IvfIndex) and _exact_topk: per-list local top-k Arrow
    kernel on the list_id exchange, then the per-query window.
    ``members`` and ``probes`` carry (id, v, list_id, role 0/1)."""
    import numpy as np

    kk = int(k)

    def list_pairs(key, pdf):
        q = pdf[pdf["role"] == 1]
        m = pdf[pdf["role"] == 0]
        if not len(q) or not len(m):
            return _topk(np.empty(0, np.int64), None, None, kk, exclude_self)
        sims = _cosine_block(_matrix(q["v"]), _matrix(m["v"]))
        return _topk(q["id"].to_numpy(np.int64), m["id"].to_numpy(np.int64),
                     sims, kk, exclude_self)

    pairs = members.unionByName(probes).groupBy("list_id").applyInPandas(
        list_pairs, schema="src_id long, cand_id long, cosine double"
    )
    return _rank(pairs, kk)


def ivf_topk_sql(
    k: int, table: str = "embeddings", id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Oracle for the FULL-PROBE configuration (nprobe >= nlist), where
    IVF search is exact and equals brute-force top-k."""
    return cosine_topk_sql(k, table, id_col, vec_col)


def cosine_dedup_pairs(
    df: DataFrame,
    threshold: float,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id1 < id2, cosine >= threshold).

    Random-hyperplane LSH buckets (lsh_buckets, multi-table OR
    amplification), one exchange on (tbl, bucket), and the exact cosine
    computed in the Arrow bucket kernel (_group_pairs: the
    dimension-ordered numpy fold is bit-par with the SQL twin — see
    _seq_dot_matrix), each pair emitted only by its FIRST colliding
    table — no candidate distinct, no trailing dedup exchange. Measured
    ~3x faster (warm) than verifying with interpreted zip_with/aggregate
    folds on the joined row stream. NOTE: unrolling the bucket
    projection to codegen adds was tried and measured 10x SLOWER
    (1024-term expression trees kill compilation) — keep the HOF fold.
    cosine_dedup_pairs_sql(exact=True) is the brute-force oracle the
    recall tests compare against."""
    thr = float(threshold)

    def bucket_pairs(key, pdf):
        return _group_pairs(pdf, tbl=int(key[0]), threshold=thr)

    return (
        lsh_buckets(df, n_planes, n_tables, id_col, vec_col)
        .groupBy("tbl", "bucket")
        .applyInPandas(bucket_pairs, schema="id1 long, id2 long, cosine double")
    )


def cosine_dedup_pairs_sql(
    threshold: float,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
) -> str:
    """DuckDB twin: same collision condition, same fold, same rounding."""
    bucket_cols = ", ".join(
        f"({_bucket_sql(t, n_planes)}) AS b{t}" for t in range(n_tables)
    )
    collide = " OR ".join(f"a.b{t} = b.b{t}" for t in range(n_tables))
    cond = "TRUE" if exact else f"({collide})"
    sel_buckets = "" if exact else f", {bucket_cols}"
    dot = _dot_sql("a.v", "b.v")
    return f"""
      WITH base AS (
        SELECT {id_col} AS id, {vec_col} AS v, {_norm_sql(vec_col)} AS n
               {sel_buckets}
        FROM {table}
      )
      SELECT a.id AS id1, b.id AS id2,
             round(({dot}) / (a.n * b.n), {ROUND}) AS cosine
      FROM base a JOIN base b ON a.id < b.id AND {cond}
      WHERE round(({dot}) / (a.n * b.n), {ROUND}) >= {sql_double(threshold, 'duckdb')}
    """


def semdedup(
    df: DataFrame,
    threshold: float,
    nlist: int = IVF_NLIST,
    n_iters: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
    driver_max_edges: int = 5_000_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication via embedding clustering.

    1. spherical k-means (the deterministic ivf_train) partitions the
       corpus into nlist clusters;
    2. within each cluster ONLY, pairwise cosine >= threshold marks
       semantic duplicates (the clustering is what makes the quadratic
       pair step tractable — the paper's core trick);
    3. duplicate groups = connected components of the pair graph;
    4. keep ONE doc per group: the member LEAST similar to its cluster
       centroid (the paper's keep-farthest rule — it preserves the
       outlier, dropping the redundant near-centroid copies), ties by
       smallest id.

    -> (id_col, list_id, cent_sim, group_id, is_kept). group_id is the
    smallest member id of the duplicate group (singletons are their own
    group and kept).

    100 TB shape: train on a hash sample (sample_mod), assignment and
    centroid similarity are map-side with broadcast centroids, the pair
    step is one exchange on list_id with per-cluster Arrow kernels
    (choose nlist ~ n/5k so clusters stay task-sized, exactly the
    paper's regime of many small clusters), and components run through
    the graph-generic CC (driver union-find under driver_max_edges,
    distributed min-label above — same engine as filters.cluster).
    """
    from pdal_spark.operators.pointcloud import _cc_roots

    spark = df.sparkSession
    cents = ivf_train(df, nlist, n_iters, id_col, vec_col, sample_mod)
    members = ivf_assign(df, cents, 1, id_col, vec_col)

    cent_df = spark.createDataFrame(
        [(int(i), [float(x) for x in cents[i]]) for i in range(len(cents))],
        schema="list_id int, cv array<double>",
    )
    # centroids are unit-norm, so cos(v, c) = dot/|v|; the Column fold
    # matches the numpy/SQL dimension-order fold bit-for-bit
    m = (
        members.join(F.broadcast(cent_df), "list_id")
        .withColumn(
            "cent_sim",
            F.round(_dot(F.col("v"), F.col("cv")) / _norm(F.col("v")), ROUND),
        )
        .drop("cv")
        .persist()
    )

    thr = float(threshold)

    def cluster_pairs(key, pdf):
        return _group_pairs(pdf, threshold=thr)

    edges = (
        m.select("list_id", "id", "v")
        .groupBy("list_id")
        .applyInPandas(cluster_pairs, schema="id1 long, id2 long, cosine double")
        .select(F.col("id1").alias("src_id"), F.col("id2").alias("cand_id"))
        .persist()
    )
    pts = m.select("id")
    roots = _cc_roots(pts, edges, driver_max_edges)

    joined = m.select("id", "list_id", "cent_sim").join(
        roots.select("id", F.col("root").alias("group_id")), "id"
    )
    keepers = joined.groupBy("group_id").agg(
        F.min_by(F.col("id"), F.struct("cent_sim", "id")).alias("_keep_id")
    )
    out = (
        joined.join(keepers, "group_id")
        .withColumn("is_kept", (F.col("id") == F.col("_keep_id")).cast("int"))
        .select(
            F.col("id").alias(id_col), "list_id", "cent_sim", "group_id",
            "is_kept",
        )
    )
    edges.unpersist()
    return out


def semdedup_sql(
    threshold: float,
    nlist: int = IVF_NLIST,
    n_iters: int = IVF_ITERS,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of semdedup: the spherical k-means is UNROLLED
    (n_iters CTE pairs of assign/update — same smallest-id init, same
    argmax-cosine assignment with smallest-list tie-break, same
    normalize + HALF_UP-9 rounding that makes float summation order
    unobservable), then same-cluster pairs, recursive-CTE components,
    and the keep-farthest-from-centroid rule."""
    parts = [
        f"""base AS (
        SELECT {id_col} AS id, {vec_col} AS v, {_norm_sql(vec_col)} AS n
        FROM {table}
      )""",
        f"""c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER)
                 AS list_id,
               list_transform(v, x -> CAST(x AS DOUBLE) / n) AS cv
        FROM (SELECT id, v, n FROM base ORDER BY id LIMIT {nlist})
      )""",
        """dims AS (
        SELECT unnest(range(1, (SELECT max(len(v)) FROM base) + 1)) AS pos
      )""",
    ]
    dot_bc = _dot_sql("b.v", "c.cv")
    for i in range(1, n_iters + 1):
        parts.append(f"""a{i} AS (
        SELECT id, v, n, list_id FROM (
          SELECT b.id, b.v, b.n, c.list_id,
                 row_number() OVER (
                   PARTITION BY b.id
                   ORDER BY ({dot_bc}) / b.n DESC, c.list_id ASC
                 ) AS rk
          FROM base b CROSS JOIN c{i - 1} c
        ) WHERE rk = 1
      )""")
        # per-dim mean -> normalize -> HALF_UP 9 (sign * floor(|x|*s + .5)/s,
        # DuckDB round() on DOUBLE is half-up but spell it out to match
        # _round_half_up literally); empty lists keep the previous centroid
        parts.append(f"""m{i} AS (
        SELECT a.list_id, d.pos, avg(CAST(a.v[d.pos] AS DOUBLE)) AS mu
        FROM a{i} a CROSS JOIN dims d
        GROUP BY a.list_id, d.pos
      )""")
        parts.append(f"""c{i} AS (
        SELECT p.list_id,
               coalesce(
                 (SELECT list(
                    sign(m.mu / nz.nrm)
                    * floor(abs(m.mu / nz.nrm) * 1e9 + 0.5) / 1e9
                    ORDER BY m.pos)
                  FROM m{i} m
                  JOIN (SELECT list_id,
                               sqrt(sum(mu * mu)) AS nrm
                        FROM m{i} GROUP BY list_id) nz
                    ON nz.list_id = m.list_id
                  WHERE m.list_id = p.list_id AND nz.nrm > 0),
                 p.cv) AS cv
        FROM c{i - 1} p
      )""")
    # the engine assigns members against the FINAL centroids (one more
    # assignment than training iterations), so emit a{n_iters+1} too
    clast = f"c{n_iters}"
    parts.append(f"""a{n_iters + 1} AS (
        SELECT id, v, n, list_id FROM (
          SELECT b.id, b.v, b.n, c.list_id,
                 row_number() OVER (
                   PARTITION BY b.id
                   ORDER BY ({dot_bc}) / b.n DESC, c.list_id ASC
                 ) AS rk
          FROM base b CROSS JOIN {clast} c
        ) WHERE rk = 1
      )""")
    last = f"a{n_iters + 1}"
    dot_mc = _dot_sql("a.v", "c.cv")
    dot_xy = _dot_sql("x.v", "y.v")
    parts.append(f"""mm AS (
        SELECT a.id, a.list_id,
               round(({dot_mc}) / a.n, {ROUND}) AS cent_sim
        FROM {last} a JOIN {clast} c USING (list_id)
      )""")
    parts.append(f"""prs AS (
        SELECT x.id AS id1, y.id AS id2
        FROM {last} x JOIN {last} y
          ON x.list_id = y.list_id AND x.id < y.id
        WHERE round(({dot_xy}) / (x.n * y.n), {ROUND}) >= {sql_double(threshold, 'duckdb')}
      )""")
    parts.append("""reach(id, lab) AS (
        SELECT id, id FROM base
        UNION
        SELECT e.b, r.lab FROM reach r
        JOIN (SELECT id1 AS a, id2 AS b FROM prs
              UNION ALL SELECT id2, id1 FROM prs) e
          ON e.a = r.id
      )""")
    parts.append("""comp AS (
        SELECT id, min(lab) AS group_id FROM reach GROUP BY id
      )""")
    parts.append("""keepers AS (
        SELECT group_id, id AS keep_id FROM (
          SELECT c.group_id, m.id,
                 row_number() OVER (
                   PARTITION BY c.group_id
                   ORDER BY m.cent_sim ASC, m.id ASC
                 ) AS rk
          FROM mm m JOIN comp c ON m.id = c.id
        ) WHERE rk = 1
      )""")
    ctes = ",\n      ".join(parts)
    return f"""
      WITH RECURSIVE {ctes}
      SELECT m.id AS {id_col}, m.list_id, m.cent_sim, c.group_id,
             CASE WHEN m.id = k.keep_id THEN 1 ELSE 0 END AS is_kept
      FROM mm m
      JOIN comp c ON m.id = c.id
      JOIN keepers k ON c.group_id = k.group_id
    """
