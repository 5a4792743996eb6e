"""Product quantization (PQ) for compressed-vector similarity search.

Jégou et al., "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011): split each d-dim embedding into ``m`` subspaces of d/m
dims, k-means each subspace to ``ksub`` centroids, store each vector
as m byte-sized codes (64 floats -> 8 bytes here: 32x compression),
and answer queries by ADC (asymmetric distance computation) — the
query stays exact, per-subspace distances to every centroid go into a
small lookup table, and a database vector's approximate distance is
the sum of m table lookups. THE standard way to fit web-scale
embedding corpora in memory; complements the repo's LSH (`simsearch
.lsh_cosine_topk`) and IVF (`simsearch.ivf_topk`) paths — IVF prunes
candidates, PQ compresses them; real systems compose both.

Determinism contract (same as `simsearch.ivf_train`, SemDeDup's
unrolled-k-means precedent): init = the ksub smallest-id vectors'
sub-slices, argmin-L2 assignment with smallest-code tie-break,
HALF_UP-9 centroid rounding per iteration so float summation order is
unobservable, empty codes keep their previous centroid. The DuckDB
oracle unrolls the whole pipeline (train -> encode -> LUT -> ADC
top-k) as CTEs.

Scale shape:
  * training: one map-side pass per Lloyd iteration over ALL m
    subspaces at once (broadcast codebooks, Arrow partial sums), then
    one tiny <= partitions * m * ksub exchange — and a deterministic
    hash-sample flag for 100 TB (train on a slice, encode everything).
  * encode: pure map (broadcast codebooks), emits (id, m codes).
  * query: broadcast LUT (n_queries x m x ksub doubles), map-side ADC
    with PARTITION-LOCAL top-k prune, then `ordered.grouped_topk` —
    the full distance list never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdal_spark.datapipe.simsearch import _matrix, _round_half_up

__all__ = ["pq_train", "pq_encode", "pq_topk", "pq_topk_sql"]

PQ_M = 8
PQ_KSUB = 16
PQ_ITERS = 2
ROUND = 6  # ADC distances are ranked on this rounding (ulp-drift guard)


def _sub(M: "np.ndarray", s: int, dsub: int) -> "np.ndarray":
    """Subspace s's columns of M."""
    return M[:, s * dsub:(s + 1) * dsub]


def _sq_dists(X: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """(n, ksub) squared L2 distances of X's rows to one codebook."""
    return ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)


def _codes(M: "np.ndarray", codebooks: "np.ndarray") -> "np.ndarray":
    """(n, m) argmin-L2 code of each row in every subspace (np.argmin
    takes the first minimum: the smallest code wins ties)."""
    import numpy as np

    mm, _, dd = codebooks.shape
    return np.stack(
        [np.argmin(_sq_dists(_sub(M, s, dd), codebooks[s]), axis=1)
         for s in range(mm)],
        axis=1,
    )


def pq_train(
    df: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    n_iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
) -> "np.ndarray":
    """-> (m, ksub, d/m) float64 codebooks."""
    import numpy as np

    spark = df.sparkSession
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if sample_mod is not None and sample_mod > 1:
        base = base.filter(F.pmod(F.xxhash64(F.col("id")), sample_mod) == 0)

    seed_rows = base.orderBy("id").limit(ksub).collect()
    if len(seed_rows) < ksub:
        raise ValueError(f"ksub={ksub} exceeds {len(seed_rows)} vectors")
    seeds = np.array([r.v for r in seed_rows], dtype=np.float64)
    d = seeds.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    # cents[s] = (ksub, dsub) codebook of subspace s
    cents = np.stack(
        [_sub(seeds, s, dsub).copy() for s in range(m)]
    )

    for _ in range(n_iters):
        bc = spark.sparkContext.broadcast(cents)

        def partials(batches):
            import pandas as pd

            C = bc.value
            mm, kk, dd = C.shape
            sums = np.zeros((mm, kk, dd))
            cnts = np.zeros((mm, kk), dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                M = _matrix(pdf["v"])
                codes = _codes(M, C)
                for s in range(mm):
                    X = _sub(M, s, dd)
                    a = codes[:, s]
                    for code in np.unique(a):
                        mask = a == code
                        sums[s, code] += X[mask].sum(axis=0)
                        cnts[s, code] += int(mask.sum())
            rows = []
            for s in range(mm):
                for code in np.nonzero(cnts[s])[0]:
                    rows.append(
                        (s, int(code), int(cnts[s, code]), list(sums[s, code]))
                    )
            if rows:
                yield pd.DataFrame(
                    rows, columns=["sub", "code", "cnt", "sums"]
                )

        part = base.mapInPandas(
            partials, schema="sub int, code int, cnt long, sums array<double>"
        )
        agg = (
            part.groupBy("sub", "code")
            .agg(
                F.sum("cnt").alias("cnt"),
                *[F.sum(F.col("sums")[j]).alias(f"s{j}") for j in range(dsub)],
            )
            .collect()
        )
        new = cents.copy()
        for r in agg:
            if r.cnt:
                mean = np.array([r[f"s{j}"] for j in range(dsub)]) / r.cnt
                new[r.sub, r.code] = mean
        cents = _round_half_up(new, 9)
        bc.destroy()
    return cents


def pq_encode(
    df: DataFrame,
    codebooks: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """-> (id, codes array<int>): m argmin-L2 codes per vector.
    Map-only (broadcast codebooks, Arrow kernel)."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = _codes(_matrix(pdf["v"]), bc.value).astype(np.int32)
            yield pd.DataFrame(
                {"id": pdf["id"].to_numpy(np.int64), "codes": list(codes)}
            )

    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return src.mapInPandas(kernel, schema="id long, codes array<int>")


def pq_topk(
    enc: DataFrame,
    codebooks: "np.ndarray",
    queries: list[tuple[int, "np.ndarray"]],
    k: int = 10,
) -> DataFrame:
    """ADC top-k: -> (qid, id, adc_dist, rank) — k rows per query.

    ``queries`` is [(qid, exact d-dim vector)] (few; broadcast). Per
    subspace the query's distance to every centroid is precomputed
    into the LUT; a database vector costs m lookups, accumulated in
    sub order (the same fixed order the SQL twin sums in). The kernel
    emits only its partition-local top-k per query; grouped_topk
    finishes globally, so distances for the full corpus never
    shuffle."""
    return _adc_topk(enc, _luts(codebooks, queries), k)


def _luts(
    codebooks: "np.ndarray", queries: list[tuple[int, "np.ndarray"]]
) -> dict[int, "np.ndarray"]:
    """{qid: (m, ksub) LUT}: the query's squared distance to every
    centroid of every subspace."""
    import numpy as np

    mm, _, dd = codebooks.shape
    luts = {}
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float64)[None, :]
        luts[int(qid)] = np.stack(
            [_sq_dists(_sub(q, s, dd), codebooks[s])[0] for s in range(mm)]
        )
    return luts


def _adc_topk(cand: DataFrame, luts: dict[int, "np.ndarray"],
              k: int) -> DataFrame:
    """ADC top-k -> (qid, id, adc_dist, rank): k rows per query.

    ``cand`` is (id, codes), scored against every query, or (qid, id,
    codes), each row scored against its own query. A database vector
    costs m LUT lookups, accumulated in subspace order (the order the
    SQL twins sum in). The kernel emits only its partition-local top-k
    per query by (rounded distance, id); grouped_topk finishes
    globally, so distances for the full corpus never shuffle."""
    import numpy as np
    import pandas as pd

    from pdal_spark.operators.ordered import grouped_topk

    bc = cand.sparkSession.sparkContext.broadcast(luts)
    kq = int(k)

    def kernel(batches):
        L = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.array(list(pdf["codes"]), dtype=np.int64)
            ids = pdf["id"].to_numpy(np.int64)
            if "qid" in pdf.columns:
                qids = pdf["qid"].to_numpy(np.int64)
                groups = [(int(q), qids == q) for q in np.unique(qids)]
            else:
                groups = [(q, slice(None)) for q in L]
            out = []
            for qid, sel in groups:
                t, c, i = L[qid], codes[sel], ids[sel]
                acc = np.zeros(len(c))
                for s in range(t.shape[0]):  # fixed sub order
                    acc = acc + t[s][c[:, s]]
                order = np.lexsort((i, np.round(acc, ROUND)))[:kq]
                out.append(pd.DataFrame(
                    {"qid": np.int64(qid), "id": i[order],
                     "adc_dist": acc[order]}
                ))
            if out:
                yield pd.concat(out)

    local = cand.mapInPandas(
        kernel, schema="qid long, id long, adc_dist double"
    ).withColumn("adc_dist", F.round("adc_dist", ROUND))
    order = [F.col("adc_dist").asc(), F.col("id").asc()]
    top = grouped_topk(local, ["qid"], order, kq)
    w = Window.partitionBy("qid").orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w)).select(
        "qid", "id", "adc_dist", "rank"
    )


def pq_topk_sql(
    query_ids: list[int],
    k: int = 10,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    n_iters: int = PQ_ITERS,
    dsub: int = 8,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin: train (unrolled Lloyd) -> encode -> LUT -> ADC
    top-k, all as CTEs. Distances accumulate in subspace order
    (list_sum over ORDER BY sub) to mirror the kernel's fixed-order
    fold; ranking rounds to the same 1e-6 before comparing."""
    qin = ", ".join(str(int(q)) for q in query_ids)
    sqdist = (
        f"list_sum(list_transform(range(1, {dsub + 1}),"
        f" j -> (s.x[j] - c.c[j]) * (s.x[j] - c.c[j])))"
    )
    parts = [
        f"""subs AS (
        SELECT {id_col} AS id, CAST(s.range AS INT) AS sub,
               list_transform(range(1, {dsub + 1}),
                 j -> CAST({vec_col}[CAST(s.range * {dsub} AS INT) + j]
                      AS DOUBLE)) AS x
        FROM {table}, range(0, {m}) s
      )""",
        f"""c0 AS (
        SELECT sub, CAST(rn - 1 AS INT) AS code, x AS c FROM (
          SELECT sub, x,
                 row_number() OVER (PARTITION BY sub ORDER BY id) AS rn
          FROM subs
        ) WHERE rn <= {ksub}
      )""",
        f"""dims AS (SELECT unnest(range(1, {dsub + 1})) AS pos)""",
    ]
    for i in range(1, n_iters + 1):
        parts.append(f"""a{i} AS (
        SELECT id, sub, code FROM (
          SELECT s.id, s.sub, c.code,
                 row_number() OVER (
                   PARTITION BY s.id, s.sub
                   ORDER BY {sqdist} ASC, c.code ASC
                 ) AS rk
          FROM subs s JOIN c{i - 1} c ON c.sub = s.sub
        ) WHERE rk = 1
      )""")
        parts.append(f"""m{i} AS (
        SELECT a.sub, a.code, d.pos, avg(s.x[d.pos]) AS mu
        FROM a{i} a JOIN subs s ON s.id = a.id AND s.sub = a.sub
        CROSS JOIN dims d
        GROUP BY a.sub, a.code, d.pos
      )""")
        parts.append(f"""c{i} AS (
        SELECT p.sub, p.code,
               coalesce(
                 (SELECT list(
                    sign(m.mu) * floor(abs(m.mu) * 1e9 + 0.5) / 1e9
                    ORDER BY m.pos)
                  FROM m{i} m
                  WHERE m.sub = p.sub AND m.code = p.code),
                 p.c) AS c
        FROM c{i - 1} p
      )""")
    clast = f"c{n_iters}"
    parts.append(f"""enc AS (
        SELECT id, sub, code FROM (
          SELECT s.id, s.sub, c.code,
                 row_number() OVER (
                   PARTITION BY s.id, s.sub
                   ORDER BY {sqdist} ASC, c.code ASC
                 ) AS rk
          FROM subs s JOIN {clast} c ON c.sub = s.sub
        ) WHERE rk = 1
      )""")
    parts.append(f"""lut AS (
        SELECT s.id AS qid, c.sub, c.code, {sqdist} AS dist
        FROM subs s JOIN {clast} c ON c.sub = s.sub
        WHERE s.id IN ({qin})
      )""")
    parts.append("""adc AS (
        SELECT l.qid, e.id,
               list_sum(list(l.dist ORDER BY l.sub)) AS d
        FROM enc e JOIN lut l ON l.sub = e.sub AND l.code = e.code
        GROUP BY l.qid, e.id
      )""")
    body = ",\n      ".join(parts)
    return f"""
      WITH {body}
      SELECT qid, id, adc_dist, CAST(rank AS INT) AS rank FROM (
        SELECT qid, id, round(d, {ROUND}) AS adc_dist,
               row_number() OVER (
                 PARTITION BY qid ORDER BY round(d, {ROUND}) ASC, id ASC
               ) AS rank
        FROM adc
      ) WHERE rank <= {k}
    """


def ivfpq_topk(
    df: DataFrame,
    queries: list[tuple[int, "np.ndarray"]],
    k: int = 10,
    nlist: int = 8,
    nprobe: int = 2,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    n_iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
) -> DataFrame:
    """IVF x PQ composition (the classic IVF-PQ index): the coarse
    spherical-k-means quantizer prunes to each query's ``nprobe``
    nearest lists, ADC over PQ codes reranks ONLY those candidates —
    the two orthogonal savings multiplied (touch 1/nlist-ish of the
    corpus, at 32x compression). This variant encodes raw vectors
    (not residuals): reuses the exact codebooks/codes of `pq_encode`,
    so at nprobe = nlist it equals `pq_topk` row-for-row — the
    law the tests pin, alongside the nprobe < nlist subset law.

    Scale shape: probe selection is driver-side numpy on the tiny
    (nlist, d) centroid matrix; the (qid, list_id) probe table
    broadcast-joins the encoded corpus (one hash of the corpus on
    list_id was already paid at assignment), ADC is map-side with
    partition-local prune, then grouped_topk."""
    import numpy as np
    import pandas as pd

    from pdal_spark.datapipe.simsearch import (
        _nearest_lists,
        ivf_assign,
        ivf_train,
    )

    spark = df.sparkSession
    cents = ivf_train(df, nlist, n_iters, id_col, vec_col, sample_mod)
    members = ivf_assign(df, cents, 1, id_col, vec_col).select(
        "id", "list_id"
    )
    books = pq_train(df, m, ksub, n_iters, id_col, vec_col, sample_mod)
    enc = pq_encode(df, books, id_col, vec_col)
    corpus = enc.join(members, "id")

    # probe selection: ivf_assign's nearest-list rule, on the driver
    # (queries are few, centroids tiny)
    qids = [int(qid) for qid, _ in queries]
    lists = _nearest_lists(
        np.array([qv for _, qv in queries], dtype=np.float64), cents,
        int(nprobe),
    )
    probes = spark.createDataFrame(pd.DataFrame({
        "qid": np.repeat(qids, lists.shape[1]), "list_id": lists.ravel(),
    }))
    cand = corpus.join(F.broadcast(probes), "list_id").select(
        "qid", "id", "codes"
    )
    return _adc_topk(cand, _luts(books, queries), k)
