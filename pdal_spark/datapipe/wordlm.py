"""Word-level stupid-backoff trigram language model (Brants et al. 2007,
"Large Language Models in Machine Translation", EMNLP) — the web-scale
LM quality filter in its original distributed formulation.

Unlike `textstats.char_bigram_logloss` (whose model is alphabet²-sized
and broadcastable), this model is CORPUS-sized: distinct uni/bi/trigram
count tables that can never be collected or broadcast at 100 TB. The
whole design keeps the model distributed:

  * training = three map-side-combinable count exchanges over the
    exploded token stream of the TRAIN SLICE (a deterministic id-hash
    half of the corpus — training on everything would make backoff
    unreachable, since every scored trigram would be in the model;
    CCNet-style train/score separation, arXiv:1911.00359 §3);
  * conditional scores are precomputed INTO the gram tables with two
    model-sized joins (bi ⋈ uni on the context word, tri ⋈ bi on the
    context bigram) — Brants et al. §4's "scores stored with the
    n-gram", so scoring never has to look up denominators;
  * scoring = each position emits ≤3 gram lookup requests (tri, bi,
    uni), ONE hash join against the unioned (kind, gram) model —
    sharded by gram exactly like the reference system's batched count
    requests — then a per-(doc, pos) fold picks the longest hit:

        S(w | a b) = c(abw)/c(ab)            if c(abw) > 0
                   = α · c(bw)/c(b)          elif c(bw) > 0
                   = α² · max(c(w), 1)/N     otherwise  (α = 0.4)

    (the max(·,1) floor makes out-of-vocabulary words score 1/N, so
    the scorer is total without an explicit <unk> token).

Per-doc output: mean −log₂ S over positions (rounded to 6 decimals —
the established twin-comparison contract for log-domain scores), plus
EXACT integer diagnostics (token / OOV / one-level / two-level backoff
counts) that bit-compare against the DuckDB twin.

Plan shape at 100 TB: explode (map-only) → one (kind, gram)-keyed
exchange of requests + model → one (doc, pos) fold → one combinable
doc fold. No window, no broadcast requirement, no driver state.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdal_spark.geo import sql_double

ALPHA = 0.4
_LOG2A = math.log2(ALPHA)


def _positions(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc, pos, w, p1, p2) rows: token at pos with its 1- and 2-back
    contexts, as a pure transform+explode (no window, no UDF)."""
    ws = F.split(F.col(text_col), " ")
    trip = F.transform(
        F.sequence(F.lit(1), F.size(ws)),
        lambda i: F.struct(
            (i - 1).alias("pos"),
            F.element_at(ws, i).alias("w"),
            F.when(i >= 2, F.element_at(ws, i - 1)).alias("p1"),
            F.when(i >= 3, F.element_at(ws, i - 2)).alias("p2"),
        ),
    )
    return df.select(F.col(id_col), F.explode(trip).alias("t")).select(
        id_col, "t.pos", "t.w", "t.p1", "t.p2"
    )


def word_lm_logloss(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_mod: int = 2,
    train_rem: int = 0,
) -> DataFrame:
    """Score every document under a stupid-backoff trigram LM trained
    on the deterministic slice `id % train_mod == train_rem`.

    Returns (id, word_lm_logloss, n_tokens, n_oov, n_backoff1,
    n_backoff2); docs outside the train slice exercise real backoff.
    """
    from pdal_spark.session import ensure_min_partitions

    df = ensure_min_partitions(df)
    ex = _positions(df, text_col, id_col)
    tr = ex.filter((F.col(id_col) % train_mod) == train_rem)

    uni = tr.groupBy("w").agg(F.count("*").alias("cu"))
    bi = (
        tr.filter(F.col("p1").isNotNull())
        .groupBy("p1", "w")
        .agg(F.count("*").alias("cb"))
    )
    tri = (
        tr.filter(F.col("p2").isNotNull())
        .groupBy("p2", "p1", "w")
        .agg(F.count("*").alias("ct"))
    )
    tot = tr.agg(F.count("*").alias("n_train"))

    # Conditional scores precomputed into the gram tables (model-sized
    # joins; every bi context word / tri context bigram is in the train
    # counts by construction, so these are inner joins).
    um = uni.crossJoin(F.broadcast(tot)).select(
        F.lit("u").alias("kind"),
        F.col("w").alias("gram"),
        (F.log2("cu") - F.log2("n_train")).alias("lp"),
    )
    bm = bi.join(uni.withColumnRenamed("w", "p1"), "p1").select(
        F.lit("b").alias("kind"),
        F.concat("p1", F.lit(" "), "w").alias("gram"),
        (F.log2("cb") - F.log2("cu")).alias("lp"),
    )
    tm = tri.join(
        bi.select(
            F.col("p1").alias("p2"),
            F.col("w").alias("p1"),
            F.col("cb").alias("cden"),
        ),
        ["p2", "p1"],
    ).select(
        F.lit("t").alias("kind"),
        F.concat("p2", F.lit(" "), "p1", F.lit(" "), "w").alias("gram"),
        (F.log2("ct") - F.log2("cden")).alias("lp"),
    )
    model = um.unionByName(bm).unionByName(tm)

    # Each position's ≤3 lookup requests, one gram-keyed join for all.
    reqs = ex.select(
        id_col,
        "pos",
        F.explode(
            F.filter(
                F.array(
                    F.struct(
                        F.lit("u").alias("kind"), F.col("w").alias("gram")
                    ),
                    F.when(
                        F.col("p1").isNotNull(),
                        F.struct(
                            F.lit("b").alias("kind"),
                            F.concat("p1", F.lit(" "), "w").alias("gram"),
                        ),
                    ),
                    F.when(
                        F.col("p2").isNotNull(),
                        F.struct(
                            F.lit("t").alias("kind"),
                            F.concat(
                                "p2", F.lit(" "), "p1", F.lit(" "), "w"
                            ).alias("gram"),
                        ),
                    ),
                ),
                lambda s: s.isNotNull(),
            )
        ).alias("req"),
    ).select(id_col, "pos", "req.kind", "req.gram")

    hit = reqs.join(model, ["kind", "gram"], "left")

    def _pick(kind: str) -> Column:
        return F.max(F.when(F.col("kind") == kind, F.col("lp")))

    pp = (
        hit.groupBy(id_col, "pos")
        .agg(
            _pick("u").alias("lpu"),
            _pick("b").alias("lpb"),
            _pick("t").alias("lpt"),
        )
        .crossJoin(F.broadcast(tot))
    )
    lp_oov = -F.log2("n_train")  # max(c, 1) = 1 floor for unseen words
    lp_u = F.coalesce(F.col("lpu"), lp_oov)
    lp = (
        F.when(F.col("pos") == 0, lp_u)
        .when(F.col("pos") == 1, F.coalesce(F.col("lpb"), _LOG2A + lp_u))
        .otherwise(
            F.coalesce(
                F.col("lpt"),
                _LOG2A + F.col("lpb"),
                2 * _LOG2A + lp_u,
            )
        )
    )
    flag = lambda c: F.sum(c.cast("long"))  # noqa: E731
    agg = pp.select(
        id_col,
        lp.alias("lp"),
        F.col("lpu").isNull().alias("oov"),
        (
            ((F.col("pos") == 1) & F.col("lpb").isNull())
            | (
                (F.col("pos") >= 2)
                & F.col("lpt").isNull()
                & F.col("lpb").isNotNull()
            )
        ).alias("bo1"),
        (
            (F.col("pos") >= 2)
            & F.col("lpt").isNull()
            & F.col("lpb").isNull()
        ).alias("bo2"),
    ).groupBy(id_col).agg(
        F.round(-F.avg("lp"), 6).alias("word_lm_logloss"),
        F.count("*").alias("n_tokens"),
        flag(F.col("oov")).alias("n_oov"),
        flag(F.col("bo1")).alias("n_backoff1"),
        flag(F.col("bo2")).alias("n_backoff2"),
    )
    return df.select(id_col).join(agg, id_col, "left")


def word_lm_logloss_sql(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    train_mod: int = 2,
    train_rem: int = 0,
) -> str:
    """DuckDB twin: identical tokenization, counts, precomputed
    conditional scores, and backoff CASE — as plain left joins (the
    request-union join above picks exactly the same longest hit)."""
    a1, a2 = sql_double(_LOG2A, "duckdb"), sql_double(2 * _LOG2A, "duckdb")
    return f"""
      WITH toks AS (
        SELECT {id_col}, string_split({text}, ' ') AS ws FROM {table}
      ),
      ex AS (
        SELECT {id_col}, unnest(list_transform(
          range(1, len(ws) + 1), i -> struct_pack(
            pos := i - 1, w := ws[i],
            p1 := CASE WHEN i >= 2 THEN ws[i - 1] END,
            p2 := CASE WHEN i >= 3 THEN ws[i - 2] END)),
          recursive := true)
        FROM toks
      ),
      tr AS (
        SELECT * FROM ex WHERE {id_col} % {train_mod} = {train_rem}
      ),
      uni AS (SELECT w, count(*) AS cu FROM tr GROUP BY 1),
      tot AS (SELECT count(*) AS n_train FROM tr),
      bi AS (
        SELECT p1, w, count(*) AS cb FROM tr
        WHERE p1 IS NOT NULL GROUP BY 1, 2
      ),
      tri AS (
        SELECT p2, p1, w, count(*) AS ct FROM tr
        WHERE p2 IS NOT NULL GROUP BY 1, 2, 3
      ),
      um AS (SELECT w, log2(cu) - log2(n_train) AS lp FROM uni, tot),
      bm AS (
        SELECT b.p1, b.w, log2(b.cb) - log2(u.cu) AS lp
        FROM bi b JOIN uni u ON u.w = b.p1
      ),
      tm AS (
        SELECT t.p2, t.p1, t.w, log2(t.ct) - log2(b.cb) AS lp
        FROM tri t JOIN bi b ON b.p1 = t.p2 AND b.w = t.p1
      ),
      sc AS (
        SELECT e.{id_col},
          CASE
            WHEN e.pos = 0 THEN coalesce(um.lp, -log2(tot.n_train))
            WHEN e.pos = 1 THEN coalesce(
              bm.lp, {a1} + coalesce(um.lp, -log2(tot.n_train)))
            ELSE coalesce(
              tm.lp, {a1} + bm.lp,
              {a2} + coalesce(um.lp, -log2(tot.n_train)))
          END AS lp,
          CASE WHEN um.lp IS NULL THEN 1 ELSE 0 END AS oov,
          CASE WHEN (e.pos = 1 AND bm.lp IS NULL)
                 OR (e.pos >= 2 AND tm.lp IS NULL
                     AND bm.lp IS NOT NULL)
               THEN 1 ELSE 0 END AS bo1,
          CASE WHEN e.pos >= 2 AND tm.lp IS NULL AND bm.lp IS NULL
               THEN 1 ELSE 0 END AS bo2
        FROM ex e
        CROSS JOIN tot
        LEFT JOIN um ON um.w = e.w
        LEFT JOIN bm ON bm.p1 = e.p1 AND bm.w = e.w
        LEFT JOIN tm
          ON tm.p2 = e.p2 AND tm.p1 = e.p1 AND tm.w = e.w
      ),
      agg AS (
        SELECT {id_col},
          round(-avg(lp), 6) AS word_lm_logloss,
          count(*) AS n_tokens,
          CAST(sum(oov) AS BIGINT) AS n_oov,
          CAST(sum(bo1) AS BIGINT) AS n_backoff1,
          CAST(sum(bo2) AS BIGINT) AS n_backoff2
        FROM sc GROUP BY 1
      )
      SELECT d.{id_col}, a.word_lm_logloss, a.n_tokens, a.n_oov,
             a.n_backoff1, a.n_backoff2
      FROM {table} d LEFT JOIN agg a USING ({id_col})
    """
