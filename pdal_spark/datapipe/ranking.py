"""Corpus ranking: TF-IDF weights and BM25 query scoring.

The retrieval half of a training-data pipeline (find documents like X,
score corpus relevance against probe queries, data-selection by
similarity-to-target a la DSIR). Classic two-stage aggregation:

  * document frequencies — one combinable exchange on the term;
  * per-doc scoring — terms explode from the scan, the tiny query-term
    stats join BROADCAST, corpus scalars (N, avgdl) fold in as a
    broadcast single row; one final combinable exchange on doc_id.

All math is ln()/arithmetic on BIGINT counts — identical in DuckDB, so
scores round(...,6)-compare exactly.

BM25 (Robertson-Sparck Jones, the standard Okapi form):
    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(d, q) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdal_spark.geo import sql_double

K1 = 1.2
B = 0.75


def doc_terms(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc, term, tf, dl) — term frequencies + document length."""
    toks = F.split(F.col(text_col), " ")
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).alias("dl"),
        F.explode(toks).alias("term"),
    )
    return ex.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))


def bm25_score(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """BM25 score of every document containing >= 1 query term.

    Scale shape: the term explode filters to the query's terms BEFORE
    any shuffle (a handful of strings — an isin predicate the scan
    evaluates); df(t) and (N, avgdl) are tiny aggregates joined
    broadcast; one exchange on doc_id builds the final sum."""
    terms = doc_terms(df, text_col, id_col)
    qt = terms.filter(F.col("term").isin(*query_terms))
    dfreq = qt.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )  # one row per (doc, term) -> count == doc frequency
    corpus = df.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(F.split(F.col(text_col), " "))).alias("avgdl"),
    )
    scored = (
        qt.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(corpus))
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "_s",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("_s"), 6).alias("bm25"))
    )


def conjunctive_search(
    df: DataFrame,
    query_terms: list[str],
    phrase: bool = False,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Boolean retrieval: documents containing ALL ``query_terms``
    (posting-list intersection), optionally as an ADJACENT phrase.

    The AND is counting, not joining: explode -> isin filter AT THE SCAN
    (a handful of strings, evaluated before any shuffle) -> distinct
    (doc, term) -> one combinable doc_id exchange -> keep docs whose
    distinct-hit count equals len(query_terms). k query terms never
    become a k-way self-join of the postings table.

    ``phrase=True`` additionally requires the terms adjacent in order —
    a whitespace-boundary match on the raw text (the same tokenizer law
    as doc_terms: terms are space-separated atoms), i.e. a map-only
    predicate on the already-matched candidates.
    """
    n = len(set(query_terms))  # a repeated phrase term is one AND atom
    toks = F.split(F.col(text_col), " ")
    hits = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("term"))
        .filter(F.col("term").isin(*query_terms))
        .groupBy("doc_id")
        .agg(F.count_distinct("term").alias("_k"))
        .filter(F.col("_k") == n)
        .select("doc_id")
    )
    if not phrase:
        return hits
    # adjacency: ' text ' contains ' t1 t2 ... tn ' — tokenizer-exact
    # (split(' ') atoms), no regex metacharacter exposure
    needle = " " + " ".join(query_terms) + " "
    cand = df.select(
        F.col(id_col).alias("doc_id"),
        F.concat(F.lit(" "), F.col(text_col), F.lit(" ")).alias("_padded"),
    ).filter(F.col("_padded").contains(needle))
    return hits.join(cand.select("doc_id"), "doc_id")


def conjunctive_search_sql(
    query_terms: list[str],
    phrase: bool = False,
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    qlist = ", ".join(f"'{t}'" for t in query_terms)
    base = (
        f"SELECT {id_col} AS doc_id FROM ("
        f"  SELECT {id_col}, unnest(string_split({text}, ' ')) AS term"
        f"  FROM {table}) "
        f"WHERE term IN ({qlist}) "
        f"GROUP BY {id_col} HAVING count(DISTINCT term) = {len(set(query_terms))}"
    )
    if not phrase:
        return base
    needle = " " + " ".join(query_terms) + " "
    return (
        f"SELECT doc_id FROM ({base}) "
        f"JOIN (SELECT {id_col} AS doc_id FROM {table}"
        f"  WHERE position('{needle}' IN ' ' || {text} || ' ') > 0) "
        f"USING (doc_id)"
    )


def bm25_score_sql(
    query_terms: list[str],
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
) -> str:
    qlist = ", ".join(f"'{t}'" for t in query_terms)
    k1, b = sql_double(k1, "duckdb"), sql_double(b, "duckdb")
    return (
        f"WITH terms AS ("
        f"  SELECT {id_col} AS doc_id, len(string_split({text}, ' ')) AS dl,"
        f"    unnest(string_split({text}, ' ')) AS term FROM {table}),"
        f"qt AS ("
        f"  SELECT doc_id, dl, term, count(*) AS tf FROM terms"
        f"  WHERE term IN ({qlist}) GROUP BY doc_id, dl, term),"
        f"dfreq AS (SELECT term, count(*) AS df FROM qt GROUP BY term),"
        f"corpus AS (SELECT count(*) AS n_docs,"
        f"  avg(len(string_split({text}, ' '))) AS avgdl FROM {table})"
        f"SELECT doc_id, round(sum("
        f"  ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
        f"  * (tf * ({k1} + 1))"
        f"  / (tf + {k1} * (1 - {b} + {b} * dl / avgdl))"
        f"), 6) AS bm25 "
        f"FROM qt JOIN dfreq USING (term) CROSS JOIN corpus "
        f"GROUP BY doc_id"
    )


def tfidf_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Per-document TF-IDF keywords (Sparck Jones 1972): top-k terms
    by tf · ln(N/df) — the oracled complement of textrank.py (which is
    per-doc iterative and rows-only).

    Hash-exact top-k selection: idf is quantized ONCE per term to
    integer log-micro-units (round(ln(N/df)·1e6)), so every score is
    an exact BIGINT tf·idf_mu and the (score desc, term asc) ranking
    is integer-deterministic on both engines — no rounded-double
    ordering at the cut boundary. Plan: one (doc, term) combinable
    exchange, term df re-aggregated from it, N as a one-row broadcast,
    then the skew-safe grouped_topk (bounded windows) + a k-sized
    partitioned rank window."""
    from pyspark.sql import Window

    from pdal_spark.operators.ordered import grouped_topk
    from pdal_spark.session import ensure_min_partitions

    df = ensure_min_partitions(df)
    tf = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_cnt"))
    n_docs = df.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "idf_mu",
            F.round(
                F.log(
                    F.col("n_docs").cast("double")
                    / F.col("df_cnt").cast("double")
                )
                * 1_000_000.0
            ).cast("long"),
        )
        .withColumn("score_mu", F.col("tf") * F.col("idf_mu"))
    )
    top = grouped_topk(
        scored, [id_col], [F.desc("score_mu"), F.asc("term")], k
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score_mu"), F.asc("term"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        id_col,
        "term",
        "tf",
        "df_cnt",
        "score_mu",
        "rank",
        F.round(F.col("score_mu").cast("double") / 1_000_000.0, 6).alias(
            "tfidf"
        ),
    )


def tfidf_keywords_sql(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> str:
    """DuckDB twin: identical integer quantization and rank order."""
    return f"""
WITH tf AS (
  SELECT {id_col}, term, count(*) AS tf
  FROM (SELECT {id_col},
               unnest(string_split({text}, ' ')) AS term FROM {table})
  GROUP BY {id_col}, term
),
dfreq AS (SELECT term, count(*) AS df_cnt FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM {table}),
scored AS (
  SELECT {id_col}, term, tf, df_cnt,
         tf * CAST(round(ln(CAST(n_docs AS DOUBLE)
                             / CAST(df_cnt AS DOUBLE)) * 1000000.0)
                   AS BIGINT) AS score_mu
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT {id_col}, term, tf, df_cnt, score_mu,
       CAST(row_number() OVER
         (PARTITION BY {id_col} ORDER BY score_mu DESC, term) AS INT)
         AS rank,
       round(CAST(score_mu AS DOUBLE) / 1000000.0, 6) AS tfidf
FROM scored
QUALIFY rank <= {int(k)}
""".strip()
