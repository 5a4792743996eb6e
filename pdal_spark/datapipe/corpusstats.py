"""Corpus-statistics diagnostics: per-language Zipf rank-frequency fit
(Zipf 1949; Piantadosi 2014 review) and Heaps/Herdan vocabulary-growth
fit (Heaps 1978) — the standard sanity panel for a crawled corpus
(a healthy natural-language slice fits ln f = a + s·ln r with s near
-1; gibberish, templates and spam bend the curve).

Hash-exactness on an ITERATIVE-free but float-heavy computation uses
the repo's fixed-point contract (the pagerank trick): each regression
point is quantized ONCE per row to integer log-micro-units
(round(ln(v)·1e6) — a single libm call + HALF_UP round, bit-identical
on both engines), the five regression sums are then EXACT BIGINT sums
(order-free, so Spark's partition-varying accumulation order cannot
perturb them), and the slope/intercept are a fixed sequence of double
ops over those exact integers.

Plan shape at 100 TB:
  * one (lang, word) map-side-combinable exchange builds the count
    table; types/tokens per lang are re-aggregations of it;
  * the rank window runs over grouped_topk(max_rank) output — the
    skew-safe two-phase top-k bounds the per-lang window to
    max_rank × partitions rows, so a 90%-English corpus cannot
    single-task the vocabulary (the Zipf fit only uses the top ranks
    anyway — the curve's tail is the known non-Zipfian regime);
  * Heaps points are one (lang, source, word) exchange + rollups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdal_spark.geo import sql_double
from pdal_spark.operators.ordered import grouped_topk
from pdal_spark.session import ensure_min_partitions

_MU = 1_000_000.0  # log micro-units


def _mu(v: Column) -> Column:
    """round(ln(v) * 1e6) as BIGINT — the per-row quantization."""
    return F.round(F.log(v.cast("double")) * _MU).cast("long")


def _fit(points: DataFrame, by: str, x: str, y: str) -> DataFrame:
    """Least-squares slope/intercept per group over integer
    micro-unit points: exact BIGINT sums, then one fixed double
    sequence. Groups with a degenerate design (n < 2 or zero
    variance) emit NULLs rather than Inf."""
    s = points.groupBy(by).agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(F.col(x) * F.col(x)).alias("sxx"),
        F.sum(F.col(x) * F.col(y)).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd, sxyd = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    den = nd * sxxd - sxd * sxd
    slope = (nd * sxyd - sxd * syd) / den
    ok = (F.col("n") >= 2) & (den != 0.0)
    return s.select(
        by,
        F.col("n").alias("n_points"),
        F.when(ok, F.round(slope, 6)).alias("slope"),
        F.when(ok, F.round((syd - slope * sxd) / nd / F.lit(_MU), 6)).alias(
            "intercept"
        ),
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    by: str = "lang",
    max_rank: int = 1000,
) -> DataFrame:
    """Per-group Zipf fit ln(freq) = intercept + slope * ln(rank) over
    the top max_rank words (cnt desc, word asc tiebreak), plus exact
    n_types / n_tokens. Output: (by, n_types, n_tokens, n_points,
    zipf_slope, zipf_intercept)."""
    df = ensure_min_partitions(df)
    wc = (
        df.select(F.col(by), F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .groupBy(by, "w")
        .agg(F.count("*").alias("cnt"))
    )
    tot = wc.groupBy(by).agg(
        F.count("*").alias("n_types"),
        F.sum("cnt").alias("n_tokens"),
    )
    top = grouped_topk(wc, [by], [F.desc("cnt"), F.asc("w")], max_rank)
    from pyspark.sql import Window

    w_rank = Window.partitionBy(by).orderBy(F.desc("cnt"), F.asc("w"))
    pts = top.withColumn("r", F.row_number().over(w_rank)).select(
        by, _mu(F.col("r")).alias("xi"), _mu(F.col("cnt")).alias("yi")
    )
    fit = _fit(pts, by, "xi", "yi")
    return tot.join(fit, by).select(
        by,
        "n_types",
        "n_tokens",
        "n_points",
        F.col("slope").alias("zipf_slope"),
        F.col("intercept").alias("zipf_intercept"),
    )


def heaps_fit(
    df: DataFrame,
    text_col: str = "text",
    by: str = "lang",
    group_col: str = "source",
) -> DataFrame:
    """Per-language Heaps fit ln(V) = ln(k) + beta * ln(N) across
    (lang, source) sub-corpora (V = vocabulary size, N = tokens).
    Output: (by, n_points, heaps_beta, heaps_ln_k)."""
    df = ensure_min_partitions(df)
    wc = (
        df.select(
            F.col(by),
            F.col(group_col),
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )
        .groupBy(by, group_col, "w")
        .agg(F.count("*").alias("cnt"))
    )
    pts = wc.groupBy(by, group_col).agg(
        _mu(F.sum("cnt")).alias("xi"),
        _mu(F.count("*")).alias("yi"),
    )
    fit = _fit(pts, by, "xi", "yi")
    return fit.select(
        by,
        "n_points",
        F.col("slope").alias("heaps_beta"),
        F.col("intercept").alias("heaps_ln_k"),
    )


def source_keyness(
    df: DataFrame,
    text_col: str = "text",
    by: str = "source",
    min_count: int = 5,
    min_llr: float = 10.83,
) -> DataFrame:
    """Keyness (Dunning 1993 G² applied corpus-vs-rest; Rayson &
    Garside 2000): words significantly OVER-represented in one
    sub-corpus relative to the remainder — the standard "what makes
    this source different" report (and a template/spam tripwire: a
    source whose key words are navigation chrome is boilerplate).

    2x2 table per (source, word): k11 = c(w, s), row = N_s,
    col = c(w); G² with the usual 0·ln0 = 0 guard; direction filter
    keeps only over-representation (k11/N_s > c(w)/N, compared in
    double — deterministic IEEE on both engines and safe past the
    int64 cross-multiply bound at 10^12 tokens); significance filter
    llr > min_llr (10.83 = chi², 1 dof, p < .001).

    Plan: one (source, word) combinable exchange; c(w) and N_s are
    re-aggregations of it; N attaches as a one-row broadcast; the
    min_count filter runs BEFORE the word-key join.
    """
    df = ensure_min_partitions(df)
    wc = (
        df.select(
            F.col(by), F.explode(F.split(F.col(text_col), " ")).alias("w")
        )
        .groupBy(by, "w")
        .agg(F.count("*").alias("cnt_ws"))
    )
    cw = wc.groupBy("w").agg(F.sum("cnt_ws").alias("cnt_w"))
    ns = wc.groupBy(by).agg(F.sum("cnt_ws").alias("n_s"))
    n = ns.agg(F.sum("n_s").alias("n_tot"))
    j = (
        wc.filter(F.col("cnt_ws") >= min_count)
        .join(cw, "w")
        .join(ns, by)
        .join(F.broadcast(n))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    k11, r1, c1, m = d("cnt_ws"), d("n_s"), d("cnt_w"), d("n_tot")

    def term(k, r, c):
        return F.when(k > 0, k * F.log(k * m / (r * c))).otherwise(F.lit(0.0))

    llr = F.round(
        2.0
        * (
            term(k11, r1, c1)
            + term(r1 - k11, r1, m - c1)
            + term(c1 - k11, m - r1, c1)
            + term(m - r1 - c1 + k11, m - r1, m - c1)
        ),
        6,
    )
    return (
        j.withColumn("llr", llr)
        .filter((k11 / r1 > c1 / m) & (F.col("llr") > min_llr))
        .select(by, "w", "cnt_ws", "cnt_w", "llr")
    )


def source_keyness_sql(
    table: str = "documents",
    text: str = "text",
    by: str = "source",
    min_count: int = 5,
    min_llr: float = 10.83,
) -> str:
    """DuckDB twin of source_keyness (identical term association)."""

    def term(k, r, c):
        return (
            f"(CASE WHEN {k} > 0 THEN {k} * ln({k} * m / ({r} * {c})) "
            f"ELSE 0.0 END)"
        )

    k11, r1, c1 = "k11", "r1", "c1"
    body = " + ".join(
        [
            term(k11, r1, c1),
            term(f"({r1} - {k11})", r1, f"(m - {c1})"),
            term(f"({c1} - {k11})", f"(m - {r1})", c1),
            term(
                f"(m - {r1} - {c1} + {k11})", f"(m - {r1})", f"(m - {c1})"
            ),
        ]
    )
    return f"""
WITH wc AS (
  SELECT {by}, w, count(*) AS cnt_ws
  FROM (SELECT {by}, unnest(string_split({text}, ' ')) AS w FROM {table})
  GROUP BY {by}, w
),
cw AS (SELECT w, CAST(sum(cnt_ws) AS BIGINT) AS cnt_w FROM wc GROUP BY w),
ns AS (SELECT {by}, CAST(sum(cnt_ws) AS BIGINT) AS n_s
       FROM wc GROUP BY {by}),
n AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_tot FROM ns),
j AS (
  SELECT wc.{by}, wc.w, cnt_ws, cnt_w,
         CAST(cnt_ws AS DOUBLE) AS k11, CAST(n_s AS DOUBLE) AS r1,
         CAST(cnt_w AS DOUBLE) AS c1, CAST(n_tot AS DOUBLE) AS m
  FROM wc
  JOIN cw USING (w) JOIN ns USING ({by}) CROSS JOIN n
  WHERE cnt_ws >= {int(min_count)}
)
SELECT {by}, w, cnt_ws, cnt_w,
       round(2.0 * ({body}), 6) AS llr
FROM j
WHERE k11 / r1 > c1 / m
  AND round(2.0 * ({body}), 6) > {sql_double(min_llr, 'duckdb')}
""".strip()


def _fit_sql(src: str, by: str) -> str:
    """Regression tail shared by both twins; src must yield
    (by, xi, yi) BIGINT micro-unit points."""
    return f"""
s AS (
  SELECT {by}, count(*) AS n,
         CAST(sum(xi) AS BIGINT) AS sx, CAST(sum(yi) AS BIGINT) AS sy,
         CAST(sum(xi * xi) AS BIGINT) AS sxx,
         CAST(sum(xi * yi) AS BIGINT) AS sxy
  FROM {src} GROUP BY {by}
),
fit AS (
  SELECT {by}, CAST(n AS BIGINT) AS n_points,
    CASE WHEN n >= 2 AND (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0.0
      THEN round(
        (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
      END AS slope,
    CASE WHEN n >= 2 AND (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0.0
      THEN round(
        (CAST(sy AS DOUBLE)
          - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * CAST(sx AS DOUBLE))
        / CAST(n AS DOUBLE) / 1000000.0, 6)
      END AS intercept
  FROM s
)""".strip()


def zipf_fit_sql(
    table: str = "documents",
    text: str = "text",
    by: str = "lang",
    max_rank: int = 1000,
) -> str:
    return f"""
WITH wc AS (
  SELECT {by}, w, count(*) AS cnt
  FROM (SELECT {by}, unnest(string_split({text}, ' ')) AS w FROM {table})
  GROUP BY {by}, w
),
tot AS (
  SELECT {by}, count(*) AS n_types, CAST(sum(cnt) AS BIGINT) AS n_tokens
  FROM wc GROUP BY {by}
),
top AS (
  SELECT {by}, cnt,
         row_number() OVER (PARTITION BY {by} ORDER BY cnt DESC, w) AS r
  FROM wc QUALIFY r <= {int(max_rank)}
),
pts AS (
  SELECT {by},
         CAST(round(ln(CAST(r AS DOUBLE)) * 1000000.0) AS BIGINT) AS xi,
         CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT) AS yi
  FROM top
),
{_fit_sql('pts', by)}
SELECT {by}, n_types, n_tokens, n_points,
       slope AS zipf_slope, intercept AS zipf_intercept
FROM tot JOIN fit USING ({by})
""".strip()


def heaps_fit_sql(
    table: str = "documents",
    text: str = "text",
    by: str = "lang",
    group_col: str = "source",
) -> str:
    return f"""
WITH wc AS (
  SELECT {by}, {group_col}, w, count(*) AS cnt
  FROM (SELECT {by}, {group_col},
               unnest(string_split({text}, ' ')) AS w FROM {table})
  GROUP BY {by}, {group_col}, w
),
pts AS (
  SELECT {by},
    CAST(round(ln(CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE)) * 1000000.0)
         AS BIGINT) AS xi,
    CAST(round(ln(CAST(count(*) AS DOUBLE)) * 1000000.0) AS BIGINT) AS yi
  FROM wc GROUP BY {by}, {group_col}
),
{_fit_sql('pts', by)}
SELECT {by}, n_points, slope AS heaps_beta, intercept AS heaps_ln_k
FROM fit
""".strip()
