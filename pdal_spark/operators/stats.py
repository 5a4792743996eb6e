"""filters.stats — per-dimension streaming moments + enumeration.

Accumulator semantics per /root/reference/filters/StatsFilter.hpp:63-196
(John D. Cook one-pass M1..M4): the *reported* figures are
  variance  = sample variance M2/(n-1)            (hpp:72-75)
  skewness  = sample skewness                     (hpp:88-95)
  kurtosis  = sample EXCESS kurtosis              (hpp:117-129)
Spark's built-in skewness/kurtosis are population forms, so we compute
everything from power sums S1..S4 with the sample-correction factors —
pure column expressions, one aggregation pass, identical formula usable
as the DuckDB oracle twin.

`enumerate` option -> exact distinct values + counts (hpp:159-163);
`count` option -> distinct count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdal_spark.geo import sql_double


def _moment_exprs(dim: str, prefix: str, round_to: int | None):
    v = F.col(dim).cast("double")
    n = F.count(v)
    s1, s2 = F.sum(v), F.sum(v * v)
    s3, s4 = F.sum(v * v * v), F.sum(v * v * v * v)
    nn = n.cast("double")
    mean = s1 / nn
    m2 = s2 / nn - mean**2
    m3 = s3 / nn - 3 * mean * s2 / nn + 2 * mean**3
    m4 = s4 / nn - 4 * mean * s3 / nn + 6 * mean**2 * s2 / nn - 3 * mean**4
    # population forms (StatsFilter.hpp:82-87,98-103):
    pop_skew = m3 / F.pow(m2, 1.5)
    pop_kurt = m4 / (m2 * m2)
    # sample corrections (hpp:88-95, 110-129):
    samp_var = m2 * nn / (nn - 1)
    samp_skew = pop_skew * F.sqrt(nn) * F.sqrt(nn - 1) / (nn - 2)
    samp_kurt = pop_kurt * (nn + 1) * (nn - 1) / ((nn - 2) * (nn - 3))
    samp_excess_kurt = samp_kurt - 3 * (nn - 1) ** 2 / ((nn - 2) * (nn - 3))

    def r(c):
        return F.round(c, round_to) if round_to is not None else c

    return [
        n.alias(f"{prefix}count"),
        F.min(v).alias(f"{prefix}minimum"),
        F.max(v).alias(f"{prefix}maximum"),
        r(mean).alias(f"{prefix}average"),
        r(samp_var).alias(f"{prefix}variance"),
        r(F.sqrt(samp_var)).alias(f"{prefix}stddev"),
        r(samp_skew).alias(f"{prefix}skewness"),
        r(samp_excess_kurt).alias(f"{prefix}kurtosis"),
    ]


def stats(
    df: DataFrame,
    dims: list[str],
    round_to: int | None = None,
) -> DataFrame:
    """One-row summary DataFrame (PDAL reports via metadata; our 'metadata'
    is a small DataFrame). Column names: `<dim>_<stat>`. `round_to`
    stabilizes float accumulation order for cross-engine comparison."""
    exprs = []
    for d in dims:
        exprs.extend(_moment_exprs(d, f"{d}_", round_to))
    return df.agg(*exprs)


def stats_sql(table_expr: str, dims: list[str], round_to: int | None = None) -> str:
    """DuckDB oracle twin of stats() — same power-sum formulas."""
    cols = []
    for d in dims:
        p = f"{d}_"
        nn = f"CAST(count({d}) AS DOUBLE)"
        s1, s2 = f"sum({d})", f"sum({d}*{d})"
        s3, s4 = f"sum({d}*{d}*{d})", f"sum({d}*{d}*{d}*{d})"
        mean = f"({s1}/{nn})"
        m2 = f"({s2}/{nn} - {mean}*{mean})"
        m3 = f"({s3}/{nn} - 3*{mean}*{s2}/{nn} + 2*{mean}*{mean}*{mean})"
        m4 = (
            f"({s4}/{nn} - 4*{mean}*{s3}/{nn} + 6*{mean}*{mean}*{s2}/{nn}"
            f" - 3*{mean}*{mean}*{mean}*{mean})"
        )
        samp_var = f"({m2}*{nn}/({nn}-1))"
        pop_skew = f"({m3}/pow({m2}, 1.5))"
        samp_skew = f"({pop_skew}*sqrt({nn})*sqrt({nn}-1)/({nn}-2))"
        pop_kurt = f"({m4}/({m2}*{m2}))"
        samp_kurt = f"({pop_kurt}*({nn}+1)*({nn}-1)/(({nn}-2)*({nn}-3)))"
        samp_ex = f"({samp_kurt} - 3*({nn}-1)*({nn}-1)/(({nn}-2)*({nn}-3)))"

        def r(e):
            return f"round({e}, {round_to})" if round_to is not None else e

        cols += [
            f"count({d}) AS {p}count",
            f"min({d}) AS {p}minimum",
            f"max({d}) AS {p}maximum",
            f"{r(mean)} AS {p}average",
            f"{r(samp_var)} AS {p}variance",
            f"{r(f'sqrt({samp_var})')} AS {p}stddev",
            f"{r(samp_skew)} AS {p}skewness",
            f"{r(samp_ex)} AS {p}kurtosis",
        ]
    return f"SELECT {', '.join(cols)} FROM {table_expr}"


def info_bounds(df: DataFrame, dims: list[str]) -> DataFrame:
    """filters.info (InfoFilter.cpp:175-245): bounds + count summary."""
    exprs = [F.count("*").alias("num_points")]
    for d in dims:
        exprs += [F.min(d).alias(f"min_{d}"), F.max(d).alias(f"max_{d}")]
    return df.agg(*exprs)


def exact_quantiles(
    df: DataFrame,
    dim: str,
    qs: list[float],
    by: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """EXACT order statistics without a global sort (the selection-
    by-counting classic): percentile_disc semantics — the smallest
    value whose cumulative count reaches ceil(q*n) (rank 1 for q=0).

    Scale shape: ONE combinable exchange to per-value counts (the
    map-side-combined groupBy collapses 100 TB of rows to the distinct
    value domain), cumulative counts over the value order — range-
    partitioned prefix sums globally (ordered.prefix_sums, no
    single-task window), plain per-group windows when ``by`` is given
    (groups ARE the partition key) — then each target rank selects its
    owning value run with a broadcast of the tiny quantile list. No
    sort of the raw table, no sampling, exact at any scale (counts are
    exact in double up to 2^53 rows).

    The streaming/approximate sibling is the GK sketch
    (streaming/gk.py); this is the batch-exact path the reference's
    filters.stats percentile output would want at 100 TB.
    """
    if not qs:
        raise ValueError("qs must be non-empty")
    if any(q < 0.0 or q > 1.0 for q in qs):
        raise ValueError("quantiles must lie in [0, 1]")
    spark = df.sparkSession
    qdf = F.broadcast(
        spark.createDataFrame([(float(q),) for q in qs], "q double")
    )
    # quantiles are over non-null values (percentile_disc semantics;
    # also sidesteps NULLS FIRST vs NULLS LAST engine divergence)
    df = df.filter(F.col(dim).isNotNull())
    if by:
        vc = df.groupBy(*by, dim).agg(F.count("*").alias("_c"))
        from pyspark.sql import Window

        wcum = (
            Window.partitionBy(*by)
            .orderBy(F.col(dim).asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wtot = Window.partitionBy(*by)
        cum = vc.withColumn("_cum", F.sum("_c").over(wcum)).withColumn(
            "_n", F.sum("_c").over(wtot)
        )
    else:
        from pdal_spark.operators.ordered import prefix_sums

        vc = df.groupBy(dim).agg(F.count("*").alias("_c"))
        cum = prefix_sums(
            vc, [F.col(dim).asc()], {"_cum": F.col("_c")},
            num_partitions=num_partitions,
        ).withColumn("_cum", F.col("_cum").cast("long"))
        tot = vc.agg(F.sum("_c").alias("_n"))
        cum = cum.crossJoin(F.broadcast(tot))
    # percentile_disc rank: ceil(q*n) — but computed in doubles, q
    # values inexact in binary (0.07 * 100 = 7.000000000000001) would
    # ceil one rank too high; the epsilon guard restores the exact
    # rational rank. RELATIVE epsilon (1e-13 of the product): big
    # enough to swallow the product's ~2^-52 relative FP error at any
    # n, yet < 1 rank up to n ~ 10^12 (an absolute epsilon stops
    # working once q*n's ulp exceeds it).
    qn = F.col("q") * F.col("_n")
    k = F.greatest(F.ceil(qn - qn * F.lit(1e-13)), F.lit(1))
    out = (
        cum.join(
            qdf,
            ((F.col("_cum") - F.col("_c")) < k) & (k <= F.col("_cum")),
        )
        .select(*(by or []), "q", F.col(dim).alias("value"))
    )
    return out


def exact_quantiles_sql(
    table: str, dim: str, qs: list[float], by: list[str] | None = None,
) -> str:
    """DuckDB twin of exact_quantiles — the same counting formulation
    (independently, DuckDB's native quantile_disc agrees; pytest pins
    that equivalence)."""
    # DOUBLE literals: a bare 0.25 is DECIMAL(3,2) in DuckDB, and CAST of
    # it still goes through DECIMAL; Spark emits DoubleType, and the
    # value hash that compares the two is dtype-sensitive.
    qvals = ", ".join(f"({sql_double(q, 'duckdb')})" for q in qs)
    grp = ", ".join(by) + ", " if by else ""
    part = f"PARTITION BY {', '.join(by)} " if by else ""
    return f"""
      WITH vc AS (
        SELECT {grp}{dim} AS v, count(*) AS c FROM {table}
        WHERE {dim} IS NOT NULL
        GROUP BY {grp}{dim}
      ),
      cum AS (
        SELECT {grp}v, c,
               sum(c) OVER ({part}ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(c) OVER ({part.rstrip() or ''}) AS n
        FROM vc
      ),
      qs(q) AS (VALUES {qvals})
      SELECT {grp}q, v AS value
      FROM cum CROSS JOIN qs
      WHERE (cum - c) < greatest(CAST(ceil(q*n - q*n*1e-13) AS BIGINT), 1)
        AND greatest(CAST(ceil(q*n - q*n*1e-13) AS BIGINT), 1) <= cum
    """
