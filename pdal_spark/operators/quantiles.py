"""Exact per-group order statistics (discrete quantiles).

PDAL's filters.stats computes per-dimension extrema and moments
(/root/reference/filters/StatsFilter.cpp:241-282); corpus curation
needs the same summary per GROUP with exact quantiles (median/p25/p75
document length per language drives the CCNet-style bucket cuts). The
semantics here are the discrete ("type 1") quantile: for q in (0, 1],
the value whose rank is ceil(q * n) under a TOTAL order (value, then
id tiebreak) — exact integers end to end, so the DuckDB twin matches
by construction rather than by float tolerance.

Scale shape: one exchange on the group key; rank and count are a
window pair over the same partitioning (rank via row_number, n via
count over the full frame), then a semi-filter keeps the <= |qs| rows
per group whose rank hits a requested cut. The window is per-group —
the right default when groups are languages/domains (thousands of
rows each at most after the count cut); for a single mega-group use
ordered.global_rank (range-partition + offsets) which computes the
same rank without a one-task window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdal_spark.geo import sql_double

__all__ = ["grouped_quantiles", "grouped_quantiles_sql"]


def grouped_quantiles(
    df: DataFrame,
    by: list[str],
    value_col: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
    id_col: str = "doc_id",
) -> DataFrame:
    """-> by + (q double, n bigint, value): one row per group per
    requested quantile; ``n`` is the group size the cut was taken
    from. Deterministic under any partitioning (id tiebreak)."""
    if not qs or any(not (0.0 < q <= 1.0) for q in qs):
        raise ValueError("qs must be in (0, 1]")
    w = Window.partitionBy(*by).orderBy(F.col(value_col), F.col(id_col))
    wn = Window.partitionBy(*by)
    ranked = df.select(
        *by,
        F.col(value_col).alias("value"),
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(wn).alias("n"),
    )
    # rank hit-set: qs is a small literal list, so the per-row test is
    # an inline array of ceil(q*n) comparisons — no join; a row emits
    # one output per matching q (cuts can coincide on tiny groups).
    qarr = F.array(
        *[
            F.when(
                F.col("_rn")
                == F.ceil(F.lit(q) * F.col("n")).cast("long"),
                F.lit(float(q)),
            )
            for q in qs
        ]
    )
    out = (
        ranked.withColumn("q", F.explode(F.filter(qarr, lambda x: x.isNotNull())))
        .select(*by, "q", "n", "value")
    )
    return out


def grouped_quantiles_sql(
    table: str,
    by: list[str],
    value_expr: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
    id_col: str = "doc_id",
) -> str:
    g = ", ".join(by)
    # DOUBLE literals: a bare 0.25 is DECIMAL(3,2) in DuckDB, and CAST of
    # it still goes through DECIMAL; Spark emits DoubleType, and the
    # value hash that compares the two is dtype-sensitive.
    q_rows = ", ".join(f"({sql_double(q, 'duckdb')})" for q in qs)
    return f"""
      WITH ranked AS (
        SELECT {g}, {value_expr} AS value,
               row_number() OVER (PARTITION BY {g}
                                  ORDER BY {value_expr}, {id_col}) AS rn,
               count(*) OVER (PARTITION BY {g}) AS n
        FROM {table}
      ),
      qs(q) AS (VALUES {q_rows})
      SELECT {g}, q, CAST(n AS BIGINT) AS n, value
      FROM ranked CROSS JOIN qs
      WHERE rn = CAST(ceil(q * n) AS BIGINT)
    """
