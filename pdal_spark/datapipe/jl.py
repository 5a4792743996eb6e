"""Johnson-Lindenstrauss random projection (Achlioptas 2003,
"Database-friendly random projections"): compress embeddings
d_in -> d_out with a seed-deterministic ±1 sign matrix,
y_j = (1/sqrt(d_out)) * Σ_i x_i * s_ij — pairwise distances preserved
within (1 ± ε) for d_out = O(ln n / ε²). The cheap pre-step before
IVF/PQ indexing and the classic shuffle-volume reducer: projecting
64 -> 16 dims cuts every downstream embedding exchange 4x.

The sign matrix is derived ONCE from (seed, i, j) via md5 in the
DRIVER (d_in·d_out entries, dimension-sized) and inlined as literal
arrays in both engines — so the operator itself is MAP-ONLY pure
column math (one ordered left fold per output dim, the simsearch
`_dot` contract that DuckDB's list_sum replays bit-for-bit), zero
shuffles, zero UDFs, nothing seeded at runtime.

Output is exploded to (id, dim, val) rows — scalar columns hash-
compare at the driver without array-encoding concerns; val keeps the
full fold double rounded to 6 decimals (twin contract).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdal_spark.geo import sql_double
from pdal_spark.session import ensure_min_partitions


def jl_signs(d_in: int, d_out: int, seed: int = 7) -> list[list[int]]:
    """Column-major ±1 sign lists: signs[j][i] for output dim j."""
    out = []
    for j in range(d_out):
        col = []
        for i in range(d_in):
            h = hashlib.md5(f"jl:{seed}:{i}:{j}".encode()).digest()
            col.append(1 if h[0] % 2 == 0 else -1)
        out.append(col)
    return out


def _fold(x: Column, signs: list[int]) -> Column:
    """Ordered left-fold of x_i * s_i in double (simsearch _dot
    shape; DuckDB list_sum folds in the same order)."""
    s = F.array(*[F.lit(float(v)) for v in signs])
    return F.aggregate(
        F.zip_with(x, s, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def jl_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    d_in: int = 64,
    d_out: int = 16,
    seed: int = 7,
) -> DataFrame:
    """(id, dim, val): dim j carries the scaled projection
    y_j = fold(x · s_j) / sqrt(d_out), rounded to 6 decimals."""
    if d_out < 1 or d_in < 1:
        raise ValueError("d_in and d_out must be >= 1")
    signs = jl_signs(d_in, d_out, seed)
    scale = 1.0 / math.sqrt(float(d_out))
    df = ensure_min_partitions(df)
    x = F.col(vec_col)
    dims = F.array(
        *[
            F.struct(
                F.lit(j).alias("dim"),
                F.round(_fold(x, signs[j]) * F.lit(scale), 6).alias("val"),
            )
            for j in range(d_out)
        ]
    )
    return df.select(F.col(id_col), F.explode(dims).alias("p")).select(
        id_col, F.col("p.dim").alias("dim"), F.col("p.val").alias("val")
    )


def jl_project_sql(
    table: str = "embeddings",
    vec: str = "embedding",
    id_col: str = "vec_id",
    d_in: int = 64,
    d_out: int = 16,
    seed: int = 7,
) -> str:
    """DuckDB twin: identical literal sign lists, list_sum fold, same
    scale and rounding."""
    signs = jl_signs(d_in, d_out, seed)
    scale = 1.0 / math.sqrt(float(d_out))
    arms = []
    for j in range(d_out):
        lits = ", ".join(f"{float(v):.1f}" for v in signs[j])
        arms.append(
            f"SELECT {id_col}, {j} AS dim, round(list_sum(\n"
            f"  list_transform(range(1, {d_in} + 1),\n"
            f"    i -> CAST({vec}[i] AS DOUBLE) * ([{lits}])[i])\n"
            f") * {sql_double(scale, 'duckdb')}, 6) AS val FROM {table}"
        )
    return "\nUNION ALL\n".join(arms)
