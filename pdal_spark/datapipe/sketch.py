"""KMV (k-minimum-values) distinct-count sketch.

The classic bottom-k sketch (Bar-Yossef et al. 2002): hash every value
with a fixed uniform hash, keep the k smallest DISTINCT hashes per
group. ``|sketch| < k`` means the group's full distinct set was seen
(exact count); otherwise the k-th smallest hash estimates cardinality
as ``(k-1) * M / h_k`` (hashes ~ uniform on [0, M)). Sketches merge by
union + re-truncate, which is what makes the operator work at 100 TB:

  * phase 1 (map-side, mapInPandas): each PARTITION emits at most k
    hashes per group it touches — the sketch state is bounded by
    (groups-in-partition x k) regardless of row count;
  * phase 2: one exchange on the group key; partial sketches merge
    with pure array expressions (flatten -> distinct -> sort -> slice)
    — per-group state is bounded by (partitions x k), never by the
    group's row count.

The hash is the repo's affine cipher over the Mersenne prime 2^31-1
(same family as relational.shuffle_key_sql) — exact integer math,
bit-identical in Spark, DuckDB, and numpy, so the SQL twin compares
the sketch CONTENT exactly, not just the estimate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdal_spark.geo import sql_double

P31 = 2_147_483_647


def _hash_params(seed: int) -> tuple[int, int]:
    # splitmix-style derivation, reduced mod P31; a != 0
    a = ((seed * 2654435761 + 0x9E3779B9) % (P31 - 1)) + 1
    b = (seed * 40503 + 7) % P31
    return a, b


def kmv_hash(value: Column, seed: int = 7) -> Column:
    """Uniform hash of an integer column onto [0, P31)."""
    a, b = _hash_params(seed)
    return (F.lit(a) * F.pmod(value.cast("long"), F.lit(P31)) + F.lit(b)) % F.lit(
        P31
    )


def kmv_hash_sql(value: str, seed: int = 7) -> str:
    a, b = _hash_params(seed)
    return f"(({a} * ((({value}) % {P31} + {P31}) % {P31}) + {b}) % {P31})"


def kmv_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Per-group KMV sketch + cardinality estimate.

    Output: group_cols + (sketch array<long>, n_in_sketch, kth_hash,
    est_distinct). ``est_distinct`` is exact when n_in_sketch < k."""
    import pandas as pd

    # NULL values don't count toward distinct cardinality (SQL
    # count(DISTINCT x) semantics); NULL GROUP KEYS are kept as their
    # own group like SQL GROUP BY (pandas groupby must not drop them).
    h = kmv_hash(F.col(value_col), seed)
    hashed = df.select(*group_cols, h.alias("_h")).filter(
        F.col("_h").isNotNull()
    )

    schema = (
        ", ".join(f"{c} {hashed.schema[c].dataType.simpleString()}" for c in group_cols)
        + ", _partial array<bigint>"
    )

    def partial(batches):
        acc: dict[tuple, set] = {}
        for pdf in batches:
            for key, sub in pdf.groupby(group_cols, sort=False, dropna=False):
                if not isinstance(key, tuple):
                    key = (key,)
                s = acc.setdefault(key, set())
                s.update(int(v) for v in sub["_h"].unique())
                if len(s) > 4 * k:  # re-truncate opportunistically
                    acc[key] = set(sorted(s)[:k])
        rows = []
        for key, s in acc.items():
            rows.append((*key, sorted(s)[:k]))
        if rows:
            yield pd.DataFrame(rows, columns=[*group_cols, "_partial"])

    partials = hashed.mapInPandas(partial, schema)
    merged = F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("_partial")))),
        1,
        k,
    )
    out = partials.groupBy(*group_cols).agg(merged.alias("sketch"))
    m = F.size("sketch")
    kth = F.element_at("sketch", F.least(F.lit(k), m))
    est = F.when(m < k, m.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(float(P31)) / kth.cast("double")
    )
    return out.select(
        *group_cols,
        "sketch",
        m.cast("long").alias("n_in_sketch"),
        kth.alias("kth_hash"),
        F.round(est, 6).alias("est_distinct"),
    )


def kmv_sketch_sql(
    table: str,
    group_cols: list[str],
    value_expr: str,
    k: int = 64,
    seed: int = 7,
    with_sketch: bool = False,
) -> str:
    """DuckDB twin — the single-pass reference form (list of distinct
    hashes, sorted, truncated). Identical sketch content and estimate.
    ``with_sketch=False`` omits the array column (scalar-only output
    for the driver's value-hash compare)."""
    g = ", ".join(group_cols)
    h = kmv_hash_sql(value_expr, seed)
    sk = f"list_slice(list_sort(list_distinct(list({h}))), 1, {k})"
    cols = f"{g}, sketch, " if with_sketch else f"{g}, "
    return (
        f"SELECT {cols}"
        f"CAST(len(sketch) AS BIGINT) AS n_in_sketch, "
        f"CAST(sketch[least({k}, len(sketch))] AS BIGINT) AS kth_hash, "
        f"round(CASE WHEN len(sketch) < {k} THEN CAST(len(sketch) AS DOUBLE) "
        f"ELSE {sql_double(k - 1, 'duckdb')} * {sql_double(P31, 'duckdb')} / sketch[{k}] END, 6) "
        f"AS est_distinct "
        f"FROM (SELECT {g}, {sk} AS sketch FROM {table} "
        f"WHERE ({h}) IS NOT NULL GROUP BY {g})"
    )


# --- HyperLogLog -----------------------------------------------------------

# bias-correction constants alpha_m (Flajolet et al. 2007, §4) for the
# register counts this module exposes; m >= 128 uses the closed form.
_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _alpha(m: int) -> float:
    return _ALPHA.get(m, 0.7213 / (1.0 + 1.079 / m))


def hll_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    m: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate (Flajolet et al.
    2007) with the small-range linear-counting correction.

    Register index = hash % m; rank rho = 1 + position of the highest
    set bit of hash // m (a 31-bit affine-cipher hash, so rho is exact
    integer math: 26 - bit_length(rest) when m = 64). ONE groupBy with
    m map-side-combining max aggregates — per-group shuffle state is m
    bytes-ish regardless of group size, the property that makes HLL the
    100 TB cardinality operator (KMV's bottom-k costs k*8 bytes and a
    sort; HLL is max-merge only).

    Exactness of the twin: every 2^-rho is dyadic with lsb >= 2^-26 and
    the register sum stays < m+1, so the double sum is EXACT in any
    accumulation order — Spark and DuckDB agree bit-for-bit before the
    single rounded division."""
    if m & (m - 1) or m < 2:
        raise ValueError("m must be a power of two >= 2")
    hi_bits = 31 - m.bit_length() + 1  # bits in hash // m
    h = kmv_hash(F.col(value_col), seed)
    idx = (h % m).cast("int")
    rest = (h / m).cast("long")  # floor: h, m positive
    # bit_length via base-2 string length — exact in both engines
    # (F.conv/DuckDB bin), no float log2 whose libm rounding could
    # disagree at power-of-two boundaries.
    rho = F.when(rest == 0, F.lit(hi_bits + 1)).otherwise(
        F.lit(hi_bits + 1) - F.length(F.conv(rest, 10, 2))
    )
    base = df.select(*group_cols, idx.alias("_i"), rho.alias("_r")).filter(
        F.col("_r").isNotNull()
    )
    regs = base.groupBy(*group_cols).agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("_i") == j, F.col("_r"))), F.lit(0)
            ).alias(f"_m{j}")
            for j in range(m)
        ]
    )
    ssum = sum(
        (F.lit(1.0) / F.pow(F.lit(2.0), F.col(f"_m{j}")) for j in range(m)),
        F.lit(0.0),
    )
    zeros = sum(
        (F.when(F.col(f"_m{j}") == 0, 1).otherwise(0) for j in range(m)),
        F.lit(0),
    )
    raw = F.lit(_alpha(m) * m * m) / ssum
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return regs.select(
        *group_cols,
        zeros.cast("long").alias("n_zero_regs"),
        F.round(ssum, 9).alias("reg_sum"),
        F.round(est, 6).alias("est_distinct"),
    )


def hll_sketch_sql(
    table: str,
    group_cols: list[str],
    value_expr: str,
    m: int = 64,
    seed: int = 7,
) -> str:
    """DuckDB twin: registers via GROUP BY (g, idx) then the identical
    exact dyadic sum + correction. bit-length via length(bin()) trimmed
    of leading zeros like Spark's conv(_, 10, 2)."""
    hi_bits = 31 - m.bit_length() + 1
    g = ", ".join(group_cols)
    h = kmv_hash_sql(value_expr, seed)
    a = _alpha(m)
    return f"""
      WITH hashes AS (
        SELECT {g}, ({h}) % {m} AS idx,
               CASE WHEN ({h}) // {m} = 0 THEN {hi_bits + 1}
                    ELSE {hi_bits + 1}
                         - length(ltrim(bin(({h}) // {m}), '0'))
               END AS rho
        FROM {table} WHERE ({h}) IS NOT NULL
      ),
      regs AS (
        SELECT {g}, idx, max(rho) AS r FROM hashes GROUP BY {g}, idx
      ),
      agg AS (
        SELECT {g},
               CAST({m} - count(*) AS BIGINT) AS n_zero_regs,
               sum(1.0 / pow(2.0, r)) + ({m} - count(*)) AS reg_sum
        FROM regs GROUP BY {g}
      )
      SELECT {g}, n_zero_regs, round(reg_sum, 9) AS reg_sum,
             round(CASE WHEN {a} * {m} * {m} / reg_sum <= {2.5 * m}
                         AND n_zero_regs > 0
                    THEN {float(m)} * ln({float(m)} / n_zero_regs)
                    ELSE {a} * {m} * {m} / reg_sum END, 6) AS est_distinct
      FROM agg
    """


def _hll_est_cols(prefix: str, m: int):
    """(ssum, zeros, est) column triple over registers named
    f'{prefix}{j}' — the exact expression sequence of hll_sketch."""
    ssum = sum(
        (
            F.lit(1.0) / F.pow(F.lit(2.0), F.col(f"{prefix}{j}"))
            for j in range(m)
        ),
        F.lit(0.0),
    )
    zeros = sum(
        (
            F.when(F.col(f"{prefix}{j}") == 0, 1).otherwise(0)
            for j in range(m)
        ),
        F.lit(0),
    )
    raw = F.lit(_alpha(m) * m * m) / ssum
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return ssum, zeros, est


def hll_overlap(
    df: DataFrame,
    group_col: str,
    value_col: str,
    m: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Pairwise set overlap between groups WITHOUT an exact join —
    HyperLogLog set algebra: HLL union is exact (elementwise register
    max), so |A∩B| ≈ est(A) + est(B) − est(A∪B) by inclusion-
    exclusion (Flajolet et al. 2007 §5). The 100 TB shape for
    "how much vocabulary do these sources share": each group's
    register vector is m bytes-ish regardless of group size, the pair
    stage joins GROUPS (dimension-sized — broadcast nested-loop on the
    inequality, never a row-level join), and the corpus is scanned
    once.

    Output per (grp_a < grp_b): est_a, est_b, est_union, est_inter
    (clamped at 0 — inclusion-exclusion noise can go slightly
    negative). Estimates are the deterministic hll_sketch expressions,
    so the DuckDB twin bit-matches.

    value_col must be a WELL-MIXED integer key (md5 content key,
    fingerprint roll) — the affine register hash is structured on
    consecutive integers, which biases rho; same contract as every
    sketch.py caller."""
    if m & (m - 1) or m < 2:
        raise ValueError("m must be a power of two >= 2")
    hi_bits = 31 - m.bit_length() + 1
    h = kmv_hash(F.col(value_col), seed)
    idx = (h % m).cast("int")
    rest = (h / m).cast("long")
    rho = F.when(rest == 0, F.lit(hi_bits + 1)).otherwise(
        F.lit(hi_bits + 1) - F.length(F.conv(rest, 10, 2))
    )
    base = df.select(
        F.col(group_col).alias("grp"), idx.alias("_i"), rho.alias("_r")
    ).filter(F.col("_r").isNotNull())
    regs = base.groupBy("grp").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("_i") == j, F.col("_r"))), F.lit(0)
            ).alias(f"_m{j}")
            for j in range(m)
        ]
    )
    a = regs.select(
        F.col("grp").alias("grp_a"),
        *[F.col(f"_m{j}").alias(f"_a{j}") for j in range(m)],
    )
    b = regs.select(
        F.col("grp").alias("grp_b"),
        *[F.col(f"_m{j}").alias(f"_b{j}") for j in range(m)],
    )
    pairs = F.broadcast(a).join(b, F.col("grp_a") < F.col("grp_b"))
    pairs = pairs.select(
        "grp_a",
        "grp_b",
        *[F.col(f"_a{j}") for j in range(m)],
        *[F.col(f"_b{j}") for j in range(m)],
        *[
            F.greatest(F.col(f"_a{j}"), F.col(f"_b{j}")).alias(f"_u{j}")
            for j in range(m)
        ],
    )
    _, _, est_a = _hll_est_cols("_a", m)
    _, _, est_b = _hll_est_cols("_b", m)
    _, _, est_u = _hll_est_cols("_u", m)
    inter = F.greatest(F.lit(0.0), est_a + est_b - est_u)
    return pairs.select(
        "grp_a",
        "grp_b",
        F.round(est_a, 6).alias("est_a"),
        F.round(est_b, 6).alias("est_b"),
        F.round(est_u, 6).alias("est_union"),
        F.round(inter, 6).alias("est_inter"),
    )


def hll_overlap_sql(
    table: str,
    group_col: str,
    value_expr: str,
    m: int = 64,
    seed: int = 7,
) -> str:
    """DuckDB twin: sparse registers per group, pair max-merge via a
    UNION ALL of the two sides keyed (pair, idx) — dyadic register
    sums are exact in any accumulation order, so the wide-column
    engine and this sparse form bit-match (the hll_sketch proof)."""
    hi_bits = 31 - m.bit_length() + 1
    h = kmv_hash_sql(value_expr, seed)
    aa = _alpha(m)
    est = (
        "CASE WHEN {a} * {m} * {m} / {s} <= {lim} AND {z} > 0 "
        "THEN {fm} * ln({fm} / {z}) ELSE {a} * {m} * {m} / {s} END"
    )

    def est_of(s, z):
        return est.format(
            a=aa, m=m, s=s, z=z, lim=2.5 * m, fm=float(m)
        )

    return f"""
WITH hashes AS (
  SELECT {group_col} AS grp, ({h}) % {m} AS idx,
         CASE WHEN ({h}) // {m} = 0 THEN {hi_bits + 1}
              ELSE {hi_bits + 1}
                   - length(ltrim(bin(({h}) // {m}), '0'))
         END AS rho
  FROM {table} WHERE ({h}) IS NOT NULL
),
regs AS (SELECT grp, idx, max(rho) AS r FROM hashes GROUP BY grp, idx),
agg AS (
  SELECT grp,
         sum(1.0 / pow(2.0, r)) + ({m} - count(*)) AS s,
         CAST({m} - count(*) AS BIGINT) AS z
  FROM regs GROUP BY grp
),
prs AS (
  SELECT a.grp AS grp_a, b.grp AS grp_b
  FROM (SELECT DISTINCT grp FROM regs) a
  JOIN (SELECT DISTINCT grp FROM regs) b ON a.grp < b.grp
),
uregs AS (
  SELECT grp_a, grp_b, idx, max(r) AS r
  FROM (
    SELECT p.grp_a, p.grp_b, r1.idx, r1.r
    FROM prs p JOIN regs r1 ON r1.grp = p.grp_a
    UNION ALL
    SELECT p.grp_a, p.grp_b, r2.idx, r2.r
    FROM prs p JOIN regs r2 ON r2.grp = p.grp_b
  ) GROUP BY 1, 2, 3
),
uagg AS (
  SELECT grp_a, grp_b,
         sum(1.0 / pow(2.0, r)) + ({m} - count(*)) AS s,
         CAST({m} - count(*) AS BIGINT) AS z
  FROM uregs GROUP BY 1, 2
)
SELECT u.grp_a, u.grp_b,
       round({est_of('ea.s', 'ea.z')}, 6) AS est_a,
       round({est_of('eb.s', 'eb.z')}, 6) AS est_b,
       round({est_of('u.s', 'u.z')}, 6) AS est_union,
       round(greatest(0.0,
         ({est_of('ea.s', 'ea.z')}) + ({est_of('eb.s', 'eb.z')})
         - ({est_of('u.s', 'u.z')})), 6) AS est_inter
FROM uagg u
JOIN agg ea ON u.grp_a = ea.grp
JOIN agg eb ON u.grp_b = eb.grp
""".strip()
