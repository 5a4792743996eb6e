"""Benchmark decontamination + mixture weighting for training corpora.

`ngram_contamination`: the standard eval-decontamination screen (as in
GPT-3 appx C / PaLM §Datasheet): a document is contaminated to the
degree its word n-grams collide with a benchmark's n-gram set. The
benchmark side is tiny by construction (eval sets), so the scale shape
is: distinct probe n-grams -> BROADCAST hash-join against the exploded
corpus n-grams -> per-doc hit rollup. One doc-local shuffle, no
benchmark-side skew possible.

Two join keys:
  key="gram"  joins on the n-gram string — SQL-twinnable, the oracle
              mode.
  key="hash"  joins on xxhash64(gram) — the 100 TB path (8-byte keys
              instead of arbitrary-length strings in the broadcast
              map); results are identical short of a 2^-64 collision,
              which the parity test pins at small scale.

`source_mixture`: per-(source, lang) corpus stats + temperature-scaled
sampling weights w ∝ tokens^alpha (multinomial mixture balancing, as in
multilingual-corpus sampling). Pure two-level aggregate: map-side
partial counts, one tiny final reduce; the weight normalization is a
broadcast of G group sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdal_spark.datapipe.repetition import _ngrams
from pdal_spark.geo import sql_double


def ngram_contamination(
    docs: DataFrame,
    probe: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    key: str = "gram",
) -> DataFrame:
    """Per-document (n_grams, n_contaminated, contamination_frac)
    against the probe corpus's distinct n-gram set."""
    if key not in ("gram", "hash"):
        raise ValueError(f"key must be 'gram' or 'hash', got {key!r}")
    pg = (
        probe.select(
            F.explode(_ngrams(F.split(F.col(text_col), " "), n)).alias("gram")
        ).distinct()
    )
    dg = docs.select(
        F.col(id_col),
        F.explode(_ngrams(F.split(F.col(text_col), " "), n)).alias("gram"),
    )
    if key == "hash":
        pg = pg.select(F.xxhash64("gram").alias("gram")).distinct()
        dg = dg.select(id_col, F.xxhash64("gram").alias("gram"))
    hits = (
        dg.join(F.broadcast(pg.withColumn("_hit", F.lit(1))), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated"),
        )
        .withColumn(
            "contamination_frac", F.col("n_contaminated") / F.col("n_grams")
        )
    )
    # docs shorter than n words have no n-grams: report 0/0/0.0
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.coalesce("contamination_frac", F.lit(0.0)).alias(
                "contamination_frac"
            ),
        )
    )


def contamination_sql(
    table: str = "documents",
    probe_where: str = "doc_id % 97 = 0",
    n: int = 8,
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin (key="gram") with the probe defined by a WHERE
    clause over the same table."""
    grams = (
        f"list_transform(range(1, greatest(len(string_split({text}, ' ')) - "
        f"{n - 1}, 0) + 1), i -> array_to_string(string_split({text}, ' ')"
        f"[i:i+{n - 1}], ' '))"
    )
    return f"""
      WITH pg AS (
        SELECT DISTINCT unnest({grams}) AS gram
        FROM {table} WHERE {probe_where}
      ),
      dg AS (
        SELECT {id_col}, unnest({grams}) AS gram FROM {table}
      ),
      hits AS (
        SELECT dg.{id_col},
               count(*) AS n_grams,
               CAST(sum(CASE WHEN pg.gram IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contaminated
        FROM dg LEFT JOIN pg ON dg.gram = pg.gram
        GROUP BY dg.{id_col}
      )
      SELECT t.{id_col},
             coalesce(h.n_grams, 0) AS n_grams,
             coalesce(h.n_contaminated, 0) AS n_contaminated,
             coalesce(h.n_contaminated / CAST(h.n_grams AS DOUBLE), 0.0)
               AS contamination_frac
      FROM {table} t LEFT JOIN hits h USING ({id_col})
    """


def source_mixture(
    docs: DataFrame,
    alpha: float = 0.5,
    by: tuple[str, ...] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """Per-group corpus stats + temperature-alpha sampling weights
    (w_g = tokens_g^alpha / sum_g tokens_g^alpha, rounded 1e-9)."""
    g = docs.groupBy(*by).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col(text_col), " "))).alias("n_tokens"),
    )
    p = g.withColumn("_pw", F.pow(F.col("n_tokens").cast("double"), alpha))
    tot = p.agg(F.sum("_pw").alias("_tot"))
    return (
        p.crossJoin(F.broadcast(tot))
        .withColumn("weight", F.round(F.col("_pw") / F.col("_tot"), 9))
        .drop("_pw", "_tot")
    )


def source_mixture_sql(
    table: str = "documents",
    alpha: float = 0.5,
    by: tuple[str, ...] = ("source", "lang"),
    text: str = "text",
) -> str:
    keys = ", ".join(by)
    return f"""
      WITH g AS (
        SELECT {keys}, count(*) AS n_docs,
               CAST(sum(len(string_split({text}, ' ')))
                 AS BIGINT) AS n_tokens
        FROM {table} GROUP BY {keys}
      )
      SELECT {keys}, n_docs, n_tokens,
             round(pow(CAST(n_tokens AS DOUBLE), {sql_double(alpha, 'duckdb')})
                   / sum(pow(CAST(n_tokens AS DOUBLE), {sql_double(alpha, 'duckdb')})) OVER (),
                   9) AS weight
      FROM g
    """


def mixture_sample(
    docs: DataFrame,
    budget: int,
    alpha: float = 0.5,
    by: tuple[str, ...] = ("source", "lang"),
    seed: int = 7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Materialize the mixture: keep each doc of group g with
    probability r_g = min(1, budget * w_g / n_docs_g), where w_g are
    source_mixture's temperature-alpha weights — so the expected kept
    count is ~budget distributed by the mixture.

    The Bernoulli draw is the affine-cipher uniform over the Mersenne
    prime (relational.shuffle_key_sql): keep iff key(id) < floor(r_g *
    (2^31-1)) — an exact integer compare, identical in Spark SQL and
    DuckDB, deterministic in `seed`, and independent of partitioning.
    Broadcast of the tiny per-group rate table is the only join."""
    from pdal_spark.operators.relational import shuffle_key_sql

    P31 = 2_147_483_647
    w = source_mixture(docs, alpha, by, text_col)
    rates = w.select(
        *by,
        F.least(
            F.lit(1.0),
            F.lit(float(budget)) * F.col("weight") / F.col("n_docs"),
        ).alias("rate"),
    )
    key = F.expr(shuffle_key_sql(seed, id_col))
    out = docs.join(F.broadcast(rates), list(by))
    return out.filter(
        key < F.floor(F.col("rate") * F.lit(float(P31))).cast("long")
    ).drop("rate")


def mixture_sample_sql(
    budget: int,
    alpha: float = 0.5,
    by: tuple[str, ...] = ("source", "lang"),
    seed: int = 7,
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
    select: str = "*",
) -> str:
    from pdal_spark.operators.relational import shuffle_key_sql

    keys = ", ".join(by)
    mix = source_mixture_sql(table, alpha, by, text)
    key = shuffle_key_sql(seed, f"d.{id_col}")
    return f"""
      WITH mix AS ({mix}),
      rates AS (
        SELECT {keys},
               least(1.0, {sql_double(budget, 'duckdb')} * weight / n_docs) AS rate
        FROM mix
      )
      SELECT {select}
      FROM {table} d JOIN rates USING ({keys})
      WHERE {key} < CAST(floor(rate * 2147483647.0) AS BIGINT)
    """


def weighted_sample(
    docs: DataFrame,
    k: int = 25,
    by: tuple[str, ...] = ("lang",),
    seed: int = 11,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """A-ES weighted sampling WITHOUT replacement, k per stratum
    (Efraimidis & Spirakis 2006): draw u ~ U(0,1] per doc, keep the k
    largest priorities u^(1/w) — inclusion probability proportional to
    weight w (token count), exactly the size-biased pick mixture_sample
    cannot give (Bernoulli thinning yields a BINOMIAL sample size;
    A-ES yields exactly k). u is the affine-cipher uniform over the
    Mersenne prime (deterministic in seed, independent of partitioning)
    and the per-stratum top-k runs through ordered.grouped_topk, so a
    mega-stratum never lands in one window task."""
    from pdal_spark.operators.ordered import grouped_topk
    from pdal_spark.operators.relational import shuffle_key_sql

    key = F.expr(shuffle_key_sql(seed, id_col))
    u = (key + F.lit(1)).cast("double") / F.lit(2147483648.0)  # (0, 1]
    w = F.size(F.split(F.col(text_col), " ")).cast("double")  # >= 1
    pri = F.pow(u, F.lit(1.0) / w)
    out = grouped_topk(
        docs.withColumn("_pri", pri),
        list(by),
        [F.col("_pri").desc(), F.col(id_col)],
        k,
    )
    return out.select(
        *by, id_col, F.round("_pri", 9).alias("priority")
    )


def weighted_sample_sql(
    k: int = 25,
    by: tuple[str, ...] = ("lang",),
    seed: int = 11,
    table: str = "documents",
    id_col: str = "doc_id",
    text: str = "text",
) -> str:
    from pdal_spark.operators.relational import shuffle_key_sql

    keys = ", ".join(by)
    skey = shuffle_key_sql(seed, id_col)
    return f"""
      WITH pri AS (
        SELECT {keys}, {id_col},
               pow(({skey} + 1) / 2147483648.0,
                   1.0 / len(string_split({text}, ' '))) AS p
        FROM {table}
      ),
      r AS (
        SELECT {keys}, {id_col}, p,
               row_number() OVER (PARTITION BY {keys}
                                  ORDER BY p DESC, {id_col}) AS rn
        FROM pri
      )
      SELECT {keys}, {id_col}, round(p, 9) AS priority
      FROM r WHERE rn <= {k}
    """


def split_assign(
    docs: DataFrame,
    fractions: dict[str, int] | None = None,
    by: tuple[str, ...] = ("lang",),
    seed: int = 7,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified train/val/test assignment with EXACT
    per-stratum counts (not expected counts): within each stratum,
    rows rank by the affine-cipher uniform (id tiebreak) and the split
    label falls out of integer rank cutoffs — stratum of size n gets
    exactly n*f_i // den rows of split i, remainder to the last split.

    ``fractions`` maps label -> integer numerator over the implicit
    common denominator sum(values) (default {train: 90, val: 5,
    test: 5}) — cross-multiplied rank comparisons keep everything in
    BIGINT, so the DuckDB twin is bit-exact and reruns/partitioning
    cannot move a single row between splits (the reproducibility
    property eval protocols need).

    Scale shape: one stratum exchange + a partitioned rank window and
    a 1-row-per-stratum count — strata (lang, source, ...) are few and
    fat, and the window computes only row_number, so the sort is the
    only cost; a global split (by=()) would be a single partition and
    should instead hash-bucket on the uniform directly (documented, not
    silently chosen)."""
    if not by:
        raise ValueError(
            "by=() would rank one global window; split on the uniform "
            "key directly (mixture_sample's Bernoulli form) instead"
        )
    from pdal_spark.operators.relational import shuffle_key_sql

    fractions = fractions or {"train": 90, "val": 5, "test": 5}
    labels = list(fractions)
    den = sum(fractions.values())
    cums = []
    acc = 0
    for lb in labels:
        acc += int(fractions[lb])
        cums.append(acc)
    key = F.expr(shuffle_key_sql(seed, id_col))
    w = Window.partitionBy(*by).orderBy(key.asc(), F.col(id_col).asc())
    cnt = Window.partitionBy(*by)
    rk = F.row_number().over(w).cast("long")
    n = F.count(F.lit(1)).over(cnt).cast("long")
    out = docs.withColumn("_rk", rk).withColumn("_n", n)
    # chained whens, smallest cutoff first — first match wins, like the
    # SQL CASE in the twin
    cond = None
    for lb, cum in zip(labels[:-1], cums[:-1]):
        c = F.col("_rk") * den <= F.col("_n") * cum
        cond = F.when(c, F.lit(lb)) if cond is None else cond.when(c, F.lit(lb))
    cond = (
        cond.otherwise(F.lit(labels[-1]))
        if cond is not None
        else F.lit(labels[-1])
    )
    return out.withColumn("split", cond).drop("_rk", "_n")


def split_assign_sql(
    fractions: dict[str, int] | None = None,
    by: tuple[str, ...] = ("lang",),
    seed: int = 7,
    table: str = "documents",
    id_col: str = "doc_id",
    select: str = "*",
) -> str:
    from pdal_spark.operators.relational import shuffle_key_sql

    fractions = fractions or {"train": 90, "val": 5, "test": 5}
    labels = list(fractions)
    den = sum(fractions.values())
    keys = ", ".join(by)
    key = shuffle_key_sql(seed, id_col)
    cases, acc = [], 0
    for lb in labels[:-1]:
        acc += int(fractions[lb])
        cases.append(f"WHEN _rk * {den} <= _n * {acc} THEN '{lb}'")
    case = "CASE " + " ".join(cases) + f" ELSE '{labels[-1]}' END"
    return (
        f"SELECT {select}, {case} AS split FROM ("
        f"  SELECT *,"
        f"    CAST(row_number() OVER (PARTITION BY {keys}"
        f"      ORDER BY {key}, {id_col}) AS BIGINT) AS _rk,"
        f"    CAST(count(*) OVER (PARTITION BY {keys}) AS BIGINT) AS _n"
        f"  FROM {table})"
    )
