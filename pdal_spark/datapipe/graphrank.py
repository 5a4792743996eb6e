"""Link-graph ranking: PageRank power iteration over an edge table.

Crawl-scale corpus curation ranks domains/pages by link authority
(Common Crawl publishes harmonic-centrality/PageRank rankings for
exactly this purpose — crawl prioritization and spam demotion); this is
the iterative-graph-computation family member of the datapipe, sibling
of the iterative k-means (simsearch) and ICP loops.

Semantics: damped PageRank on the node set ``src ∪ dst`` with dangling
mass redistributed uniformly (the textbook convention), computed in
FIXED-POINT integer micro-units (1 rank = 10^12 micro):

    R_{k+1}(v) = (1-d)·M div N  +  (p · (Σ_{u→v} R_k(u) div outdeg(u)
                                         + D_k div N)) div q

with damping d = p/q given as a rational (default 17/20 = 0.85),
M = 10^12, and D_k the summed rank of out-edge-less nodes. Every step
is exact BIGINT arithmetic — floating-point sums are accumulation-order
dependent and HALF_UP rounding differs at half-boundaries between
JVM BigDecimal and C-style scaling, so doubles can never hash-match
across engines on an iterative computation; integral div can and does.
The floor losses (≤1 micro per div) make total mass drift below 10^12
by parts-per-billion per iteration — irrelevant to ranking order and
identical in every engine.

Scale shape: one shuffle per iteration (contributions aggregate on
``dst``); the rank table joins edges on ``src``, so pre-partitioning
edges by src lets every iteration reuse the same partitioning. The
dangling mass and N ride as 1-row broadcast aggregates inside the plan
— no driver round-trip per iteration, nothing collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdal_spark.geo import sql_double

__all__ = [
    "pagerank", "pagerank_sql", "MICRO", "hits", "hits_sql", "HMICRO",
    "triangles", "triangles_sql",
    "harmonic_centrality", "harmonic_centrality_sql", "hyperball",
]

MICRO = 10**12  # 1.0 of rank, in integer micro-units


def pagerank(
    edges: DataFrame,
    n_iters: int = 4,
    damping: tuple[int, int] = (17, 20),
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """-> (node, rank_micro bigint, rank double): ``n_iters`` damped
    power iterations from the uniform start. Duplicate edges count once
    (set semantics, like the web graph's adjacency). ``rank`` is
    ``rank_micro / 1e12`` — presentation only; the computation and the
    cross-engine compare live in ``rank_micro``."""
    p, q = int(damping[0]), int(damping[1])
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("outd")
    )
    n_tbl = nodes.agg(F.count("*").alias("n"))

    ranks = nodes.crossJoin(F.broadcast(n_tbl)).select(
        "node", F.expr(f"CAST({MICRO} AS BIGINT) div n").alias("rm")
    )
    for _ in range(n_iters):
        r = ranks.join(deg, "node", "left")
        contrib = (
            r.filter(F.col("outd").isNotNull())
            .join(e, r["node"] == e["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("rm div outd")).alias("s"))
        )
        dang = r.agg(
            F.coalesce(
                F.sum(F.when(F.col("outd").isNull(), F.col("rm"))),
                F.lit(0).cast("long"),
            ).alias("m")
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .crossJoin(F.broadcast(n_tbl))
            .select(
                "node",
                F.expr(
                    f"CAST({(q - p)} AS BIGINT) * {MICRO} div ({q} * n)"
                    f" + {p} * (coalesce(s, CAST(0 AS BIGINT))"
                    f"          + m div n) div {q}"
                ).alias("rm"),
            )
        )
    return ranks.select(
        "node",
        F.col("rm").alias("rank_micro"),
        (F.col("rm") / F.lit(float(MICRO))).alias("rank"),
    )


def pagerank_sql(
    edges_sql: str,
    n_iters: int = 4,
    damping: tuple[int, int] = (17, 20),
) -> str:
    """DuckDB twin: identical unrolled integer iterations (``//`` is
    DuckDB's integral div == Spark's ``div`` on BIGINT; operands here
    are non-negative so floor == truncate and the engines agree)."""
    p, q = int(damping[0]), int(damping[1])
    parts = [
        f"WITH e AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "deg AS (SELECT src AS node, count(*) AS outd FROM e GROUP BY 1)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        f"r0 AS (SELECT node, CAST({MICRO} AS BIGINT) // n AS rm"
        f" FROM nodes CROSS JOIN nn)",
    ]
    for k in range(n_iters):
        prev, cur = f"r{k}", f"r{k + 1}"
        parts.append(
            f"{cur} AS ("
            f" SELECT nodes.node,"
            f"   CAST({q - p} AS BIGINT) * {MICRO} // ({q} * nn.n)"
            f"   + {p} * (coalesce(c.s, CAST(0 AS BIGINT))"
            f"            + dg.m // nn.n) // {q} AS rm"
            f" FROM nodes"
            f" LEFT JOIN (SELECT e.dst AS node, sum(p.rm // deg.outd) AS s"
            f"            FROM e JOIN {prev} p ON e.src = p.node"
            f"            JOIN deg ON deg.node = e.src"
            f"            GROUP BY e.dst) c ON nodes.node = c.node"
            f" CROSS JOIN (SELECT coalesce(sum(p.rm), 0) AS m"
            f"             FROM {prev} p"
            f"             WHERE p.node NOT IN (SELECT node FROM deg)) dg"
            f" CROSS JOIN nn)"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT node, CAST(rm AS BIGINT) AS rank_micro,"
        f" rm / {float(MICRO)} AS rank FROM r{n_iters}"
    )


HMICRO = 10**9  # HITS unit: keeps a'·HMICRO <= 10^18 < 2^63 (no overflow)


def hits(
    edges: DataFrame,
    n_iters: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) in exact fixed-point
    integers: auth'(v) = sum of hub over in-edges, hub'(u) = sum of auth
    over out-edges, each side L1-normalized to HMICRO total by integral
    div every half-step. L1 (not the textbook L2) keeps every operation
    in BIGINT — the normalization constant is scale-invariant for the
    RANKING, and makes the unrolled DuckDB twin bit-exact the same way
    pagerank's micro-units do. Two exchanges per iteration (one per
    side) — the HITS data flow minimum; sums ride as 1-row broadcast
    aggregates, nothing collected."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .persist()  # referenced twice per iteration
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_tbl = nodes.agg(F.count("*").alias("n"))
    hubs = nodes.crossJoin(F.broadcast(n_tbl)).select(
        "node", F.expr(f"CAST({HMICRO} AS BIGINT) div n").alias("h")
    )
    # Unlike pagerank's single-join recurrence, each HITS half-step
    # feeds BOTH the next join and its own normalizing sum — the
    # logical plan would grow 4^k and Catalyst analysis time with it
    # (measured: 8 s at 2 iterations, 48 s at 3, unusable at 4).
    # localCheckpoint() per iteration truncates lineage to the
    # materialized 1-row-per-node result — the standard per-iteration
    # materialization of distributed iterative graph engines (GraphX
    # does exactly this); on a real cluster checkpoint() to reliable
    # storage restores fault tolerance.
    auth = None
    for _ in range(n_iters):
        a_raw = (
            e.join(hubs, e["src"] == hubs["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").alias("ar"))
            .persist()  # referenced by the join AND the sum below
        )
        s_a = a_raw.agg(F.sum("ar").alias("sa"))
        auth = (
            nodes.join(a_raw, "node", "left")
            .crossJoin(F.broadcast(s_a))
            .select(
                "node",
                F.expr(
                    f"coalesce(ar, CAST(0 AS BIGINT)) * {HMICRO} div sa"
                ).alias("a"),
            )
            .localCheckpoint()
        )
        h_raw = (
            e.join(auth, e["dst"] == auth["node"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a").alias("hr"))
            .persist()
        )
        s_h = h_raw.agg(F.sum("hr").alias("sh"))
        hubs = (
            nodes.join(h_raw, "node", "left")
            .crossJoin(F.broadcast(s_h))
            .select(
                "node",
                F.expr(
                    f"coalesce(hr, CAST(0 AS BIGINT)) * {HMICRO} div sh"
                ).alias("h"),
            )
            .localCheckpoint()
        )
    return (
        nodes.join(auth, "node", "left")
        .join(hubs, "node", "left")
        .select(
            "node",
            F.col("a").alias("auth_micro"),
            F.col("h").alias("hub_micro"),
            (F.col("a") / F.lit(float(HMICRO))).alias("authority"),
            (F.col("h") / F.lit(float(HMICRO))).alias("hub"),
        )
    )


def hits_sql(edges_sql: str, n_iters: int = 4) -> str:
    """DuckDB twin: identical unrolled integer half-steps. Every
    half-step is a MATERIALIZED CTE — referenced twice (join +
    normalizing sum), inlining would re-evaluate the whole prefix and
    the query cost would grow 4^k."""
    parts = [
        f"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        f"h0 AS MATERIALIZED (SELECT node, CAST({HMICRO} AS BIGINT) // n AS h"
        f" FROM nodes CROSS JOIN nn)",
    ]
    for k in range(n_iters):
        ph, ca, ch = f"h{k}", f"a{k + 1}", f"h{k + 1}"
        parts.append(
            f"ar{k + 1} AS MATERIALIZED ("
            f" SELECT e.dst AS node, sum(p.h) AS ar FROM e"
            f" JOIN {ph} p ON e.src = p.node GROUP BY e.dst)"
        )
        parts.append(
            f"{ca} AS MATERIALIZED ("
            f" SELECT nodes.node,"
            f"  coalesce(r.ar, CAST(0 AS BIGINT)) * {HMICRO}"
            f"   // (SELECT sum(ar) FROM ar{k + 1}) AS a"
            f" FROM nodes LEFT JOIN ar{k + 1} r ON nodes.node = r.node)"
        )
        parts.append(
            f"hr{k + 1} AS MATERIALIZED ("
            f" SELECT e.src AS node, sum(p.a) AS hr FROM e"
            f" JOIN {ca} p ON e.dst = p.node GROUP BY e.src)"
        )
        parts.append(
            f"{ch} AS MATERIALIZED ("
            f" SELECT nodes.node,"
            f"  coalesce(r.hr, CAST(0 AS BIGINT)) * {HMICRO}"
            f"   // (SELECT sum(hr) FROM hr{k + 1}) AS h"
            f" FROM nodes LEFT JOIN hr{k + 1} r ON nodes.node = r.node)"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        # CAST: the half-step chain widens to HUGEINT (sum → * → //);
        # Spark emits LongType and the driver hash is dtype-sensitive.
        f"SELECT nodes.node, CAST(a.a AS BIGINT) AS auth_micro,"
        f" CAST(h.h AS BIGINT) AS hub_micro,"
        f" a.a / {float(HMICRO)} AS authority,"
        f" h.h / {float(HMICRO)} AS hub"
        f" FROM nodes JOIN a{n_iters} a ON nodes.node = a.node"
        f" JOIN h{n_iters} h ON nodes.node = h.node"
    )


def triangles(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-vertex triangle counts of the UNDIRECTED simple graph under
    ``edges`` (self-loops dropped, direction and duplicates collapsed)
    — the web-graph cohesion/spam-farm signal (link farms are
    triangle-dense; Becchetti et al., "Efficient semi-streaming
    algorithms for local triangle counting").

    Scale shape — degree orientation (the standard shuffle-safe form):
    orient every edge from its (degree, id)-smaller endpoint to the
    larger, which bounds every out-neighborhood by O(sqrt(m)) no matter
    how big a hub's raw degree is; wedges come from the self-join of
    the ORIENTED edges (hub explosion impossible by construction), and
    each triangle is counted exactly once at its unique minimum-rank
    apex, then credited to all three corners. Exchanges: degree agg,
    two degree joins, the wedge self-join, the closing-edge join, one
    final corner rollup — all on vertex/edge keys, nothing global.

    Returns (vertex, n_triangles) for vertices in >= 1 triangle.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("x"))
        .unionByName(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # rank = (degree, id) lexicographic — a total order, ties impossible
    ranked = (
        e.join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
    )
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(lo_first, F.col("du")).otherwise(F.col("dv")).alias("da"),
        F.when(lo_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    )
    # wedges at apex a: unordered {b, c} pairs of a's out-neighborhood,
    # emitted in rank order so the closing edge is probed one way only
    w1 = oriented.select("a", F.col("b").alias("p"), F.col("db").alias("dp"))
    w2 = oriented.select("a", F.col("b").alias("q"), F.col("db").alias("dq"))
    p_first = (F.col("dp") < F.col("dq")) | (
        (F.col("dp") == F.col("dq")) & (F.col("p") < F.col("q"))
    )
    wedges = w1.join(w2, "a").filter(p_first).select(
        "a", F.col("p").alias("b"), F.col("q").alias("c")
    )
    closing = oriented.select(
        F.col("a").alias("b"), F.col("b").alias("c")
    )
    tri = wedges.join(closing, ["b", "c"])
    corners = (
        tri.select(F.col("a").alias("vertex"))
        .unionByName(tri.select(F.col("b").alias("vertex")))
        .unionByName(tri.select(F.col("c").alias("vertex")))
    )
    return corners.groupBy("vertex").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def triangles_sql(edges_sql: str) -> str:
    """DuckDB twin — the orientation-free exact form: triangles are the
    (u < v < w) id-ordered closed triples of the canonical edge set;
    corners credited via a 3-way UNION ALL."""
    return (
        f"WITH raw AS ({edges_sql}),"
        f"e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v"
        f"      FROM raw WHERE src <> dst),"
        f"tri AS ("
        f"  SELECT e1.u AS a, e1.v AS b, e2.v AS c"
        f"  FROM e e1 JOIN e e2 ON e2.u = e1.v"
        f"  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)"
        f"SELECT vertex, count(*) AS n_triangles FROM ("
        f"  SELECT a AS vertex FROM tri"
        f"  UNION ALL SELECT b FROM tri"
        f"  UNION ALL SELECT c FROM tri) GROUP BY vertex"
    )


def _lcm_upto(k: int) -> int:
    import math

    out = 1
    for i in range(2, k + 1):
        out = out * i // math.gcd(out, i)
    return out


def harmonic_centrality(
    edges: DataFrame, radius: int = 4, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Bounded-radius harmonic centrality H_r(v) = sum over u with
    0 < d(u, v) <= r of 1/d(u, v) — the crawl-authority ranking Common
    Crawl actually publishes for its host graph (Boldi & Vigna,
    "Axioms for centrality": harmonic is the in-path centrality that
    handles disconnected graphs).

    Exactness: contributions are weighted lcm(1..r)/d — INTEGER for
    every level — so `h_num` is an exact BIGINT sum (`harmonic` =
    h_num/lcm is the familiar float, derived once at the end). The
    DuckDB twin replays the same BFS layering with EXCEPT, bit-exact.

    Scale shape: classic BFS frontier layering — level d pairs =
    (level d-1 extended by one edge) anti-join everything seen — one
    join + one anti-join exchange per level, `localCheckpoint` per
    level (the HITS/GraphX lineage-truncation pattern). The pair table
    is the radius-r ball, O(n · |B_r|) rows: exact is the
    small-diameter / moderate-fan-out regime; at open-web scale the
    drop-in replacement is HyperBall (Boldi & Vigna 2013) — the SAME
    iteration with the exact pair set replaced by per-node HLL
    registers (union = elementwise max), which `kmv/hll` in
    datapipe/sketch.py already provides the algebra for. Exact mode is
    also the oracle HyperBall would be validated against.
    """
    lcm = _lcm_upto(radius)
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    e2 = e.select(F.col("u").alias("_x"), F.col("v").alias("_y"))
    cur = e.localCheckpoint()  # exact-distance-1 pairs
    seen = cur
    out = cur.select("v", F.lit(lcm).cast("long").alias("w"))
    for d in range(2, radius + 1):
        ext = (
            cur.join(e2, cur["v"] == e2["_x"])
            .select("u", F.col("_y").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        nxt = ext.join(seen, ["u", "v"], "left_anti").localCheckpoint()
        seen = seen.unionByName(nxt).localCheckpoint()
        out = out.unionByName(
            nxt.select("v", F.lit(lcm // d).cast("long").alias("w"))
        )
        cur = nxt
    res = out.groupBy(F.col("v").alias("node")).agg(
        F.sum("w").alias("h_num")
    )
    return res.select(
        "node", "h_num", (F.col("h_num") / F.lit(float(lcm))).alias("harmonic")
    )


def harmonic_centrality_sql(edges_sql: str, radius: int = 4) -> str:
    """DuckDB twin — the identical BFS layering, unrolled: level d =
    one-edge extension of level d-1 EXCEPT all earlier levels."""
    lcm = _lcm_upto(radius)
    ctes = [
        f"e AS MATERIALIZED (SELECT DISTINCT src AS u, dst AS v"
        f" FROM ({edges_sql}) WHERE src <> dst)",
        "l1 AS MATERIALIZED (SELECT u, v FROM e)",
    ]
    for d in range(2, radius + 1):
        prev = " UNION ALL ".join(
            f"SELECT u, v FROM l{i}" for i in range(1, d)
        )
        ctes.append(
            f"l{d} AS MATERIALIZED ("
            f"SELECT DISTINCT p.u, e.v FROM l{d-1} p JOIN e ON e.u = p.v"
            f" WHERE p.u <> e.v EXCEPT ({prev}))"
        )
    unions = " UNION ALL ".join(
        f"SELECT v, CAST({lcm // d} AS BIGINT) AS w FROM l{d}"
        for d in range(1, radius + 1)
    )
    return (
        "WITH " + ", ".join(ctes) +
        f" SELECT v AS node, CAST(sum(w) AS BIGINT) AS h_num,"
        f" sum(w) / {sql_double(lcm, 'duckdb')} AS harmonic"
        f" FROM ({unions}) GROUP BY v"
    )


def hyperball(
    edges: DataFrame,
    radius: int = 4,
    m: int = 64,
    seed: int = 7,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013): approximate per-node ball sizes
    |B_t(v)| (nodes reaching v within t hops, v included) and the
    harmonic-centrality estimate sum_t (|B_t|-|B_{t-1}|)/t — the
    open-web-scale twin of `harmonic_centrality`, which materializes
    the exact pair table this replaces.

    State per node is m HLL registers (5-bit maxes), NEVER a pair set:
    regs_t(v) = elementwise-max(regs_{t-1}(v), regs_{t-1}(u) for u->v).
    One (edges join + dst-keyed groupBy of m map-side-combining maxes)
    exchange per hop + localCheckpoint (the iterative-graph lineage
    pattern shared with hits/pagerank). 100 TB shape: O(n·m) state
    total, independent of ball sizes — exactly why Boldi & Vigna could
    run it on 10^9-node web graphs on one box.

    Register/estimator algebra is `sketch.hll_sketch`'s (affine-cipher
    hash, exact dyadic register sums, linear-counting small-range
    correction), so estimates are deterministic and replayable; the
    exact `harmonic_centrality` is the validation oracle (tested).
    Returns (node, est_ball_r double, harmonic_est double).
    """
    from pdal_spark.datapipe.sketch import _alpha

    if m & (m - 1) or m < 2:
        raise ValueError("m must be a power of two >= 2")
    hi_bits = 31 - m.bit_length() + 1
    mc = [f"_m{j}" for j in range(m)]

    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    # xxhash64, folded to 31 bits: sequential node ids must scatter
    # across registers — the affine-cipher hash (fine for value
    # sketches over wide domains) is too structured here: without
    # wraparound, idx/rho of consecutive ids are correlated and the
    # estimator biases ~2x its nominal stderr (measured). No SQL twin
    # needs replaying this, so the non-portable hash is free.
    h = F.pmod(F.xxhash64(F.col("node"), F.lit(seed)), F.lit(2**31))
    idx = (h % m).cast("int")
    rest = (h / m).cast("long")
    rho = F.when(rest == 0, F.lit(hi_bits + 1)).otherwise(
        F.lit(hi_bits + 1) - F.length(F.conv(rest, 10, 2))
    )
    regs = nodes.select(
        "node",
        *[
            F.when(idx == j, rho).otherwise(F.lit(0)).cast("int").alias(c)
            for j, c in enumerate(mc)
        ],
    ).localCheckpoint()

    def _est():
        ssum = sum(
            (F.lit(1.0) / F.pow(F.lit(2.0), F.col(c)) for c in mc), F.lit(0.0)
        )
        zeros = sum(
            (F.when(F.col(c) == 0, 1).otherwise(0) for c in mc), F.lit(0)
        )
        raw = F.lit(_alpha(m) * m * m) / ssum
        return F.when(
            (raw <= 2.5 * m) & (zeros > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
        ).otherwise(raw)

    # per-hop estimates ride ALONG in the iterated frame (est_t columns
    # survive each localCheckpoint) — no end-of-loop (radius+1)-way join
    regs = regs.withColumn("est_0", _est())
    for t in range(1, radius + 1):
        r = regs.select("node", *mc)
        nbr = (
            e.join(r, e["u"] == r["node"])
            .groupBy(F.col("v").alias("node"))
            .agg(*[F.max(c).alias(f"_n{j}") for j, c in enumerate(mc)])
        )
        regs = (
            regs.join(nbr, "node", "left")
            .select(
                "node",
                *[
                    F.greatest(
                        F.col(c), F.coalesce(F.col(f"_n{j}"), F.lit(0))
                    ).alias(c)
                    for j, c in enumerate(mc)
                ],
                *[F.col(f"est_{i}") for i in range(t)],
            )
            .withColumn(f"est_{t}", _est())
            .localCheckpoint()
        )

    out = regs
    harm = sum(
        (
            (F.col(f"est_{t}") - F.col(f"est_{t-1}")) / F.lit(float(t))
            for t in range(1, radius + 1)
        ),
        F.lit(0.0),
    )
    return out.select(
        "node",
        F.round(F.col(f"est_{radius}"), 6).alias("est_ball_r"),
        F.round(harm, 6).alias("harmonic_est"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[int],
    n_iters: int = 4,
    damping: tuple[int, int] = (17, 20),
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Topic-sensitive / personalized PageRank (Haveliwala 2002): the
    teleport vector concentrates on ``seeds`` (uniform over the set)
    instead of the whole graph — "importance as seen from these pages".
    Same exact integer fixed-point as :func:`pagerank` (micro-units,
    BIGINT div), so the DuckDB twin is hash-green; dangling mass also
    returns to the seeds, keeping total rank conserved.

    Seeds ride as a broadcast literal — personalization sets are small
    (topic seeds, a user's domains) by construction; the per-iteration
    plan is the same single combinable src-keyed contribution aggregate
    as the global walk. -> (node, rank_micro, rank)."""
    if not seeds:
        raise ValueError("seeds must be non-empty")
    p, q = int(damping[0]), int(damping[1])
    ns = len(seeds)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("outd"))
    is_seed = F.col("node").isin([int(x) for x in seeds]).cast("int")

    ranks = nodes.select(
        "node",
        (is_seed.cast("long") * F.lit(MICRO // ns)).alias("rm"),
    )
    for _ in range(n_iters):
        r = ranks.join(deg, "node", "left")
        contrib = (
            r.filter(F.col("outd").isNotNull())
            .join(e, r["node"] == e["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("rm div outd")).alias("s"))
        )
        dang = r.agg(
            F.coalesce(
                F.sum(F.when(F.col("outd").isNull(), F.col("rm"))),
                F.lit(0).cast("long"),
            ).alias("m")
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .withColumn("isd", is_seed)
            .select(
                "node",
                F.expr(
                    f"CASE WHEN isd = 1 THEN"
                    f" CAST({(q - p) * MICRO} AS BIGINT) div {q * ns}"
                    f" ELSE CAST(0 AS BIGINT) END"
                    f" + {p} * (coalesce(s, CAST(0 AS BIGINT))"
                    f" + CASE WHEN isd = 1 THEN m div {ns}"
                    f"   ELSE CAST(0 AS BIGINT) END) div {q}"
                ).alias("rm"),
            )
        )
    return ranks.select(
        "node",
        F.col("rm").alias("rank_micro"),
        (F.col("rm") / F.lit(float(MICRO))).alias("rank"),
    )


def personalized_pagerank_sql(
    edges_sql: str,
    seeds: list[int],
    n_iters: int = 4,
    damping: tuple[int, int] = (17, 20),
) -> str:
    """DuckDB twin of :func:`personalized_pagerank` — identical unrolled
    integer iterations (same argument as pagerank_sql)."""
    p, q = int(damping[0]), int(damping[1])
    ns = len(seeds)
    seed_list = ", ".join(str(int(x)) for x in seeds)
    parts = [
        f"WITH e AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "deg AS (SELECT src AS node, count(*) AS outd FROM e GROUP BY 1)",
        f"r0 AS (SELECT node, CASE WHEN node IN ({seed_list})"
        f" THEN CAST({MICRO // ns} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END AS rm FROM nodes)",
    ]
    for k in range(n_iters):
        prev, cur = f"r{k}", f"r{k + 1}"
        parts.append(
            f"{cur} AS ("
            f" SELECT nodes.node,"
            f"   CASE WHEN nodes.node IN ({seed_list})"
            f"     THEN CAST({(q - p) * MICRO} AS BIGINT) // {q * ns}"
            f"     ELSE CAST(0 AS BIGINT) END"
            f"   + {p} * (coalesce(c.s, CAST(0 AS BIGINT))"
            f"     + CASE WHEN nodes.node IN ({seed_list})"
            f"       THEN dg.m // {ns} ELSE CAST(0 AS BIGINT) END) // {q} AS rm"
            f" FROM nodes"
            f" LEFT JOIN (SELECT e.dst AS node, sum(p.rm // deg.outd) AS s"
            f"            FROM e JOIN {prev} p ON e.src = p.node"
            f"            JOIN deg ON deg.node = e.src"
            f"            GROUP BY e.dst) c ON nodes.node = c.node"
            f" CROSS JOIN (SELECT coalesce(sum(p.rm), 0) AS m"
            f"             FROM {prev} p"
            f"             WHERE p.node NOT IN (SELECT node FROM deg)) dg)"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT node, CAST(rm AS BIGINT) AS rank_micro,"
        f" rm / {float(MICRO)} AS rank FROM r{n_iters}"
    )


def label_propagation(
    edges: DataFrame,
    n_iters: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation communities (Raghavan et al. 2007)
    over the undirected view of the link graph: every node starts as
    its own label; each round adopts the most frequent label among
    neighbors, ties to the SMALLEST label — fully deterministic, so the
    unrolled DuckDB twin is hash-green (no the-usual-LPA randomness).
    Isolated-in-round nodes keep their label.

    Plan per round: one groupBy (node, label) count exchange + one
    per-node window (partitions are single nodes' label histograms —
    tiny by construction, never global). Synchronous updates can
    oscillate on bipartite structures; n_iters is a fixed budget and
    the twin replays the same trajectory, oscillation included.
    -> (node, label)."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    und = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    nodes = und.select(F.col("a").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    from pyspark.sql import Window

    for _ in range(n_iters):
        hist = (
            und.join(
                labels.select(
                    F.col("node").alias("b"), F.col("label").alias("nl")
                ),
                "b",
            )
            .groupBy(F.col("a").alias("node"), F.col("nl"))
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("c").desc(), F.col("nl").asc()
        )
        pick = (
            hist.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", F.col("nl").alias("new_label"))
        )
        labels = (
            nodes.join(labels, "node")
            .join(pick, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
        )
    return labels


def label_propagation_sql(
    edges_sql: str, n_iters: int = 4
) -> str:
    """DuckDB twin: identical unrolled deterministic rounds."""
    parts = [
        f"WITH e0 AS (SELECT src AS a, dst AS b FROM ({edges_sql})"
        f" WHERE src <> dst)",
        "und AS (SELECT DISTINCT a, b FROM"
        " (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0))",
        "nodes AS (SELECT DISTINCT a AS node FROM und)",
        "l0 AS (SELECT node, node AS label FROM nodes)",
    ]
    for k in range(n_iters):
        prev, cur = f"l{k}", f"l{k + 1}"
        parts.append(
            f"{cur} AS ("
            f" SELECT nodes.node,"
            f"  coalesce(p.new_label, q.label) AS label"
            f" FROM nodes"
            f" JOIN {prev} q ON q.node = nodes.node"
            f" LEFT JOIN ("
            f"   SELECT node, nl AS new_label FROM ("
            f"     SELECT und.a AS node, l.label AS nl, count(*) AS c,"
            f"       row_number() OVER (PARTITION BY und.a"
            f"         ORDER BY count(*) DESC, l.label ASC) AS rn"
            f"     FROM und JOIN {prev} l ON und.b = l.node"
            f"     GROUP BY und.a, l.label)"
            f"   WHERE rn = 1) p ON p.node = nodes.node)"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\nSELECT node, CAST(label AS BIGINT) AS label"
        f" FROM l{n_iters}"
    )


def kcore(
    edges: DataFrame,
    k: int = 3,
    n_rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core peeling over the undirected simple graph: repeatedly drop
    nodes with degree < k; survivors after a fixed ``n_rounds`` budget
    (web-spam / link-farm cohesion analysis — the k-core is where
    dense reciprocal link structure concentrates, Seidman 1983).

    Deterministic synchronous peel, so the unrolled DuckDB twin replays
    the identical trajectory; a fixpoint certificate column reports
    whether the LAST round still removed nodes (consumers see an
    unconverged budget instead of silently trusting it). Plan per
    round: one semi-join degree aggregate — no windows.
    -> (node, degree, converged)."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    und = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    live = und.select(F.col("a").alias("node")).distinct()
    deg = None
    for i in range(n_rounds):
        sub = (
            und.join(live.select(F.col("node").alias("a")), "a")
            .join(live.select(F.col("node").alias("b")), "b")
        )
        deg = sub.groupBy(F.col("a").alias("node")).agg(
            F.count("*").alias("degree")
        )
        nxt = deg.filter(F.col("degree") >= k).select("node")
        if i < n_rounds - 1:
            live = nxt
            # truncate lineage growth across rounds
            live = live.localCheckpoint(eager=False)
    # converged iff the last filter removed nothing
    n_before = deg.count()
    survivors = deg.filter(F.col("degree") >= k)
    converged = survivors.count() == n_before
    return survivors.withColumn("converged", F.lit(bool(converged)))


def kcore_sql(edges_sql: str, k: int = 3, n_rounds: int = 6) -> str:
    """DuckDB twin: identical unrolled peel rounds."""
    parts = [
        f"WITH e0 AS (SELECT src AS a, dst AS b FROM ({edges_sql})"
        f" WHERE src <> dst)",
        "und AS (SELECT DISTINCT a, b FROM"
        " (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0))",
        "live0 AS (SELECT DISTINCT a AS node FROM und)",
    ]
    for i in range(n_rounds):
        parts.append(
            f"deg{i} AS (SELECT und.a AS node, count(*) AS degree"
            f" FROM und"
            f" JOIN live{i} la ON la.node = und.a"
            f" JOIN live{i} lb ON lb.node = und.b"
            f" GROUP BY und.a)"
        )
        parts.append(
            f"live{i + 1} AS (SELECT node FROM deg{i} WHERE degree >= {k})"
        )
    last = n_rounds - 1
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT d.node, CAST(d.degree AS BIGINT) AS degree,"
        f" (SELECT count(*) FROM live{last + 1})"
        f"   = (SELECT count(*) FROM deg{last}) AS converged\n"
        f"FROM deg{last} d WHERE d.degree >= {k}"
    )


def cocitation(
    edges: DataFrame,
    mode: str = "cocitation",
    min_count: int = 2,
    max_degree: int = 1000,
) -> DataFrame:
    """Co-citation (Small 1973: pages cited TOGETHER are related) or
    bibliographic coupling (Kessler 1963: pages CITING the same things
    are related) over the link graph — the classic relatedness pair
    measures behind "related pages" and link-farm detection.

    mode="cocitation": pairs of DSTs sharing a src, counted over
    distinct citing pages; mode="coupling": pairs of SRCs sharing a
    dst. The join key's degree bounds the pair fan-out quadratically,
    so keys above max_degree are DROPPED before the self-join (the
    hub guard — a nav-bar page linking 10^5 targets, or a dst cited
    by the whole web, would otherwise explode the bucket; same
    contract as winnow_pairs' max_df). One (key)-bucketed self-join +
    one pair-count exchange; dedup via id_a < id_b.

    Output: (id_a, id_b, n_shared) with n_shared >= min_count.
    """
    if mode == "cocitation":
        key, val = "src", "dst"
    elif mode == "coupling":
        key, val = "dst", "src"
    else:
        raise ValueError("mode must be 'cocitation' or 'coupling'")
    e = edges.select(key, val).filter(F.col("src") != F.col("dst")).distinct()
    ok = (
        e.groupBy(key)
        .agg(F.count("*").alias("deg"))
        .filter(F.col("deg") <= max_degree)
        .select(key)
    )
    e = e.join(ok, key)
    a = e.select(key, F.col(val).alias("id_a"))
    b = e.select(key, F.col(val).alias("id_b"))
    return (
        a.join(b, key)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_count)
    )


def cocitation_sql(
    edges_sql: str,
    mode: str = "cocitation",
    min_count: int = 2,
    max_degree: int = 1000,
) -> str:
    """DuckDB twin of cocitation()."""
    key, val = ("src", "dst") if mode == "cocitation" else ("dst", "src")
    return f"""
WITH e AS (
  SELECT DISTINCT {key} AS k, {val} AS v
  FROM ({edges_sql}) WHERE src <> dst
),
ok AS (SELECT k FROM e GROUP BY k HAVING count(*) <= {int(max_degree)})
SELECT a.v AS id_a, b.v AS id_b, CAST(count(*) AS BIGINT) AS n_shared
FROM e a JOIN ok USING (k) JOIN e b USING (k)
WHERE a.v < b.v
GROUP BY 1, 2
HAVING count(*) >= {int(min_count)}
""".strip()


def adamic_adar(
    edges: DataFrame,
    min_score_mu: int = 1,
    max_degree: int = 1000,
) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003, "Friends and
    neighbors on the Web"): candidate pairs scored by their shared
    neighbors, rare neighbors weighted up —

        AA(a, b) = Σ_{z ∈ Γ(a) ∩ Γ(b)} 1 / ln(deg(z))

    over the UNDIRECTED graph. The score predicts missing links
    (related-page suggestion, link-farm cohesion).

    Hash-exactness: the per-z weight is quantized ONCE to integer
    micro-units (round(1e6/ln deg) — single libm call + HALF_UP), so
    the per-pair sum is an exact BIGINT (order-free across the shuffle,
    the pagerank fixed-point contract); score = sum/1e6 at the end.
    Degree-1 neighbors (ln deg = 0) contribute to no pair by
    construction. Hub guard: z above max_degree dropped BEFORE the
    pair join (quadratic fan-out bound, the cocitation contract).

    Output: (id_a, id_b, n_shared, aa_mu, aa_score), aa_mu the exact
    integer micro-unit sum, rows with aa_mu >= min_score_mu.
    """
    e0 = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    und = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    # und: (node, neighbor z); deg(z) = z's neighbor count
    deg = und.groupBy("dst").agg(F.count("*").alias("deg"))
    wz = (
        deg.filter((F.col("deg") > 1) & (F.col("deg") <= max_degree))
        .select(
            F.col("dst").alias("z"),
            F.round(
                F.lit(1_000_000.0) / F.log(F.col("deg").cast("double"))
            )
            .cast("long")
            .alias("w_mu"),
        )
    )
    e = und.select(F.col("dst").alias("z"), F.col("src").alias("node")).join(
        wz, "z"
    )
    a = e.select("z", "w_mu", F.col("node").alias("id_a"))
    b = e.select("z", F.col("node").alias("id_b"))
    return (
        a.join(b, "z")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("n_shared"),
            F.sum("w_mu").alias("aa_mu"),
        )
        .filter(F.col("aa_mu") >= min_score_mu)
        .withColumn(
            "aa_score",
            F.round(F.col("aa_mu").cast("double") / 1_000_000.0, 6),
        )
    )


def adamic_adar_sql(
    edges_sql: str,
    min_score_mu: int = 1,
    max_degree: int = 1000,
) -> str:
    """DuckDB twin: identical micro-unit quantization and guards."""
    return f"""
WITH e0 AS (SELECT src, dst FROM ({edges_sql}) WHERE src <> dst),
und AS (
  SELECT DISTINCT src, dst FROM
  (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)
),
deg AS (SELECT dst, count(*) AS deg FROM und GROUP BY dst),
wz AS (
  SELECT dst AS z,
         CAST(round(1000000.0 / ln(CAST(deg AS DOUBLE))) AS BIGINT)
           AS w_mu
  FROM deg WHERE deg > 1 AND deg <= {int(max_degree)}
),
e AS (
  SELECT und.dst AS z, w_mu, und.src AS node
  FROM und JOIN wz ON und.dst = wz.z
)
SELECT a.node AS id_a, b.node AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared,
       CAST(sum(a.w_mu) AS BIGINT) AS aa_mu,
       round(CAST(CAST(sum(a.w_mu) AS BIGINT) AS DOUBLE) / 1000000.0, 6)
         AS aa_score
FROM e a JOIN e b USING (z)
WHERE a.node < b.node
GROUP BY 1, 2
HAVING CAST(sum(a.w_mu) AS BIGINT) >= {int(min_score_mu)}
""".strip()
