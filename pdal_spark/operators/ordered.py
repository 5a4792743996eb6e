"""Distributed total-order primitives.

PDAL semantics are frequently defined over a global scan order (arrival
index, stable sort rank, running line counters). The naive Spark
encoding — ``row_number() OVER (ORDER BY ...)`` with no PARTITION BY —
funnels the entire dataset through ONE task ("Moving all data to a
single partition"), a scale-killer at 10^12 rows.

The exact distributed equivalent implemented here is the classic
range-partition + offset scheme (the same plan Spark uses internally for
a global sort, plus a tiny offsets side-table):

  1. ``repartitionByRange`` on the order keys — partition p holds a
     contiguous key range, p < q  =>  every key in p sorts before q.
  2. per-partition local rank / local prefix-sum — a window PARTITIONED
     by the range-partition id (parallel across partitions, JVM-side).
  3. per-partition counts/totals (one tiny aggregate, #partitions rows)
     turned into exclusive prefix offsets on the driver and applied as a
     literal map lookup — global = offset[pid] + local.

Cost: one range shuffle + one pid-hash shuffle + an O(#partitions)
aggregate. Wall-clock scales with cores; no single-task stage.

The order keys must totally order the rows (callers append an arrival
tiebreak column) — this is what makes the result deterministic and
independent of the sampled range boundaries.

Small-input fast path: the three-exchange scheme costs ~1 s of fixed
overhead (persist + counts job + two shuffles) that dwarfs a small
input's actual sort. When Catalyst's plan-time size estimate
(optimizedPlan().stats.sizeInBytes — no job, no scan) is under
``SMALL_BYTES``, the primitives instead run one window partitioned by a
constant — a single sorted task, which is exactly right for an input
that fits one task, and produces identical ranks (same total order
keys). Inputs whose stats are unknown or above the threshold always
take the distributed shape, so the 10^12-row plan census is unaffected.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "_ord_pid"

SMALL_BYTES = 64 << 20


def _is_small(df: DataFrame) -> bool:
    """Plan-time size gate against SMALL_BYTES, read at call time (never
    runs a job). Conservative: any failure to estimate counts as big.
    PDAL_SPARK_FORCE_DISTRIBUTED=1 pins the distributed shape regardless
    of size — the plan census (tests/test_planshape.py,
    tools/plan_metrics.py) audits plans in the shape they would have at
    scale, not the small-input one."""
    import os

    if os.environ.get("PDAL_SPARK_FORCE_DISTRIBUTED"):
        return False
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return False
    return 0 <= est <= SMALL_BYTES


def _range_partitioned(
    df: DataFrame, keys: list[Column], num_partitions: int | None
) -> DataFrame:
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartitionByRange(n, *keys)
        .withColumn(_PID, F.spark_partition_id())
        .persist()
    )


def _offset_expr(per_pid: list[tuple[int, int]]) -> Column:
    """Literal pid -> exclusive-prefix-offset map (#partitions entries)."""
    offs: list[Column] = []
    acc = 0
    for pid, total in sorted(per_pid):
        offs += [F.lit(pid), F.lit(acc)]
        acc += int(total)
    if not offs:
        return F.lit(0).cast("long")
    return F.coalesce(
        F.create_map(*offs)[F.col(_PID)].cast("long"), F.lit(0).cast("long")
    )


def global_rank(
    df: DataFrame,
    keys: list[Column],
    out_col: str = "rank",
    zero_based: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``row_number() OVER (ORDER BY keys)`` without the
    single-task global window. ``keys`` must totally order the rows."""
    if _is_small(df):
        w = Window.partitionBy(F.lit(0)).orderBy(*keys)
        rank = F.row_number().over(w).cast("long") - (
            1 if zero_based else 0
        )
        return df.withColumn(out_col, rank)
    work = _range_partitioned(df, keys, num_partitions)
    counts = work.groupBy(_PID).count().collect()
    base = F.row_number().over(Window.partitionBy(_PID).orderBy(*keys))
    rank = (
        base.cast("long")
        + _offset_expr([(r[_PID], r["count"]) for r in counts])
        - (1 if zero_based else 0)
    )
    return work.withColumn(out_col, rank).drop(_PID)


def prefix_sums(
    df: DataFrame,
    keys: list[Column],
    values: dict[str, Column],
    inclusive: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global prefix sums of several DOUBLE expressions in key
    order, sharing one range partitioning (the multi-column sibling of
    running_total; used by running-moment scans like
    filters.skewnessbalancing)."""
    if _is_small(df):
        hi = 0 if inclusive else -1
        w = (
            Window.partitionBy(F.lit(0))
            .orderBy(*keys)
            .rowsBetween(Window.unboundedPreceding, hi)
        )
        # one atomic withColumns: every value expression resolves
        # against the INPUT columns (sequential withColumn would let a
        # later expr read an earlier output that shadowed its name —
        # diverging from the distributed path, which stages _ps copies)
        return df.withColumns({
            name: F.coalesce(F.sum(col.cast("double")).over(w), F.lit(0.0))
            for name, col in values.items()
        })
    work = _range_partitioned(df, keys, num_partitions)
    for name, col in values.items():
        work = work.withColumn(f"_ps{name}", col.cast("double"))
    aggs = [F.sum(f"_ps{name}").alias(name) for name in values]
    totals = work.groupBy(_PID).agg(*aggs).collect()
    hi = 0 if inclusive else -1
    w = (
        Window.partitionBy(_PID)
        .orderBy(*keys)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    for name in values:
        local = F.coalesce(F.sum(f"_ps{name}").over(w), F.lit(0.0))
        offs: list[Column] = []
        acc = 0.0
        for r in sorted(totals, key=lambda t: t[_PID]):
            offs += [F.lit(r[_PID]), F.lit(acc)]
            acc += float(r[name] or 0.0)
        off = (
            F.coalesce(F.create_map(*offs)[F.col(_PID)], F.lit(0.0))
            if offs else F.lit(0.0)
        )
        work = work.withColumn(name, local + off)
    return work.drop(_PID, *[f"_ps{n}" for n in values])


def running_total(
    df: DataFrame,
    keys: list[Column],
    value: Column,
    out_col: str = "running_total",
    inclusive: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global prefix sum of ``value`` in key order (exclusive by
    default: sum over rows strictly before this row)."""
    if _is_small(df):
        hi = 0 if inclusive else -1
        w = (
            Window.partitionBy(F.lit(0))
            .orderBy(*keys)
            .rowsBetween(Window.unboundedPreceding, hi)
        )
        out = F.coalesce(
            F.sum(value.cast("long")).over(w), F.lit(0).cast("long")
        )
        return df.withColumn(out_col, out)
    work = _range_partitioned(df, keys, num_partitions)
    work = work.withColumn("_ord_v", value.cast("long"))
    totals = work.groupBy(_PID).agg(F.sum("_ord_v").alias("t")).collect()
    hi = 0 if inclusive else -1
    w = (
        Window.partitionBy(_PID)
        .orderBy(*keys)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    local = F.coalesce(F.sum("_ord_v").over(w), F.lit(0).cast("long"))
    out = local + _offset_expr([(r[_PID], r["t"] or 0) for r in totals])
    return work.withColumn(out_col, out).drop(_PID, "_ord_v")


def grouped_topk(
    df: DataFrame,
    by: list[str],
    order: list[Column],
    k: int,
    prune: bool = True,
) -> DataFrame:
    """Top-k rows per group, skew-safe: a one-group-per-window
    ``row_number`` is O(group size) in a single task's memory, so a hot
    group (one language, one domain) becomes the straggler at scale.
    With ``prune`` the first window partitions by (ORIGINAL scan
    partition, group) — each cell yields <= k rows with NO extra data
    movement beyond the pid-hash exchange — bounding the final
    per-group window to k x input-partitions rows regardless of group
    size. ``order`` must totally order rows (append an id tiebreak) for
    a deterministic result."""
    if prune:
        w1 = Window.partitionBy(F.spark_partition_id(), *by).orderBy(*order)
        df = (
            df.withColumn("_gtk", F.row_number().over(w1))
            .filter(F.col("_gtk") <= k)
            .drop("_gtk")
        )
    w2 = Window.partitionBy(*by).orderBy(*order)
    return (
        df.withColumn("_gtk", F.row_number().over(w2))
        .filter(F.col("_gtk") <= k)
        .drop("_gtk")
    )
