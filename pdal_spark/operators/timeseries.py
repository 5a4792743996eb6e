"""Timeseries operators over event streams: sessionization and the
bounded-interval (range) join.

Both are standard warehouse operations Spark's DataFrame API has no
primitive for; both are planned scale-first:

  * sessionize — gap-based session ids per key: one exchange on the
    key, two PARTITIONED cumulative windows (lag -> new-session flag ->
    running sum). Never a global window.
  * interval_join — pairs (l, r) with |l.ts - r.ts| <= delta per key:
    the 1-D analog of the spatial cell join. Each side buckets into
    delta-wide time bins, one side explodes to its 3-neighborhood
    (bin-1, bin, bin+1), the join runs on (key, bin) equality and the
    exact |dt| predicate filters inside the joined stage — never a
    non-equi range join (BNLJ) and never a cartesian. Bucket-join
    candidates over-cover by construction; the exact predicate makes
    the result independent of the binning (asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdal_spark.geo import sql_double


def _epoch_seconds(df: DataFrame, ts: str) -> Column:
    """Epoch seconds (double, microsecond-exact) for any ts column type.

    TIMESTAMP_NTZ (parquet's isAdjustedToUTC=false — what the test
    tables carry) won't cast to double, and routing it through the
    session timezone would make results depend on the driver's tz; the
    to_utc_timestamp(ts, 'UTC') identity re-tags the wall time as UTC
    so unix_micros is deterministic. Numeric/LTZ columns cast directly
    (matching DuckDB's epoch())."""
    c = F.col(ts)
    if df.schema[ts].dataType.typeName() == "timestamp_ntz":
        return F.unix_micros(F.to_utc_timestamp(c, "UTC")).cast("double") / F.lit(
            1e6
        )
    return c.cast("double")


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: float,
    session_col: str = "session_id",
) -> DataFrame:
    """Gap-based sessions: a new session starts when the time since the
    key's previous event exceeds ``gap_seconds``. Emits ``session_col``
    (0-based per key) — the standard clickstream sessionization."""
    w = Window.partitionBy(key).orderBy(F.col(ts).asc())
    sec = _epoch_seconds(df, ts)
    prev = F.lag(sec).over(w)
    gap = sec - prev
    is_new = F.when(prev.isNull() | (gap > gap_seconds), 1).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(
        session_col, (F.sum(is_new).over(wsum) - 1).cast("long")
    )


def sessionize_sql(
    table: str, key: str, ts: str, gap_seconds: float,
    session_col: str = "session_id", select: str = "*",
) -> str:
    """DuckDB twin — identical window algebra (epoch() yields seconds
    as DOUBLE, matching Spark's cast('double') on timestamps)."""
    prev = f"lag(epoch({ts})) OVER (PARTITION BY {key} ORDER BY {ts})"
    is_new = (
        f"CASE WHEN {prev} IS NULL OR epoch({ts}) - {prev} > {sql_double(gap_seconds, 'duckdb')} "
        f"THEN 1 ELSE 0 END"
    )
    return (
        f"SELECT {select} FROM ("
        f"  SELECT *, CAST(sum(_new) OVER ("
        f"    PARTITION BY {key} ORDER BY {ts}"
        f"    ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS {session_col}"
        f"  FROM (SELECT *, {is_new} AS _new FROM {table}))"
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    delta_seconds: float,
    suffix: str = "_r",
) -> DataFrame:
    """All (left, right) pairs of the same key within ±delta seconds —
    time-bin bucket join + exact predicate (see module docstring)."""
    lsec = _epoch_seconds(left, ts)
    l = left.withColumn("_lsec", lsec).withColumn(
        "_bin", F.floor(F.col("_lsec") / F.lit(delta_seconds)).cast("long")
    )
    rsec = _epoch_seconds(right, ts)
    r = right.withColumn("_rsec", rsec).select(
        F.col(key),
        F.col("_rsec"),
        *[F.col(c).alias(f"{c}{suffix}") for c in right.columns if c != key],
    ).withColumn(
        "_bin",
        F.explode(
            F.array(
                *[
                    F.floor(F.col("_rsec") / F.lit(delta_seconds)).cast("long") + o
                    for o in (-1, 0, 1)
                ]
            )
        ),
    )
    dt = F.col("_lsec") - F.col("_rsec")
    return (
        l.join(r, [key, "_bin"])
        .filter(F.abs(dt) <= delta_seconds)
        .drop("_bin", "_lsec", "_rsec")
    )


def _epoch_micros(df: DataFrame, ts: str) -> Column:
    """Epoch MICROSECONDS as bigint — the integer twin of
    ``_epoch_seconds`` (same NTZ re-tagging), used where bit-exact
    cross-engine arithmetic matters more than unit convenience."""
    c = F.col(ts)
    if df.schema[ts].dataType.typeName() == "timestamp_ntz":
        return F.unix_micros(F.to_utc_timestamp(c, "UTC"))
    return (c.cast("double") * F.lit(1e6)).cast("long")


def rate_limit_schedule(
    df: DataFrame,
    key: str,
    ts: str,
    delay_seconds: float,
    id_col: str,
    dispatch_col: str = "dispatch_us",
    wait_col: str = "wait_us",
) -> DataFrame:
    """Crawl-politeness scheduler: earliest dispatch time per request so
    that same-``key`` (host) fetches are spaced >= ``delay_seconds``
    apart, preserving per-key arrival order (RFC 9309 Crawl-delay /
    frontier politeness — the scheduling half of filters.splitter's
    "one tile at a time" discipline applied to hosts).

    The defining recurrence is sequential::

        d_0 = t_0;  d_i = max(t_i, d_{i-1} + delay)

    which unrolls to the closed form ``d_i = max_{j<=i} (t_j +
    (i-j)*delay)``; with ``r_j = t_j - j*delay`` that is ``d_i =
    i*delay + running_max(r)`` — two PARTITIONED cumulative windows
    (row_number, running max) after ONE exchange on the host key.
    Never a global window, nothing sequential on the driver.

    All arithmetic is int64 epoch-microseconds, so the DuckDB twin is
    bit-exact. Ties on ``ts`` are ordered by ``id_col`` in both engines.

    Scale note: a window per host sorts within the host's partition.
    Hot hosts are self-bounding here — the schedule output itself says a
    host fetched every ``delay`` seconds accumulates only ~1M requests
    per year — and AQE's skew split cannot apply (the recurrence is a
    per-host chain by definition).
    """
    delay_us = int(round(delay_seconds * 1e6))
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(), F.col(id_col).asc())
    us = _epoch_micros(df, ts)
    i = (F.row_number().over(w) - F.lit(1)).cast("long")
    r = us - i * F.lit(delay_us)
    runmax = F.max(r).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dispatch = i * F.lit(delay_us) + runmax
    return df.withColumn("_us", us).withColumn(
        dispatch_col, dispatch
    ).withColumn(wait_col, F.col(dispatch_col) - F.col("_us")).drop("_us")


def rate_limit_schedule_sql(
    table: str,
    key: str,
    ts: str,
    delay_seconds: float,
    id_col: str,
    dispatch_col: str = "dispatch_us",
    wait_col: str = "wait_us",
    select: str = "*",
) -> str:
    """DuckDB twin — identical integer window algebra (epoch_us gives
    int64 micros; row_number/max windows keyed and ordered the same)."""
    delay_us = int(round(delay_seconds * 1e6))
    order = f"PARTITION BY {key} ORDER BY {ts}, {id_col}"
    return (
        f"SELECT {select}, _i * {delay_us} + max(_r) OVER ("
        f"    {order} ROWS UNBOUNDED PRECEDING) AS {dispatch_col},"
        f"  _i * {delay_us} + max(_r) OVER ("
        f"    {order} ROWS UNBOUNDED PRECEDING) - _us AS {wait_col} "
        f"FROM (SELECT *, epoch_us({ts}) AS _us,"
        f"  CAST(row_number() OVER ({order}) - 1 AS BIGINT) AS _i,"
        f"  epoch_us({ts}) - CAST(row_number() OVER ({order}) - 1 AS BIGINT)"
        f"    * {delay_us} AS _r"
        f"  FROM {table})"
    )


def interval_join_sql(
    left_table: str,
    right_table: str,
    key: str,
    ts: str,
    delta_seconds: float,
    left_select: str,
    right_payload: list[str],
    suffix: str = "_r",
) -> str:
    """DuckDB twin: the index-free exact form (plain inequality join)
    — independent of the binning strategy."""
    pay = ", ".join(f"r.{c} AS {c}{suffix}" for c in right_payload)
    return (
        f"SELECT {left_select}, {pay} FROM {left_table} l "
        f"JOIN {right_table} r ON l.{key} = r.{key} "
        f"AND abs(epoch(l.{ts}) - epoch(r.{ts})) <= {sql_double(delta_seconds, 'duckdb')}"
    )
