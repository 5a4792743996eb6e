"""Burst detection over event streams, two complementary shapes:

* `burst_windows` — the DISTRIBUTED detector: tumbling windows per
  key, per-key Poisson baseline over the key's active span, and the
  KL/Chernoff "Poisson surprise" score
      S = k·ln(k/λ) − (k − λ)      (k = window count, λ = baseline)
  for over-rate windows. One (key, window) map-side-combinable
  exchange + a key-level rollup joined back — scales to any number of
  keys and any history length; fully SQL-replayable (hash-green).

* `kleinberg_bursts` — the EXACT sequential model (Kleinberg, KDD
  2002, "Bursty and Hierarchical Structure in Streams"): 2-state
  automaton over inter-arrival gaps, base rate λ₀ = 1/ĝ and burst
  rate λ₁ = s/ĝ, entering a burst costs γ·ln n; the minimum-cost
  state sequence via Viterbi, maximal state-1 runs reported as
  bursts. Viterbi is inherently order-sequential, so this runs one
  Arrow kernel per key (applyInPandas) and REFUSES keys longer than
  `max_events_per_key` rather than silently stalling — the same
  explicit-bound contract as filters.sample's exact mode; use
  burst_windows (above) as the unbounded-scale screen and run
  Kleinberg on the flagged key×time slices.

Determinism: kernel depends only on the key's own (ts, event_id)
sequence (event_id tiebreak on equal timestamps), fixed float64 ops;
rows-only at the driver (per-key DP); the strong oracle is the
pure-python Viterbi reference in tests/test_bursts.py.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdal_spark.geo import sql_double
from pdal_spark.session import ensure_min_partitions


def _micros(df: DataFrame, ts_col: str):
    """Epoch micros; NTZ wall time re-tagged as UTC (the timeseries.py
    contract — deterministic regardless of session timezone, and it
    matches DuckDB's epoch_us on the same parquet)."""
    c = F.col(ts_col)
    if df.schema[ts_col].dataType.typeName() == "timestamp_ntz":
        c = F.to_utc_timestamp(c, "UTC")
    return F.unix_micros(c)


def burst_windows(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    width_s: int = 3600,
    min_surprise: float = 3.0,
) -> DataFrame:
    """(key, window_id, n_events, lam, surprise) for windows whose
    count exceeds the key's span baseline with KL surprise >=
    min_surprise. window_id = floor(epoch_micros / width)."""
    width_us = int(width_s) * 1_000_000
    df = ensure_min_partitions(df)
    # explicit floor on BOTH engines: Spark cast truncates but DuckDB
    # CAST(double AS BIGINT) rounds — floor() is the shared semantics
    wid = F.floor(_micros(df, ts_col) / F.lit(width_us)).cast("long")
    # timestamps are non-negative in this domain; integer cast floors
    wc = (
        df.select(F.col(key_col).alias("key"), wid.alias("window_id"))
        .groupBy("key", "window_id")
        .agg(F.count("*").alias("n_events"))
    )
    base = wc.groupBy("key").agg(
        F.sum("n_events").alias("n_tot"),
        (F.max("window_id") - F.min("window_id") + 1).alias("span"),
    )
    j = wc.join(base, "key")
    k = F.col("n_events").cast("double")
    lam = F.col("n_tot").cast("double") / F.col("span").cast("double")
    surprise = k * F.log(k / lam) - (k - lam)
    return (
        j.withColumn("lam", F.round(lam, 6))
        .withColumn("surprise", F.round(surprise, 6))
        .filter((k > lam) & (F.col("surprise") >= min_surprise))
        .select("key", "window_id", "n_events", "lam", "surprise")
    )


def burst_windows_sql(
    table: str = "events",
    key: str = "event_type",
    ts: str = "ts",
    width_s: int = 3600,
    min_surprise: float = 3.0,
) -> str:
    width_us = int(width_s) * 1_000_000
    return f"""
WITH wc AS (
  SELECT {key} AS key,
         CAST(floor(epoch_us({ts}) / {width_us}) AS BIGINT) AS window_id,
         count(*) AS n_events
  FROM {table} GROUP BY 1, 2
),
base AS (
  SELECT key, CAST(sum(n_events) AS BIGINT) AS n_tot,
         max(window_id) - min(window_id) + 1 AS span
  FROM wc GROUP BY key
)
SELECT key, window_id, n_events,
       round(CAST(n_tot AS DOUBLE) / CAST(span AS DOUBLE), 6) AS lam,
       round(CAST(n_events AS DOUBLE)
             * ln(CAST(n_events AS DOUBLE)
                  / (CAST(n_tot AS DOUBLE) / CAST(span AS DOUBLE)))
             - (CAST(n_events AS DOUBLE)
                - CAST(n_tot AS DOUBLE) / CAST(span AS DOUBLE)), 6)
         AS surprise
FROM wc JOIN base USING (key)
WHERE CAST(n_events AS DOUBLE)
      > CAST(n_tot AS DOUBLE) / CAST(span AS DOUBLE)
  AND round(CAST(n_events AS DOUBLE)
            * ln(CAST(n_events AS DOUBLE)
                 / (CAST(n_tot AS DOUBLE) / CAST(span AS DOUBLE)))
            - (CAST(n_events AS DOUBLE)
               - CAST(n_tot AS DOUBLE) / CAST(span AS DOUBLE)), 6)
      >= {sql_double(min_surprise, 'duckdb')}
""".strip()


def _kleinberg_key(
    ts_us: np.ndarray, s: float, gamma: float
) -> list[tuple[int, int, int]]:
    """Bursts for one key's sorted event micros: list of
    (start_idx, end_idx_inclusive, n_events) over EVENT indices
    1..n-1 mapped to gap indices (a burst spans the events closing
    its gaps, so event range [i, j] means gaps i-1..j-1 in state 1)."""
    n_ev = len(ts_us)
    if n_ev < 2:
        return []
    gaps = np.diff(ts_us).astype(np.float64) / 1e6
    gaps = np.maximum(gaps, 1e-9)  # equal timestamps: epsilon gap
    n = len(gaps)
    g_hat = float(gaps.sum()) / n
    lam0, lam1 = 1.0 / g_hat, s / g_hat
    trans = gamma * math.log(n) if n > 1 else 0.0
    # Viterbi: cost(state, gap) = lam*gap - ln(lam)
    c0 = lam0 * gaps - math.log(lam0)
    c1 = lam1 * gaps - math.log(lam1)
    INF = float("inf")
    cost = [c0[0], INF if n_ev < 2 else trans + c1[0]]
    back = [[0, 0]]
    for t in range(1, n):
        new0 = min(cost[0], cost[1])
        b0 = 0 if cost[0] <= cost[1] else 1
        new1 = min(cost[0] + trans, cost[1])
        b1 = 0 if cost[0] + trans < cost[1] else 1
        cost = [new0 + c0[t], new1 + c1[t]]
        back.append([b0, b1])
    state = 0 if cost[0] <= cost[1] else 1
    states = [state]
    for t in range(n - 1, 0, -1):
        state = back[t][state]
        states.append(state)
    states.reverse()
    bursts = []
    start = None
    for t, st in enumerate(states):
        if st == 1 and start is None:
            start = t
        elif st == 0 and start is not None:
            bursts.append((start, t, t - start + 1))
            start = None
    if start is not None:
        bursts.append((start, n, n - start + 1))
    return bursts


def kleinberg_bursts(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    s: float = 2.0,
    gamma: float = 1.0,
    max_events_per_key: int = 2_000_000,
) -> DataFrame:
    """(key, burst_start, burst_end, n_events) — maximal 2-state
    bursts per key. One Arrow kernel per key; keys longer than
    max_events_per_key raise (explicit bound, see module doc)."""
    df = ensure_min_partitions(df)
    src = df.select(
        F.col(key_col).alias("key"),
        _micros(df, ts_col).alias("us"),
        F.col(id_col).alias("eid"),
    )
    # epoch-micros output, not timestamps: applyInPandas timestamp
    # round-trips depend on the session timezone, which the driver's
    # vanilla session does not pin
    schema = (
        "key string, burst_start_us long, burst_end_us long, "
        "n_events long"
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_events_per_key:
            raise ValueError(
                f"key {pdf['key'].iloc[0]!r} has {len(pdf)} events "
                f"> max_events_per_key={max_events_per_key}; screen "
                "with burst_windows and slice the key's history"
            )
        pdf = pdf.sort_values(["us", "eid"], kind="stable")
        ts_us = pdf["us"].to_numpy()
        rows = [
            (pdf["key"].iloc[0], int(ts_us[a]), int(ts_us[b]), cnt)
            for a, b, cnt in _kleinberg_key(ts_us, s, gamma)
        ]
        return pd.DataFrame(
            rows,
            columns=["key", "burst_start_us", "burst_end_us", "n_events"],
        )

    return src.groupBy("key").applyInPandas(kernel, schema)
