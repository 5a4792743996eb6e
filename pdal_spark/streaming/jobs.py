"""Streaming jobs: the reference's streamable stages on unbounded input.

All functions take a (possibly streaming) DataFrame and return a
DataFrame — the same operator-library contract. They are exercised both
ways by tests: once via readStream + memory sink, once as plain batch,
asserting equality (the reference's stream↔standard invariant,
test/unit/StreamingTest.cpp:48-166).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdal_spark import geo


def stream_tile_counts(
    df: DataFrame,
    tile_len: float,
    origin_x: float,
    origin_y: float,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """kernels.tile streaming shape: per-tile running counts.

    On a streaming frame this is a stateful aggregation (complete/update
    mode); on batch it's the plain splitter count. Tile math is identical
    to operators.splitter (int-cast-then-decrement floor)."""
    tx = geo.tile_coord(x, origin_x, tile_len)
    ty = geo.tile_coord(y, origin_y, tile_len)
    return (
        df.withColumn("tile_x", tx)
        .withColumn("tile_y", ty)
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n_pages"))
    )


def stream_windowed_counts(
    df: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling event-time window counts with a watermark for late data —
    the unbounded-stream generalization the reference lacks (SURVEY
    §2.10: no watermarks/event-time in PDAL)."""
    # watermarks require TIMESTAMP (tz) — NTZ parquet columns are cast,
    # identically on batch and stream so the equivalence holds
    d = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if d.isStreaming:
        d = d.withWatermark(ts_col, watermark)
    return (
        d.groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"),
            key_col, "n", "sum_value",
        )
    )


def stream_stats_moments(
    df: DataFrame, dim: str, key_col: str | None = None
) -> DataFrame:
    """filters.stats as a streaming aggregation: the M1-M4 accumulators
    (StatsFilter.hpp:153-196) expressed as power sums — associative and
    mergeable, so Spark's partial aggregation IS the streaming
    accumulator; finalization happens in the select, like done()."""
    v = F.col(dim).cast("double")
    gb = df.groupBy(F.col(key_col)) if key_col else df.groupBy()
    agg = gb.agg(
        F.count(v).alias("n"),
        F.min(v).alias("minimum"),
        F.max(v).alias("maximum"),
        F.sum(v).alias("_s1"),
        F.sum(v * v).alias("_s2"),
        F.sum(v * v * v).alias("_s3"),
        F.sum(v * v * v * v).alias("_s4"),
    )
    n = F.col("n").cast("double")
    m = F.col("_s1") / n
    # central moments from power sums
    m2 = F.col("_s2") / n - m * m
    m3 = F.col("_s3") / n - 3 * m * F.col("_s2") / n + 2 * m * m * m
    m4 = (
        F.col("_s4") / n
        - 4 * m * F.col("_s3") / n
        + 6 * m * m * F.col("_s2") / n
        - 3 * m * m * m * m
    )
    # sample variance (M2/(n-1), StatsFilter.hpp:72-75)
    var = m2 * n / (n - 1)
    return agg.select(
        *([key_col] if key_col else []),
        "n", "minimum", "maximum",
        F.round(m, 6).alias("average"),
        F.round(var, 6).alias("variance"),
    ).drop("_s1", "_s2", "_s3", "_s4")


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
):
    """Start a memory-sink query and block until the source drains —
    test/driver harness (memory sink ≈ the reference's in-process
    PointViewSet capture)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .start()
    )
    q.processAllAvailable()
    return q


def stream_exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: emit only the FIRST-arriving row
    per distinct text value (datapipe.dedup.exact_dedup's streaming
    twin — arrival order replaces the min-id rule, which coincide when
    ingestion is id-ordered).

    On a streaming frame this is Spark's stateful dropDuplicates; pass
    ts_col to bound the dedup state with a watermark (state TTL — the
    100 TB requirement: an unbounded seen-set cannot live in executor
    state forever, so duplicates are only suppressed within the
    watermark horizon, the standard streaming-dedup contract). On a
    batch frame the same call degrades to plain dropDuplicates."""
    if ts_col is not None:
        df = df.withWatermark(ts_col, watermark_delay)
    return df.dropDuplicates([text_col])  # state key stays the text value


def stream_tile_stats_stateful(
    df: DataFrame,
    tile_len: float,
    origin_x: float,
    origin_y: float,
    x: str = "x",
    y: str = "y",
    value: str = "n_chars",
) -> DataFrame:
    """CUSTOM stateful per-tile rolling statistics via
    ``applyInPandasWithState`` — the arbitrary-state streaming operator
    shape (for state a built-in agg can't hold: reservoirs, top-k
    heaps, sketches). State per tile = the mergeable power sums
    (n, s1, s2, min, max); every micro-batch folds its Arrow batches
    into the state and emits the UPDATED finalized row for each touched
    tile, so the sink always holds the running answer.

    The math is identical to stream_stats_moments' power sums, which
    makes the stream↔batch invariant testable: after the source drains,
    the last emitted row per tile equals the one-shot batch aggregate.

    Batch frames don't support the state API — call the groupBy twin
    (`tile_stats_batch`) for the equivalence check."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    import pandas as pd

    tx = geo.tile_coord(x, origin_x, tile_len)
    ty = geo.tile_coord(y, origin_y, tile_len)
    keyed = df.withColumn("tile_x", tx).withColumn("tile_y", ty).select(
        "tile_x", "tile_y", F.col(value).cast("double").alias("_v")
    )

    out_schema = (
        "tile_x long, tile_y long, n long, minimum double, "
        "maximum double, average double"
    )
    state_schema = "n long, s1 double, mn double, mx double"

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            n, s1, mn, mx = state.get
        else:
            n, s1, mn, mx = 0, 0.0, float("inf"), float("-inf")
        for pdf in pdfs:
            v = pdf["_v"]
            n += int(len(v))
            s1 += float(v.sum())
            mn = min(mn, float(v.min()))
            mx = max(mx, float(v.max()))
        state.update((n, s1, mn, mx))
        yield pd.DataFrame({
            "tile_x": [key[0]], "tile_y": [key[1]], "n": [n],
            "minimum": [mn], "maximum": [mx],
            "average": [round(s1 / n, 6)],
        })

    return keyed.groupBy("tile_x", "tile_y").applyInPandasWithState(
        fold, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )


def tile_stats_batch(
    df: DataFrame,
    tile_len: float,
    origin_x: float,
    origin_y: float,
    x: str = "x",
    y: str = "y",
    value: str = "n_chars",
) -> DataFrame:
    """Batch twin of stream_tile_stats_stateful (same outputs)."""
    tx = geo.tile_coord(x, origin_x, tile_len)
    ty = geo.tile_coord(y, origin_y, tile_len)
    v = F.col(value).cast("double")
    return (
        df.withColumn("tile_x", tx).withColumn("tile_y", ty)
        .groupBy("tile_x", "tile_y")
        .agg(
            F.count(v).alias("n"), F.min(v).alias("minimum"),
            F.max(v).alias("maximum"),
            F.round(F.sum(v) / F.count(v), 6).alias("average"),
        )
    )


def stream_cell_rollup(
    df: DataFrame, levels: list[int], x: str = "x", y: str = "y"
) -> DataFrame:
    """Hierarchical cell-count rollup as a streaming aggregation: the
    finest level is ONE stateful groupBy; coarser levels are computed
    from the SAME row by parent-mask arithmetic before the aggregate
    (explode over levels), so the multi-level rollup still costs one
    shuffle per micro-batch and state is per-(level, cell).

    Batch-mode equality with operators.cellindex.cell_rollup is the
    test invariant (same (level, cell_id, n) rows)."""
    from pdal_spark.operators import cellindex as ci

    finest = max(levels)
    cid = ci.cell_id(x, y, finest)
    keyed = df.withColumn("_cid", cid)
    lv_cells = F.array(
        *[
            F.struct(
                F.lit(lv).alias("level"),
                (
                    F.col("_cid")
                    if lv == finest
                    else ci.cell_parent("_cid", lv)
                ).alias("cell_id"),
            )
            for lv in sorted(set(levels))
        ]
    )
    return (
        keyed.select(F.explode(lv_cells).alias("lc"))
        .select("lc.level", "lc.cell_id")
        .groupBy("level", "cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def stream_band_novelty(df: DataFrame) -> DataFrame:
    """Streaming incremental near-dup screen: every document's LSH band
    keys (dedup.minhash_band_keys_cols — pure per-row math, stateless)
    claim their (band, key) group; the FIRST claimant (min id within
    the first micro-batch that touches the group) becomes the owner,
    held in per-group state, and every later arrival is emitted as a
    collision candidate ``(id, band, key, first_id)`` — the ingest-time
    "have we crawled something like this before" signal, with state
    bounded per group to ONE owner id (dropDuplicates-sized state, not
    signature-sized). Candidates are per-band; downstream batch dedup
    verifies with true Jaccard exactly like minhash_dedup_pairs.

    Batch twin: band_claims_batch (min-id owner per group) — equal
    output when ingestion order is id order, the stream==batch
    invariant the tests pin."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from pdal_spark.datapipe.dedup import minhash_band_keys_cols

    keys = minhash_band_keys_cols(df)
    out_schema = "id long, band int, key string, first_id long"
    state_schema = "owner long"

    def claim(key, pdfs, state: GroupState):
        ids: list[int] = []
        for pdf in pdfs:
            ids.extend(int(v) for v in pdf["id"])
        ids.sort()
        if state.exists:
            owner = state.get[0]
            emit = ids
        else:
            owner = ids[0]
            state.update((owner,))
            emit = ids[1:]
        if emit:
            yield pd.DataFrame(
                {
                    "id": emit,
                    "band": key[0],
                    "key": key[1],
                    "first_id": owner,
                }
            )

    return keys.groupBy("band", "key").applyInPandasWithState(
        claim, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )


def band_claims_batch(df: DataFrame) -> DataFrame:
    """Batch twin of stream_band_novelty: min-id owner per (band, key),
    non-owners emitted as collision candidates."""
    from pdal_spark.datapipe.dedup import minhash_band_keys_cols

    keys = minhash_band_keys_cols(df)
    owners = keys.groupBy("band", "key").agg(F.min("id").alias("first_id"))
    return (
        keys.join(owners, ["band", "key"])
        .filter(F.col("id") != F.col("first_id"))
        .select("id", "band", "key", "first_id")
    )


def stream_weighted_sample(
    df: DataFrame,
    k: int = 10,
    by: str = "lang",
    seed: int = 11,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming A-ES weighted sample: the exact-k-per-stratum pick of
    contamination.weighted_sample maintained INCREMENTALLY over an
    unbounded stream. The A-ES key insight makes this stateful form
    exact, not approximate: the k largest priorities of a union are
    computable from the k largest of each part, so per-stratum state
    is just the running top-k (priority, id) heap — bounded at k rows
    per group forever.

    The priority u^(1/w) is computed as a per-row COLUMN pre-state
    (same deterministic affine uniform + JVM pow as the batch twin, so
    floats are bit-identical); the state kernel only merge-sorts
    tuples, never recomputes math. Emits the group's full current
    sample each trigger tagged with a state version — the final sample
    is the max-version row set (tests assert it equals the batch twin
    on the same data)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from pdal_spark.operators.relational import shuffle_key_sql

    key = F.expr(shuffle_key_sql(seed, id_col))
    u = (key + F.lit(1)).cast("double") / F.lit(2147483648.0)
    w = F.size(F.split(F.col(text_col), " ")).cast("double")
    pri = F.pow(u, F.lit(1.0) / w)
    rows = df.select(
        F.col(by).alias("g"),
        F.col(id_col).alias("id"),
        pri.alias("pri"),
    )
    out_schema = "g string, version int, id long, priority double"
    state_schema = "version int, ids array<bigint>, pris array<double>"

    def fold(gkey, pdfs, state: GroupState):
        cand: list[tuple] = []
        for pdf in pdfs:
            cand.extend(
                (-float(p), int(i)) for i, p in zip(pdf["id"], pdf["pri"])
            )
        if state.exists:
            version, ids, pris = state.get
            cand.extend((-float(p), int(i)) for i, p in zip(ids, pris))
        else:
            version = 0
        # (-pri, id) ascending == pri desc, id asc — the batch tiebreak
        cand.sort()
        top = cand[:k]
        version += 1
        state.update(
            (version, [i for _, i in top], [-p for p, _ in top])
        )
        yield pd.DataFrame(
            {
                "g": gkey[0],
                "version": version,
                "id": [i for _, i in top],
                "priority": [-p for p, _ in top],
            }
        )

    return rows.groupBy("g").applyInPandasWithState(
        fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_kmv_distinct(
    df: DataFrame,
    k: int = 64,
    by: str = "lang",
    value_col: str = "text",
    seed: int = 7,
) -> DataFrame:
    """Streaming KMV (bottom-k) distinct-count sketch per group: state
    is the k smallest distinct hashes ever seen — KMV's merge is a
    set-union-then-truncate, so the stateful fold is EXACT (identical
    sketch content to the batch kmv_sketch over the drained stream,
    which the tests assert element-for-element). State is bounded at k
    longs per group regardless of stream length. Hashing is the same
    pre-state column as batch; the kernel only merges integers."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from pdal_spark.datapipe.bloom import _content_key
    from pdal_spark.datapipe.sketch import P31, kmv_hash

    v = F.col(value_col)
    if dict(df.dtypes).get(value_col) == "string":
        # strings enter the hash domain through the exact 60-bit md5
        # content key (bloom.py idiom) — a raw string->long cast is
        # NULL (or an ANSI error on streams)
        v = _content_key(v)
    rows = df.select(
        F.col(by).alias("g"),
        kmv_hash(v, seed).alias("h"),
    ).filter(F.col("h").isNotNull())
    out_schema = (
        "g string, version int, sketch array<bigint>, "
        "n_in_sketch long, kth_hash long, est_distinct double"
    )
    state_schema = "version int, sketch array<bigint>"

    def fold(gkey, pdfs, state: GroupState):
        s: set[int] = set()
        for pdf in pdfs:
            s.update(int(v) for v in pdf["h"])
        if state.exists:
            version, sketch = state.get
            s.update(int(v) for v in sketch)
        else:
            version = 0
        merged = sorted(s)[:k]
        version += 1
        state.update((version, merged))
        m = len(merged)
        kth = merged[min(k, m) - 1] if m else None
        est = float(m) if m < k else float(k - 1) * float(P31) / kth
        yield pd.DataFrame(
            {
                "g": [gkey[0]],
                "version": [version],
                "sketch": [merged],
                "n_in_sketch": [m],
                "kth_hash": [kth],
                "est_distinct": [round(est, 6)],
            }
        )

    return rows.groupBy("g").applyInPandasWithState(
        fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_sessionize(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
    gap_seconds: float = 600.0,
) -> DataFrame:
    """Streaming gap-based sessionization via ``applyInPandasWithState``
    — the stateful twin of ``operators.timeseries.sessionize``. State
    per key is TWO numbers (last event time, current session index), no
    event buffer: each micro-batch sorts its own rows, continues the
    gap rule from the stored last-event time, and emits every event's
    session id.

    Contract (documented, asserted in tests): per-key event-time order
    across micro-batches — the in-order-ingest regime (a crawl log
    appended as it happens). Out-of-order ingestion needs watermarked
    reordering upstream; silently mis-sessionizing late rows is worse
    than stating the precondition.

    Stream == batch invariant: on a drained in-order source the union
    of emitted rows equals the batch operator's output exactly (session
    ids are 0-based per key in both)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    import numpy as np
    import pandas as pd

    from pdal_spark.operators.timeseries import _epoch_seconds

    rows = df.select(
        F.col(key).alias("k"),
        _epoch_seconds(df, ts).alias("_sec"),
        F.col(id_col).alias("_id"),
    )
    out_schema = f"{key} long, {id_col} long, session_id long"
    state_schema = "last_sec double, sid long"

    def fold(gkey, pdfs, state: GroupState):
        if state.exists:
            last_sec, sid = state.get
        else:
            last_sec, sid = None, -1
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts).sort_values(["_sec", "_id"], kind="mergesort")
        t = pdf["_sec"].to_numpy(dtype=float)
        prev = np.empty_like(t)
        prev[1:] = t[:-1]
        if last_sec is None:
            # first row ever for this key always opens a session
            is_new0 = True
        else:
            is_new0 = (t[0] - last_sec) > gap_seconds
        prev[0] = t[0]  # placeholder; row 0 handled via is_new0
        is_new = np.empty(len(t), dtype=np.int64)
        is_new[0] = 1 if is_new0 else 0
        is_new[1:] = ((t[1:] - t[:-1]) > gap_seconds).astype(np.int64)
        sids = sid + np.cumsum(is_new)
        state.update((float(t[-1]), int(sids[-1])))
        yield pd.DataFrame(
            {
                key: pdf["k"].to_numpy(),
                id_col: pdf["_id"].to_numpy(),
                "session_id": sids,
            }
        )

    return rows.groupBy("k").applyInPandasWithState(
        fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    delta_seconds: float,
    watermark: str = "1 hour",
    suffix: str = "_r",
) -> DataFrame:
    """Stream-stream bounded-interval join: same-``key`` (left, right)
    pairs within ±``delta_seconds`` of event time.

    On streams this is Spark's watermarked symmetric hash join — BOTH
    sides buffered in keyed state, the explicit time-range predicate
    lets the engine evict a buffered row once the other side's
    watermark passes ``ts + delta`` (state is bounded by
    rate × (watermark + 2·delta), independent of stream length — the
    property that makes the join runnable forever). On batch the same
    code is a plain equi-join + range predicate; the batch twin used
    for correctness at scale is ``timeseries.interval_join`` (bucketed,
    no inequality fallback), and tests pin stream == batch-twin.

    Output timestamps are carried from both sides so append-mode sinks
    see a deterministic row set once the watermark passes.
    """
    lcols = [c for c in left.columns]
    rsel = [F.col(key).alias("_rkey"), F.col(ts).alias("_rts")] + [
        F.col(c).alias(f"{c}{suffix}")
        for c in right.columns
        if c not in (key, ts)
    ]
    l = left.withColumn(ts, F.col(ts).cast("timestamp"))
    r = right.withColumn(ts, F.col(ts).cast("timestamp")).select(*rsel)
    if l.isStreaming:
        l = l.withWatermark(ts, watermark)
    if r.isStreaming:
        r = r.withWatermark("_rts", watermark)
    dt = F.col(ts).cast("double") - F.col("_rts").cast("double")
    joined = l.join(
        r,
        (F.col(key) == F.col("_rkey"))
        & (dt >= -float(delta_seconds))
        & (dt <= float(delta_seconds)),
        "inner",
    )
    return joined.drop("_rkey").withColumnRenamed("_rts", f"{ts}{suffix}")


def stream_gk_quantiles(
    df: DataFrame,
    by: str = "lang",
    value_col: str = "n_chars",
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    eps: float = 0.02,
    cap: int | None = None,
) -> DataFrame:
    """Streaming per-group eps-approximate quantiles: the GK bracket
    summary (operators/gksketch.py) folded in state.

    Bracket summaries are closed under merge AND under pruning, so the
    stateful fold is: exact-summarize the micro-batch, merge into the
    state summary, prune back to ``cap`` candidates (default 4/eps),
    answer ``qs`` with certificates. State per group is <= cap
    (value, 4 bracket counts) tuples FOREVER — any stream length.
    Unlike KMV (whose merge is exact) the brackets WIDEN with fold
    depth; the emitted ``width`` column is the certified worst-case
    rank slack, so a consumer always knows the current guarantee —
    certified-but-wider, never silently wrong."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from pdal_spark.operators.gksketch import (
        BracketSummary,
        exact_summary,
        merge_brackets,
        prune_brackets,
        query_brackets,
    )

    cap = cap or math.ceil(4.0 / eps)
    rows = df.select(
        F.col(by).alias("g"), F.col(value_col).cast("double").alias("x")
    ).filter(F.col("x").isNotNull())
    out_schema = (
        "g string, version int, n long, q double, value double, "
        "rank_lo long, rank_hi long, certified boolean, width long"
    )
    state_schema = (
        "version int, v array<double>, lt_lo array<bigint>, "
        "lt_hi array<bigint>, le_lo array<bigint>, le_hi array<bigint>, "
        "n long"
    )

    def fold(gkey, pdfs, state: GroupState):
        import numpy as np

        vals = [p["x"].to_numpy(dtype=float) for p in pdfs if len(p)]
        batch = exact_summary(
            np.concatenate(vals) if vals else np.array([]), eps / 2.0
        )
        if state.exists:
            version, v, lt_lo, lt_hi, le_lo, le_hi, n = state.get
            prev = BracketSummary(
                np.asarray(v, dtype=float),
                np.asarray(lt_lo, dtype=np.int64),
                np.asarray(lt_hi, dtype=np.int64),
                np.asarray(le_lo, dtype=np.int64),
                np.asarray(le_hi, dtype=np.int64),
                int(n),
            )
        else:
            version, prev = 0, None
        merged = (
            merge_brackets([prev, batch]) if prev is not None else batch
        )
        merged = prune_brackets(merged, cap)
        version += 1
        state.update(
            (
                version,
                [float(x) for x in merged.v],
                [int(x) for x in merged.lt_lo],
                [int(x) for x in merged.lt_hi],
                [int(x) for x in merged.le_lo],
                [int(x) for x in merged.le_hi],
                int(merged.n),
            )
        )
        ans = query_brackets(merged, qs, eps)
        yield pd.DataFrame(
            {
                "g": [gkey[0]] * len(ans),
                "version": [version] * len(ans),
                "n": [a["n"] for a in ans],
                "q": [a["q"] for a in ans],
                "value": [a["value"] for a in ans],
                "rank_lo": [a["rank_lo"] for a in ans],
                "rank_hi": [a["rank_hi"] for a in ans],
                "certified": [a["eps_bound_ok"] for a in ans],
                "width": [merged.width()] * len(ans),
            }
        )

    return rows.groupBy("g").applyInPandasWithState(
        fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_top_k_words(
    df: DataFrame,
    by: str = "lang",
    text_col: str = "text",
    k: int = 10,
    cap: int = 4096,
) -> DataFrame:
    """Streaming per-group Misra-Gries heavy hitters: the batch
    _mg_summaries contraction (datapipe/frequency.py) folded in state.

    MG summaries merge by counter addition followed by one contraction,
    with deficits adding — so state is <= cap counters per group FOREVER
    and every emitted candidate carries certified bounds:
    mg_count <= true count <= mg_count + deficit, deficit = running
    total // (cap+1). A word whose true count exceeds the deficit can
    never be evicted (the MG guarantee), so the candidate set always
    contains every such heavy hitter — the streaming twin of
    top_k_words' certificate."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    rows = (
        df.select(
            F.col(by).alias("g"),
            F.explode(F.split(F.col(text_col), " ")).alias("word"),
        )
        .filter(F.col("word") != "")
    )
    out_schema = (
        "g string, version int, word string, mg_count long, "
        "count_hi long, total long, deficit long"
    )
    state_schema = (
        "version int, words array<string>, counts array<long>, total long"
    )

    def fold(gkey, pdfs, state: GroupState):
        batch = pd.Series(dtype="int64")
        n_batch = 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            vc = pdf["word"].value_counts()
            n_batch += int(vc.sum())
            batch = batch.add(vc, fill_value=0)
        if state.exists:
            version, words, counts, total = state.get
            acc = batch.add(
                pd.Series(list(counts), index=list(words)), fill_value=0
            )
            total = int(total) + n_batch
        else:
            version, acc, total = 0, batch, n_batch
        if len(acc) > cap:  # MG contraction: subtract the (cap+1)-th count
            thresh = acc.nlargest(cap + 1).iloc[-1]
            acc = acc[acc > thresh] - thresh
        acc = acc.astype("int64")
        version += 1
        state.update(
            (version, list(acc.index), [int(x) for x in acc.values],
             int(total))
        )
        deficit = total // (cap + 1)
        top = acc.sort_values(ascending=False, kind="mergesort")
        # deterministic ties: count desc, then word asc
        top = (
            top.rename_axis("w").reset_index(name="c")
            .sort_values(["c", "w"], ascending=[False, True])
            .head(k)
        )
        yield pd.DataFrame(
            {
                "g": [gkey[0]] * len(top),
                "version": [version] * len(top),
                "word": top["w"].values,
                "mg_count": top["c"].values,
                "count_hi": (top["c"] + deficit).values,
                "total": [total] * len(top),
                "deficit": [deficit] * len(top),
            }
        )

    return rows.groupBy("g").applyInPandasWithState(
        fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_hll_distinct(
    df: DataFrame,
    by: str = "lang",
    value_col: str = "text",
    m: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Streaming per-group HyperLogLog: register elementwise-max folded
    in state — HLL's merge is EXACT (max of maxes), so the drained
    stream's registers equal the batch hll_sketch's bit-for-bit, like
    the KMV fold. State = m small ints per group, any stream length.

    The (register, rho) columns are computed PRE-state by the same
    column expressions as batch (affine-cipher hash, base-2 string
    bit_length) — the kernel only folds integer maxes."""
    import math as _math

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from pdal_spark.datapipe.bloom import _content_key
    from pdal_spark.datapipe.sketch import _alpha, kmv_hash

    if m & (m - 1) or m < 2:
        raise ValueError("m must be a power of two >= 2")
    hi_bits = 31 - m.bit_length() + 1
    v = F.col(value_col)
    if dict(df.dtypes).get(value_col) == "string":
        v = _content_key(v)
    h = kmv_hash(v, seed)
    idx = (h % m).cast("int")
    rest = (h / m).cast("long")
    rho = F.when(rest == 0, F.lit(hi_bits + 1)).otherwise(
        F.lit(hi_bits + 1) - F.length(F.conv(rest, 10, 2))
    )
    rows = df.select(
        F.col(by).alias("g"), idx.alias("i"), rho.alias("r")
    ).filter(F.col("r").isNotNull())
    out_schema = (
        "g string, version int, registers array<int>, n_zero_regs long, "
        "reg_sum double, est_distinct double"
    )
    state_schema = "version int, registers array<int>"

    def fold(gkey, pdfs, state: GroupState):
        regs = np.zeros(m, dtype=np.int64)
        if state.exists:
            version, stored = state.get
            regs = np.asarray(stored, dtype=np.int64)
        else:
            version = 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            np.maximum.at(regs, pdf["i"].to_numpy(), pdf["r"].to_numpy())
        version += 1
        state.update((version, [int(x) for x in regs]))
        # identical summary algebra to batch hll_sketch: the dyadic sum
        # is exact in any order, so stream == batch bit-for-bit
        ssum = float(sum(1.0 / (2.0 ** int(r)) for r in regs))
        zeros = int((regs == 0).sum())
        raw = _alpha(m) * m * m / ssum
        if raw <= 2.5 * m and zeros > 0:
            est = float(m) * _math.log(float(m) / zeros)
        else:
            est = raw
        yield pd.DataFrame(
            {
                "g": [gkey[0]],
                "version": [version],
                "registers": [[int(x) for x in regs]],
                "n_zero_regs": [zeros],
                "reg_sum": [round(ssum, 9)],
                "est_distinct": [round(est, 6)],
            }
        )

    return rows.groupBy("g").applyInPandasWithState(
        fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_burst_windows(
    df: DataFrame,
    key: str = "event_type",
    ts: str = "ts",
    width_s: int = 3600,
    min_surprise: float = 3.0,
):
    """Streaming ONLINE burst screen — the stateful twin of
    ``datapipe.bursts.burst_windows``. State per key is FOUR numbers
    (n_tot, min_w, cur_w, cur_n), no event buffer: window ids are
    pre-state column math (same floor(epoch_us/width) as batch), and a
    window is EVALUATED WHEN IT CLOSES (a later window's first event
    arrives) against the baseline-so-far
    ``lam = n_closed_so_far / span_so_far`` — the online detector
    semantics (batch uses the full-history baseline; the two agree on
    the final prefix). Emission gates (count > lam and KL surprise >=
    min_surprise) are identical to batch.

    Contract (asserted in tests): per-key event-time order across
    micro-batches (in-order ingest, the stream_sessionize regime).
    Emissions are a pure function of each key's event sequence —
    micro-batch slicing cannot change them (slice-invariance test).
    The currently-open window is never emitted (it may still grow)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    import math as _math

    import pandas as pd

    from pdal_spark.datapipe.bursts import _micros

    width_us = int(width_s) * 1_000_000
    rows = df.select(
        F.col(key).alias("k"),
        F.floor(_micros(df, ts) / F.lit(width_us)).cast("long").alias("w"),
    )
    out_schema = (
        f"{key} string, window_id long, n_events long, "
        "lam double, surprise double"
    )
    state_schema = "n_tot long, min_w long, cur_w long, cur_n long"

    def fold(gkey, pdfs, state: GroupState):
        if state.exists:
            n_tot, min_w, cur_w, cur_n = state.get
        else:
            n_tot, min_w, cur_w, cur_n = 0, None, None, 0
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts).sort_values("w", kind="mergesort")
        emitted = []
        for w, cnt in pdf.groupby("w", sort=True).size().items():
            w = int(w)
            if cur_w is None:
                min_w, cur_w, cur_n = w, w, 0
            if w > cur_w:
                # close cur_w
                n_tot += cur_n
                span = cur_w - min_w + 1
                lam = n_tot / span
                if cur_n > lam:
                    srp = cur_n * _math.log(cur_n / lam) - (cur_n - lam)
                    if round(srp, 6) >= min_surprise:
                        emitted.append(
                            (
                                gkey[0],
                                cur_w,
                                cur_n,
                                round(lam, 6),
                                round(srp, 6),
                            )
                        )
                cur_w, cur_n = w, 0
            cur_n += int(cnt)
        state.update((int(n_tot), int(min_w), int(cur_w), int(cur_n)))
        if emitted:
            yield pd.DataFrame(
                emitted,
                columns=[key, "window_id", "n_events", "lam", "surprise"],
            )

    return rows.groupBy("k").applyInPandasWithState(
        fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_merge_upserts(
    stream_df: DataFrame,
    table,
    key: str,
    ts_col: str | None = None,
    checkpoint: str | None = None,
):
    """CDC-apply: fold a stream of upsert records into a SnapshotTable
    via foreachBatch + copy-on-write merge (the Delta/Iceberg
    "streaming MERGE INTO" pattern).

    Each micro-batch collapses to one row per key before merging —
    latest ``ts_col`` wins (arrival order is not defined inside a
    batch; an explicit event-time column is, which is why it is
    required whenever a batch can carry the same key twice). Batches
    commit in order, each as one snapshot: the table's history IS the
    CDC apply log, restart-safe through the checkpoint (a replayed
    batch re-merges the same rows — idempotent, since merge is a
    by-key replace).

    100 TB shape: per batch, merge rewrites only the files containing
    that batch's keys (footer-stats prune + provenance scan) — steady
    small-batch CDC touches a bounded file set, and compaction
    (`table.compact`) repacks the accumulating stripe files out of
    band."""
    from pyspark.sql import Window

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        src = bdf
        if ts_col is not None:
            w = Window.partitionBy(key).orderBy(
                F.col(ts_col).desc(), *[
                    F.col(c).desc() for c in bdf.columns
                    if c not in (key, ts_col)
                ]
            )
            src = (
                bdf.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        if src.limit(1).count():
            table.merge(src, key=key)

    writer = stream_df.writeStream.foreachBatch(apply_batch)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q
