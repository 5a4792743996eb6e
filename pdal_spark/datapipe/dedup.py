"""Deduplication suite for web-text corpora.

  exact_dedup     hash-groupBy on content — first doc (by id) wins
  jaccard_pairs   word-set Jaccard near-dup pairs (exact, pair join)
  minhash_*       MinHash signatures + banded LSH candidate pairs,
                  verified with true Jaccard — the scale path: only
                  bucket-colliding pairs are ever joined
  simhash_*       16-bit SimHash per doc + Hamming-ball near-dup pairs

All hash arithmetic is plain ``(a*x + c) % P`` over BIGINT — identical in
Spark Column math, DuckDB SQL, and numpy, which is what lets every
operator ship a bit-exact SQL oracle. Word-ids default to a deterministic
sorted-vocabulary dense rank (distributed: ordered.global_rank) so both
engines agree; ``word_id_mode="hash"`` swaps in xxhash64 ids — zero
vocabulary shuffles, the open-vocabulary 100 TB path (no SQL twin).

Execution shape (100 TB): every near-dup pair pipeline is
candidate-generate -> verify, built from one candidate join and two
verifiers, one per payload:

* _salted_join — every candidate self-join (prefix ords, LSH buckets,
  simhash bit-bands, containment postings). Candidate keys are few and
  hot, so each key splits N_SALTS ways (side b = hash(id) % N_SALTS,
  side a explodes over the salts) and one hot key cannot pin its
  quadratic blow-up on one task; _hot_keys limits that to the keys
  that need it.
* _fused_verified_pairs — small vocab-sized payloads (chunked bitmasks)
  CARRY through the join and Jaccard is verified inline.
* _verify_fetched — doc-sized payloads (sorted word-hash ARRAYS: shingle
  vocabularies, hash word ids, the incremental index) do NOT ride the
  join — they would cross the exchange 2 x bands times per doc, free
  inside one JVM but measured 2x slower at 4 executors than 1 over
  netty (BENCH/BASELINE.md §6); surviving pairs fetch them instead.

A pair is kept iff its unrounded Jaccard inter / union >= threshold
(containment: inter / |src|); the output column is rounded to 6
places, and the SQL oracles apply the same rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdal_spark.geo import sql_double
from pdal_spark.operators.ordered import global_rank

P31 = 2147483647  # Mersenne prime 2^31-1

# deterministic (a, c) params per minhash function
MINHASH_K = 8
MINHASH_BANDS = 4  # rows per band = K / BANDS = 2


def _hash_params(k: int) -> list[tuple[int, int]]:
    return [((i * 2654435761 + 1) % P31, (i * 40503 + 7) % P31) for i in range(1, k + 1)]


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the first (smallest id) document per exact text value."""
    w = Window.partitionBy(text_col).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup_sql(table: str = "documents", text: str = "text",
                    id_col: str = "doc_id", select: str = "*") -> str:
    return (
        f"SELECT {select} FROM ("
        f"  SELECT *, row_number() OVER (PARTITION BY {text} ORDER BY {id_col}) AS _rn"
        f"  FROM {table}) WHERE _rn = 1"
    )


def doc_words(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle: int = 1,
) -> DataFrame:
    """(id, word) distinct pairs — the set representation.

    shingle > 1 switches the set elements from single words to n-word
    shingles (space-joined n-grams) — the standard near-dup unit for web
    text (word-level Jaccard saturates on shared vocabulary; shingles
    key on phrasing). Pure column math: slice+array_join over the token
    array, no UDF."""
    from pdal_spark.session import ensure_min_partitions

    df = ensure_min_partitions(df)
    toks = F.split(F.col(text_col), " ")
    if shingle <= 1:
        elems = F.array_distinct(toks)
    else:
        n_sh = F.greatest(F.size(toks) - (shingle - 1), F.lit(0))
        elems = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_sh),
                lambda i: F.array_join(F.slice(toks, i, shingle), " "),
            )
        )
    return df.select(
        F.col(id_col).alias("id"), F.explode(elems).alias("word")
    )


def _doc_words_sql(table: str, text: str, id_col: str, shingle: int = 1) -> str:
    if shingle <= 1:
        return (
            f"SELECT {id_col} AS id, unnest(list_distinct(string_split({text}, ' '))) AS word "
            f"FROM {table}"
        )
    toks = f"string_split({text}, ' ')"
    sh = (
        f"list_transform(range(1, greatest(len({toks}) - {shingle - 1}, 0) + 1), "
        f"i -> array_to_string({toks}[i:i+{shingle - 1}], ' '))"
    )
    return (
        f"SELECT {id_col} AS id, unnest(list_distinct({sh})) AS word FROM {table}"
    )


MASK_CHUNK_BITS = 62  # bits per mask chunk (stay clear of the sign bit)


def _doc_masks(words: DataFrame, v: DataFrame,
               n_chunks: int | None = None,
               wids: DataFrame | None = None) -> tuple[DataFrame, int]:
    """(id, sz, masks): chunked-bitmask word-set representation.

    masks[c] has bit (wid % B) set for every word with wid // B == c.
    Set intersection then becomes Σ bit_count(a & b) over zipped chunks —
    pure integer column math, no join. Right-sized for bounded
    vocabularies (mask bytes = vocab/8 per doc); open-vocabulary corpora
    fall back to the shared-word verification join. Pass n_chunks when
    the caller already measured the vocab width — skips a job over v."""
    if n_chunks is None:
        n_chunks_row = v.agg(
            (F.floor(F.max("wid") / MASK_CHUNK_BITS) + 1).alias("nc")
        ).collect()[0]
        n_chunks = int(n_chunks_row.nc)
    if wids is None:
        wids = words.join(v, "word").select("id", "wid")
    per_chunk = (
        wids.withColumn("chunk", (F.col("wid") / MASK_CHUNK_BITS).cast("int"))
        .withColumn("bit", (F.col("wid") % MASK_CHUNK_BITS).cast("int"))
        .groupBy("id", "chunk")
        .agg(
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias("m"),
            F.count("*").alias("nw"),
        )
    )
    # densify to fixed-length arrays (missing chunks -> 0)
    chunk_map = F.map_from_arrays(F.collect_list("chunk"), F.collect_list("m"))
    dense = per_chunk.groupBy("id").agg(
        F.sum("nw").cast("long").alias("sz"),
        chunk_map.alias("_cm"),
    ).select(
        "id", "sz",
        F.array(*[
            F.coalesce(F.element_at(F.col("_cm"), F.lit(c)), F.lit(0).cast("long"))
            for c in range(n_chunks)
        ]).alias("masks"),
    )
    return dense, n_chunks


MASK_UNROLL_MAX = 512  # widest mask the codegen unroll is worth


def _mask_inter(a: Column, b: Column, n_chunks: int | None = None) -> Column:
    """Σ bit_count(a[c] & b[c]).

    With a known, bounded chunk count the sum unrolls into plain
    element_at expressions combined as a BALANCED tree (a left fold
    nests n_chunks deep and overflows the converter stack for wide
    shingle vocabularies). Beyond MASK_UNROLL_MAX chunks — or with
    unknown width — fall back to the zip_with/aggregate HOF
    (interpreted, ~10x slower per row, but giant unrolls lose codegen
    to the 64KB method limit anyway)."""
    if n_chunks is not None and n_chunks <= MASK_UNROLL_MAX:
        terms = [
            F.bit_count(
                F.element_at(a, c + 1).bitwiseAND(F.element_at(b, c + 1))
            ).cast("long")
            for c in range(n_chunks)
        ]
        while len(terms) > 1:
            terms = [
                terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
                for i in range(0, len(terms), 2)
            ]
        return terms[0]
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseAND(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _first_match_band(sig1: Column, sig2: Column, bands: int, rows: int) -> Column:
    """Smallest band index whose signature slices agree — lets the fused
    verifier test each candidate pair in exactly ONE band even when the
    pair collides in several (near-identical docs collide in all bands,
    so verifying per joined row would redo the set intersection once per
    band; with this filter the final distinct() is unnecessary too).

    Unrolled to a scalar CASE chain over array getItems on purpose:
    the equivalent higher-order F.filter over slices runs interpreted
    (no whole-stage codegen for lambda functions) and measured ~8x
    slower end-to-end on the joined-row stream."""
    def band_match(b: int) -> Column:
        conds = [sig1[b * rows + j] == sig2[b * rows + j] for j in range(rows)]
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out

    expr = F.lit(bands - 1)
    for b in range(bands - 2, -1, -1):
        expr = F.when(band_match(b), F.lit(b)).otherwise(expr)
    return expr


AUTO_SALT_FLOOR = 512  # min bucket size worth splitting
N_SALTS = 16  # sub-keys each salted candidate key is split into


def _hot_keys(keyed: DataFrame, join_keys: list[str]) -> DataFrame:
    """(join_keys..., _hot) for every candidate key whose population
    exceeds max(AUTO_SALT_FLOOR, 8 * rows / shuffle_partitions) — the
    same count-based heuristic as knn_join's auto salting. Only hot
    keys are salt-exploded: unconditional N_SALTS-fold replication of
    every candidate row is O(n * bands * N_SALTS) with array payloads
    and measured 10 GB+ of shuffle on corpora with NO collisions at
    all (1M disjoint docs), while a dup-dense corpus genuinely needs
    the split. Costs one eager count (keyed is persisted by the
    caller) and one map-side-combined aggregate; on well-spread keys
    the table is empty and _salted_join degenerates to the unsalted
    join."""
    parts = int(keyed.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    thr = max(AUTO_SALT_FLOOR, (8 * keyed.count()) // max(parts, 1))
    return (
        keyed.groupBy(*join_keys).agg(F.count("*").alias("_c"))
        .filter(F.col("_c") > thr)
        .select(*join_keys)
        .withColumn("_hot", F.lit(True))
    )


def _salted_join(a: DataFrame, b: DataFrame, a_cols: list, b_cols: list,
                 join_keys: list[str], hot: DataFrame | None = None) -> DataFrame:
    """Equi-join side a to side b on join_keys with each key split
    N_SALTS ways (triangle-join salting): a's rows explode over every
    salt, b's row takes salt pmod(xxhash64(id), N_SALTS), so every
    (a, b) pair meets exactly once and one hot key's quadratic blow-up
    spreads over N_SALTS tasks. Candidate keys are few and hot
    (rare-word prefix ords, LSH buckets, simhash bit-bands).

    a_cols / b_cols project each side (join keys included); `_salt` is
    appended to both. hot: the broadcast key table of _hot_keys — only
    its keys are salted, the rest join on salt 0; None salts every
    key."""
    salts = F.sequence(F.lit(0), F.lit(N_SALTS - 1))
    salt_b = F.pmod(F.xxhash64(F.col("id")), F.lit(N_SALTS))
    if hot is not None:
        a, b = (
            side.join(F.broadcast(hot), join_keys, "left")
            .withColumn("_hot", F.coalesce(F.col("_hot"), F.lit(False)))
            for side in (a, b)
        )
        salts = F.when(F.col("_hot"), salts).otherwise(F.array(F.lit(0)))
        salt_b = F.when(F.col("_hot"), salt_b).otherwise(F.lit(0))
    a = a.select(*a_cols, F.explode(salts).alias("_salt")).withColumn(
        "_salt", F.col("_salt").cast("int")
    )
    b = b.select(*b_cols, salt_b.cast("int").alias("_salt"))
    return a.join(b, [*join_keys, "_salt"])


def _size_ok(threshold: float, sz1: str = "sz1", sz2: str = "sz2") -> Column:
    """Length filter: Jaccard >= t forces min(sz) >= t * max(sz)."""
    return F.least(sz1, sz2) >= F.lit(threshold) * F.greatest(sz1, sz2)


def _keep_jaccard(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id1, id2, jaccard) of the rows whose Jaccard
    inter / (sz1 + sz2 - inter) >= threshold. The test is on the
    UNROUNDED double — the rule every pre-filter (size ratio, prefix
    length) is exact for, and the one the SQL oracles and NearDupIndex
    apply; only the output column is rounded to 6 places."""
    j = F.col("inter").cast("double") / (
        F.col("sz1") + F.col("sz2") - F.col("inter")
    )
    return pairs.filter(j >= threshold).select(
        "id1", "id2", F.round(j, 6).alias("jaccard")
    )


def _candidate_pairs(
    keyed: DataFrame, join_keys: list[str], threshold: float,
    band_dedup: tuple[int, int] | None = None,
) -> DataFrame:
    """Salted self-join of candidate rows into the pairs (id1 < id2)
    that pass the length filter; each side keeps its sz (sz1, sz2) and,
    when keyed has them, its masks (ma, mb) and signature (sig1, sig2).

    `keyed` = (id, <join_keys...>, sz[, masks][, sig]); it is PERSISTED
    (tiny — prefix/band rows — but its lineage of windows/ranks/
    signature aggregates would otherwise recompute for both join sides)
    and its hot keys are salted (_hot_keys, _salted_join). A `masks`
    column rides through the join as ma/mb for inline verification.

    band_dedup=(bands, rows): keyed rows also carry `sig` (the full
    k-element signature — k longs, far smaller than the masks) and a
    pair is kept only in its FIRST matching band (see
    _first_match_band); each pair then leaves the join exactly once, so
    no distinct() exchange is needed downstream."""
    keyed = keyed.persist()
    masks = "masks" in keyed.columns

    def side(i: int) -> list:
        return [
            *join_keys, F.col("id").alias(f"id{i}"), F.col("sz").alias(f"sz{i}"),
            *([F.col("masks").alias("ma" if i == 1 else "mb")] if masks else []),
            *([F.col("sig").alias(f"sig{i}")] if band_dedup else []),
        ]

    joined = (
        _salted_join(keyed, keyed, side(1), side(2), join_keys,
                     _hot_keys(keyed, join_keys))
        .filter(F.col("id1") < F.col("id2"))
        .filter(_size_ok(threshold))
    )
    if band_dedup:
        bands_n, rows_n = band_dedup
        joined = joined.filter(
            F.col("band")
            == _first_match_band(F.col("sig1"), F.col("sig2"), bands_n, rows_n)
        )
    return joined


def _fused_verified_pairs(
    keyed: DataFrame, join_keys: list[str], threshold: float,
    n_chunks: int | None, band_dedup: tuple[int, int] | None = None,
) -> DataFrame:
    """The bitmask verifier: candidate rows CARRY their own (sz, masks)
    through the salted self-join (_candidate_pairs) and Jaccard is
    verified inline, before any further exchange.

    The fusion matters at scale: candidate pairs exist only inside the
    join stage (map-side filter to true pairs before any further
    exchange) — no candidate `distinct()` and no per-side mask joins
    over the candidate blow-up, which dominated the unfused plan
    (measured 4x the true-pair count on the degenerate small-vocab
    tables). Without band_dedup the verified pairs are distinct()ed
    (a pair may share several prefix tokens)."""
    joined = _candidate_pairs(keyed, join_keys, threshold, band_dedup)
    out = _keep_jaccard(
        joined.withColumn("inter", _mask_inter(F.col("ma"), F.col("mb"), n_chunks)),
        threshold,
    )
    return out if band_dedup else out.distinct()


def _word_hash_sets(words: DataFrame) -> DataFrame:
    """(id, masks, sz): each doc's sorted xxhash64 word-hash array —
    the doc-sized payload of _verify_fetched. 64-bit hashes, not the
    strings: long array_intersect is ~an order of magnitude cheaper per
    pair, and a same-doc-pair collision (< 2^-64 per word pair) is far
    below any approximation the pipelines already accept."""
    return words.groupBy("id").agg(
        F.sort_array(F.collect_list(F.xxhash64("word"))).alias("masks"),
        F.count("*").alias("sz"),
    )


def _verify_fetched(cand: DataFrame, sets: DataFrame,
                    threshold: float) -> DataFrame:
    """The word-hash-array verifier: exact Jaccard of candidate pairs
    from each side's sorted word-hash array, fetched per pair —
    size(array_intersect) over the union. Used wherever the per-doc
    payload is doc-sized rather than vocab-sized (shingle vocabularies,
    open-vocabulary hash ids, the incremental index).

    cand = (id1, id2) pairs, each emitted once; sets = (id, sz, masks),
    masks the sorted array. When cand carries (sz1, sz2) its candidate
    join already applied the length filter and only the arrays are
    fetched; otherwise the sizes come with the arrays and the length
    filter runs before the intersection.

    Fetching keeps the arrays out of the salted candidate join:
    carrying each doc's array through it shuffles the array 2 x bands
    times across executors. Inside one JVM (local[N]) that shuffle is
    process-local and nearly free, but on a real cluster it is netty
    traffic — measured 2x SLOWER at 4 executors than at 1 on a
    1.5M-doc corpus (BENCH/BASELINE.md §6). Here the array-bearing
    table is only touched by the two pair-side joins; when candidates
    are few (the normal case post-LSH) AQE turns them into broadcast
    joins and the arrays never cross an exchange at all."""
    fetch_sz = "sz1" not in cand.columns

    def side(i: int, arr: str) -> DataFrame:
        return sets.select(
            F.col("id").alias(f"id{i}"),
            *([F.col("sz").alias(f"sz{i}")] if fetch_sz else []),
            F.col("masks").alias(arr),
        )

    pairs = cand.join(side(1, "ma"), "id1").join(side(2, "mb"), "id2")
    if fetch_sz:
        pairs = pairs.filter(_size_ok(threshold))
    return _keep_jaccard(
        pairs.withColumn("inter", F.size(F.array_intersect("ma", "mb")).cast("long")),
        threshold,
    )


def jaccard_pairs(
    df: DataFrame, threshold: float, text_col: str = "text",
    id_col: str = "doc_id", shingle: int = 1,
) -> DataFrame:
    """Exact word-set Jaccard >= threshold pairs (id1 < id2).

    Scale shape: prefix-filtered candidate generation (rare-word prefix
    buckets only) with the chunked bitmask CARRIED through the self-join
    — verification is inline integer codegen on the joined rows plus a
    length filter, and only verified pairs reach the final distinct.
    Equivalent to the naive shared-word join — the SQL oracle keeps the
    naive formulation as the cross-engine check.
    """
    # doc_words is the most expensive leaf of this plan for shingle mode
    # (per-doc slice/join HOFs) and feeds dfreq, the prefix build and
    # the verifier — compute it ONCE. The dense vocab rank (a second
    # global_rank over the whole vocabulary) is built ONLY on the fused
    # branch that consumes it; the wide-vocab branch decides from
    # dfreq's own aggregate (vocab size == max wid + 1 by construction).
    words = doc_words(df, text_col, id_col, shingle).persist()
    dfreq = words.groupBy("word").agg(F.count("*").alias("df")).persist()
    stats = dfreq.agg(
        F.count("*").alias("nv"), F.sum("df").alias("nw")
    ).collect()[0]
    n_vocab, n_words = int(stats.nv), int(stats.nw)
    n_chunks = (n_vocab - 1) // MASK_CHUNK_BITS + 1 if n_vocab else 1

    order = global_rank(
        dfreq,
        [F.col("df").asc(), F.col("word").asc()],
        out_col="ord",
    ).select("word", "ord")
    sized = words.join(F.broadcast(order), "word").withColumn(
        "sz", F.count("*").over(Window.partitionBy("id"))
    )
    pref_len = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int")
    prefix = (
        sized.withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("id").orderBy(F.col("ord").asc())),
        )
        .filter(F.col("rk") <= pref_len)
        .select("id", "ord")
    )
    # Representation + plan switch on how the per-doc payload would
    # ride through the candidate self-join. Narrow vocab (word mode):
    # the chunked bitmask is tiny (vocab/8 bytes per doc), so carry it
    # FUSED through the salted self-join with codegen popcount verify —
    # no candidate distinct() exchange. Wide vocab (shingles): the
    # bitmask balloons past the doc's own set size (and the fused join
    # replicates payloads N_SALTS-fold — measured OOM at 3-gram scale);
    # switch to the unfused plan: slim (id, ord)-only candidate join ->
    # distinct pairs -> per-side join of sorted word-hash arrays ->
    # array_intersect verify. Pairs post-prefix-filter are few relative
    # to the corpus there, so the two pair-side joins are the cheap
    # part. Threshold: mask chunks vs ~2x the average doc set size
    # (the array payload), capped at the codegen unroll width.
    avg_sz = n_words / max(df.count(), 1)
    if n_chunks > min(MASK_UNROLL_MAX, max(2 * avg_sz, 16)):
        sets = _word_hash_sets(words)
        cand = (
            prefix.alias("a")
            .join(prefix.alias("b"), "ord")
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
            .distinct()
        )
        return _verify_fetched(cand, sets, threshold)
    v = vocab(df, text_col, id_col, shingle=shingle, words=words)
    masks, _ = _doc_masks(words, v, n_chunks)
    keyed = prefix.join(masks, "id")  # prefix rows only — small join
    return _fused_verified_pairs(keyed, ["ord"], threshold, n_chunks)


def jaccard_pairs_sql(threshold: float, table: str = "documents",
                      text: str = "text", id_col: str = "doc_id",
                      shingle: int = 1) -> str:
    dw = _doc_words_sql(table, text, id_col, shingle)
    return f"""
      WITH words AS ({dw}),
      sizes AS (SELECT id, count(*) AS sz FROM words GROUP BY 1),
      inter AS (
        SELECT a.id AS id1, b.id AS id2, count(*) AS inter
        FROM words a JOIN words b USING (word)
        WHERE a.id < b.id GROUP BY 1, 2
      )
      SELECT id1, id2,
             round(CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter), 6) AS jaccard
      FROM inter
      JOIN sizes s1 ON s1.id = id1
      JOIN sizes s2 ON s2.id = id2
      WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= {sql_double(threshold, 'duckdb')}
    """


def containment_pairs(
    df: DataFrame, threshold: float, text_col: str = "text",
    id_col: str = "doc_id", shingle: int = 1,
) -> DataFrame:
    """Directed shingle containment C(src->dst) = |S(src) inter S(dst)|
    / |S(src)| >= threshold, emitted as (src_id, dst_id, containment).

    The ASYMMETRIC near-dup measure (Broder 1997): a short document
    quoted verbatim inside a long host page has containment 1.0 while
    its Jaccard resemblance (inter/union) vanishes as the host grows —
    so the resemblance pipelines (jaccard/minhash) structurally cannot
    find quote/superset relations. Web-corpus uses: snippet farms,
    syndicated excerpts, quote-with-commentary pages.

    Scale shape: src-side prefix filter — C >= t forces
    inter >= ceil(t*sz_src), so the intersection cannot hide entirely in
    src's last ceil(t*sz_src) - 1 tokens of the global rare-first order;
    a candidate must share a token within src's first
    sz - ceil(t*sz) + 1 tokens (the bound involves ONLY the src size,
    which is why dst cannot be prefix-filtered and is indexed on every
    token). Rarest-first ordering keeps the postings lists the join
    fans out over the smallest in the corpus, and hot tokens are
    count-gated salted (_hot_keys over the full postings, the side a
    hot token actually blows up; _salted_join explodes the src prefix
    rows — every pair meets exactly once). Verify = sorted word-hash
    arrays with a dst-size filter (inter <= sz_dst, so
    sz_dst >= t*sz_src) before the intersection. One candidate
    distinct(), two pair-side set joins — the wide-vocabulary (open
    web) payload shape.
    """
    words = doc_words(df, text_col, id_col, shingle).persist()
    dfreq = words.groupBy("word").agg(F.count("*").alias("df"))
    order = global_rank(
        dfreq, [F.col("df").asc(), F.col("word").asc()], out_col="ord"
    ).select("word", "ord")
    indexed = words.join(F.broadcast(order), "word").withColumn(
        "sz", F.count("*").over(Window.partitionBy("id"))
    ).withColumn(
        # token position in the doc's rare-first order — shared by the
        # prefix cut (a-side) and the PPJoin positional filter (both
        # sides); one in-partition sort, same exchange as the sz count
        "rk",
        F.row_number().over(Window.partitionBy("id").orderBy(F.col("ord").asc())),
    ).persist()
    pref_len = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int")
    prefix = indexed.filter(F.col("rk") <= pref_len).select(
        "id", "ord", "sz", "rk"
    )
    cand = (
        _salted_join(
            prefix, indexed,
            ["ord", F.col("id").alias("src_id"), F.col("sz").alias("_sza"),
             F.col("rk").alias("_rka")],
            ["ord", F.col("id").alias("dst_id"), F.col("sz").alias("_szb"),
             F.col("rk").alias("_rkb")],
            ["ord"], _hot_keys(indexed, ["ord"]),
        )
        .filter(F.col("src_id") != F.col("dst_id"))
        # size filter INSIDE the candidate join (before the distinct
        # exchange): inter <= sz_dst, so C >= t forces sz_dst >= t*sz_src
        .filter(F.col("_szb") >= F.lit(threshold) * F.col("_sza"))
        # PPJoin positional filter (Xiao et al. 2008): common tokens
        # all sit at-or-after this match in BOTH rare-first orders when
        # this is the pair's FIRST common token, so
        # inter <= 1 + min(sz_a - rk_a, sz_b - rk_b). Filtering every
        # match row with that as-if-first bound is exact: the true
        # first-match row's bound is a valid certificate (if it fails,
        # the pair cannot reach ceil(t*sz_src) overlap), and a pair
        # surviving via any other row still goes through exact verify.
        # Measured on the dup-dense sf0.1 corpus: 12.8M -> 8.4M
        # candidates ahead of the distinct + verify exchanges.
        .filter(
            1 + F.least(
                F.col("_sza") - F.col("_rka"), F.col("_szb") - F.col("_rkb")
            )
            >= F.ceil(F.lit(threshold) * F.col("_sza"))
        )
        .select("src_id", "dst_id")
        .distinct()
    )
    sets = _word_hash_sets(words)
    m1 = sets.select(F.col("id").alias("src_id"), F.col("sz").alias("sz1"),
                     F.col("masks").alias("ma"))
    m2 = sets.select(F.col("id").alias("dst_id"), F.col("sz").alias("sz2"),
                     F.col("masks").alias("mb"))
    # unrounded test, rounded output — the rule of _keep_jaccard
    c = F.col("inter").cast("double") / F.col("sz1")
    return (
        cand.join(m1, "src_id").join(m2, "dst_id")
        # inter <= sz_dst, so containment >= t needs sz_dst >= t*sz_src
        .filter(F.col("sz2") >= F.lit(threshold) * F.col("sz1"))
        .withColumn("inter", F.size(F.array_intersect("ma", "mb")).cast("long"))
        .filter(c >= threshold)
        .select("src_id", "dst_id", F.round(c, 6).alias("containment"))
    )


def containment_pairs_sql(threshold: float, table: str = "documents",
                          text: str = "text", id_col: str = "doc_id",
                          shingle: int = 1) -> str:
    """Naive shared-token formulation — the cross-engine check for
    containment_pairs (the prefix filter is exact, so both agree)."""
    dw = _doc_words_sql(table, text, id_col, shingle)
    return f"""
      WITH words AS ({dw}),
      sizes AS (SELECT id, count(*) AS sz FROM words GROUP BY 1),
      inter AS (
        SELECT a.id AS src_id, b.id AS dst_id, count(*) AS inter
        FROM words a JOIN words b USING (word)
        WHERE a.id <> b.id GROUP BY 1, 2
      )
      SELECT src_id, dst_id,
             round(CAST(inter AS DOUBLE) / s1.sz, 6) AS containment
      FROM inter
      JOIN sizes s1 ON s1.id = src_id
      WHERE CAST(inter AS DOUBLE) / s1.sz >= {sql_double(threshold, 'duckdb')}
    """


def vocab(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    mode: str = "rank", shingle: int = 1, words: DataFrame | None = None,
) -> DataFrame:
    """word -> id.

    mode="rank": deterministic dense id (sorted-vocab rank, 0-based),
    computed DISTRIBUTED via ordered.global_rank (range partition +
    offsets — no single-task window). Dense ids enable the bitmask
    verifier and are what the SQL oracles replicate.

    mode="hash": wid = pmod(xxhash64(word), 2^31-1) — zero shuffles over
    the vocabulary, the open-vocabulary 100 TB path. Ids are sparse (no
    bitmask verifier; minhash/simhash treat them as hash-domain points)
    and rare collisions only perturb the approximate signatures.
    """
    if words is None:
        words = doc_words(df, text_col, id_col, shingle)
    w = words.select("word").distinct()
    if mode == "hash":
        return w.withColumn("wid", F.pmod(F.xxhash64("word"), F.lit(P31)))
    return global_rank(w, [F.col("word").asc()], out_col="wid", zero_based=True)


def minhash_signature_arrays(
    df: DataFrame, k: int = MINHASH_K, text_col: str = "text",
    id_col: str = "doc_id", word_id_mode: str = "rank",
    words: DataFrame | None = None,
    wids: DataFrame | None = None,
) -> DataFrame:
    """(id, sig): the k-element minhash signature as one array<long>.

    One groupBy(id) with k map-side-combining min aggregates — the
    per-word hash values never fan out k-fold into a shuffle (the naive
    (id, h) shape shuffles k x corpus-words rows). In hash mode the word
    id is computed inline (pmod(xxhash64(word), P31)): zero vocabulary
    shuffles — no distinct, no join — the open-vocabulary 100 TB path.
    Pass a precomputed (id, wid) frame via ``wids`` when the caller
    shares it with another consumer (minhash_dedup_pairs shares it with
    the bitmask build — computing the vocab join once, not twice)."""
    if wids is None:
        if words is None:
            words = doc_words(df, text_col, id_col)
        if word_id_mode == "hash":
            wids = words.select(
                "id", F.pmod(F.xxhash64("word"), F.lit(P31)).alias("wid")
            )
        else:
            v = vocab(df, text_col, id_col, mode=word_id_mode, words=words)
            wids = words.join(v, "word").select("id", "wid")
    mins = wids.groupBy("id").agg(*[
        F.min((F.col("wid") * F.lit(a) + F.lit(c)) % P31).alias(f"_m{i}")
        for i, (a, c) in enumerate(_hash_params(k))
    ])
    return mins.select(
        "id", F.array(*[f"_m{i}" for i in range(k)]).alias("sig")
    )


def minhash_bands(sigs: DataFrame, bands: int = MINHASH_BANDS, k: int = MINHASH_K) -> DataFrame:
    """(id, band, key): banded signature keys for the LSH bucket join."""
    rows = k // bands
    banded = sigs.withColumn("band", (F.col("h") / rows).cast("int"))
    return banded.groupBy("id", "band").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("h", "minh"))),
                lambda s: s.getField("minh").cast("string"),
            ),
            ",",
        ).alias("key")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    text_col: str = "text",
    id_col: str = "doc_id",
    word_id_mode: str = "rank",
) -> DataFrame:
    """LSH candidate pairs (same bucket in >= 1 band), verified with true
    Jaccard >= threshold. Only bucket-mates are ever pair-joined — the
    100 TB path; the exact jaccard_pairs() is the small-scale oracle.

    Both modes run the same salted bucket self-join (_candidate_pairs)
    with the signature riding along, so each pair is kept in its first
    matching band only and no distinct is needed. The verifier follows
    the word ids:

    * rank (default): the chunked bitmask (8 bytes/chunk) rides through
      the join and Jaccard is verified inline (_fused_verified_pairs).
    * hash: removes every vocabulary shuffle (see vocab()). Candidates
      carry only (sz, sig) and fetch each doc's sorted word-hash ARRAY
      per surviving pair (_verify_fetched; exact array_intersect,
      open-vocabulary, no dense ids)."""
    rows_n = k // bands
    words = doc_words(df, text_col, id_col).persist()
    v = wids = None
    if word_id_mode == "rank":
        # the vocab join feeds BOTH the signature build and the bitmask
        # build below — share one persisted (id, wid) frame instead of
        # running the global-rank vocab + join twice
        v = vocab(df, text_col, id_col, words=words).persist()
        wids = words.join(v, "word").select("id", "wid").persist()
    sigarr = minhash_signature_arrays(
        df, k, text_col, id_col, word_id_mode, words=words, wids=wids
    )
    # band rows built straight off the signature array, which rides along
    # so the verifier can first-band-filter (see _first_match_band)
    bnd = sigarr.select(
        "id", "sig",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).withColumn(
        "key",
        F.array_join(
            F.transform(
                F.slice(F.col("sig"), F.col("band") * rows_n + 1, F.lit(rows_n)),
                lambda x: x.cast("string"),
            ),
            ",",
        ),
    )
    if word_id_mode != "rank":
        sets = _word_hash_sets(words)
        cand = _candidate_pairs(
            bnd.join(sets.select("id", "sz"), "id"), ["band", "key"],
            threshold, band_dedup=(bands, rows_n),
        ).select("id1", "id2", "sz1", "sz2")
        return _verify_fetched(cand, sets, threshold)
    masks, n_chunks = _doc_masks(words, v, wids=wids)
    keyed = bnd.join(masks, "id")
    return _fused_verified_pairs(
        keyed, ["band", "key"], threshold, n_chunks,
        band_dedup=(bands, rows_n)
    )


def minhash_dedup_pairs_sql(
    threshold: float, k: int = MINHASH_K, bands: int = MINHASH_BANDS,
    table: str = "documents", text: str = "text", id_col: str = "doc_id",
) -> str:
    rows = k // bands
    params = ", ".join(
        f"({i}, {a}, {c})" for i, (a, c) in enumerate(_hash_params(k))
    )
    dw = _doc_words_sql(table, text, id_col)
    return f"""
      WITH words AS ({dw}),
      vocab AS (
        SELECT word, row_number() OVER (ORDER BY word) - 1 AS wid
        FROM (SELECT DISTINCT word FROM words)
      ),
      wids AS (SELECT id, wid FROM words JOIN vocab USING (word)),
      params(h, a, c) AS (VALUES {params}),
      sigs AS (
        SELECT id, h, min((wid * a + c) % {P31}) AS minh
        FROM wids CROSS JOIN params GROUP BY 1, 2
      ),
      bnd AS (
        -- h // rows: DuckDB '/' is float division and CAST rounds —
        -- must truncate like Spark's cast("int")
        SELECT id, CAST(h // {rows} AS INTEGER) AS band,
               string_agg(CAST(minh AS VARCHAR), ',' ORDER BY h) AS key
        FROM sigs GROUP BY 1, 2
      ),
      cand AS (
        SELECT DISTINCT a.id AS id1, b.id AS id2
        FROM bnd a JOIN bnd b USING (band, key) WHERE a.id < b.id
      ),
      sizes AS (SELECT id, count(*) AS sz FROM words GROUP BY 1),
      inter AS (
        SELECT id1, id2, count(*) AS inter
        FROM cand
        JOIN words w1 ON w1.id = cand.id1
        JOIN words w2 ON w2.id = cand.id2 AND w2.word = w1.word
        GROUP BY 1, 2
      )
      SELECT id1, id2,
             round(CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter), 6) AS jaccard
      FROM inter JOIN sizes s1 ON s1.id = id1 JOIN sizes s2 ON s2.id = id2
      WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= {sql_double(threshold, 'duckdb')}
    """


SIMHASH_BITS = 16


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            word_id_mode: str = "rank") -> DataFrame:
    """(id, simhash): 16-bit SimHash over the distinct word set.

    bit b of word wid = ((wid * A_b + C_b) % P) % 2; document bit b set
    iff the majority of its words set it (sum(2*bit-1) > 0)."""
    words = doc_words(df, text_col, id_col)
    if word_id_mode == "hash":
        # open-vocabulary path: wid directly from the word bytes — no
        # vocabulary materialization, no join
        wids = words.select(
            "id", F.pmod(F.xxhash64("word"), F.lit(P31)).alias("wid")
        )
    else:
        # rank (oracle-parity) mode: the ranked vocab is a dimension
        # table — broadcast it rather than shuffling the exploded words
        v = vocab(df, text_col, id_col, mode=word_id_mode, words=words)
        wids = words.join(F.broadcast(v), "word").select("id", "wid")
    # all SIMHASH_BITS ±1 contributions as flat codegen columns — one
    # map-side-combined groupBy(id), no ×bits row explosion
    coeffs = [
        ((b * 2654435761 + 101) % P31, (b * 40503 + 11) % P31)
        for b in range(SIMHASH_BITS)
    ]
    sums = [
        F.sum(
            ((F.col("wid") * F.lit(a) + F.lit(c)) % P31) % 2 * 2 - 1
        ).alias(f"_s{b}")
        for b, (a, c) in enumerate(coeffs)
    ]
    per_doc = wids.groupBy("id").agg(*sums)
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"_s{b}") > 0, F.lit(1 << b)).otherwise(0)
        sig = term if sig is None else sig + term
    return per_doc.select("id", sig.cast("long").alias("simhash"))


def simhash_sql(table: str = "documents", text: str = "text",
                id_col: str = "doc_id") -> str:
    dw = _doc_words_sql(table, text, id_col)
    bits = ", ".join(
        f"({b}, {(b * 2654435761 + 101) % P31}, {(b * 40503 + 11) % P31})"
        for b in range(SIMHASH_BITS)
    )
    return f"""
      WITH words AS ({dw}),
      vocab AS (
        SELECT word, row_number() OVER (ORDER BY word) - 1 AS wid
        FROM (SELECT DISTINCT word FROM words)
      ),
      wids AS (SELECT id, wid FROM words JOIN vocab USING (word)),
      bits(b, a, c) AS (VALUES {bits}),
      contrib AS (
        SELECT id, b, sum(((wid * a + c) % {P31}) % 2 * 2 - 1) AS s
        FROM wids CROSS JOIN bits GROUP BY 1, 2
      )
      SELECT id, sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
               AS simhash
      FROM contrib GROUP BY 1
    """


def _simhash_band_bounds(bits: int, n_bands: int) -> list[tuple[int, int]]:
    """Split `bits` into n_bands contiguous (shift, width) chunks."""
    base, rem = divmod(bits, n_bands)
    bounds, shift = [], 0
    for i in range(n_bands):
        width = base + (1 if i < rem else 0)
        bounds.append((shift, width))
        shift += width
    return bounds


def simhash_pairs(
    sim: DataFrame, max_hamming: int, banded: bool = True,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-dup pairs by Hamming distance over simhash values.

    banded=True (default, the scale path): pigeonhole — two hashes at
    Hamming distance <= h differ in at most h of the h+1 disjoint bit
    bands, so at least one band matches EXACTLY. Candidates come from an
    equi-join on (band_idx, band_value) — a hash-partitioned shuffle
    bounded by band-bucket sizes, no crossJoin anywhere in the plan —
    then the exact bit_count verify keeps true pairs only (100% recall
    by the pigeonhole argument, zero false positives after the verify).

    banded=False keeps the exact all-pairs join (tiny inputs, and the
    recall oracle for the banded plan in tests)."""
    if not banded:
        a = sim.select(F.col("id").alias("id1"), F.col("simhash").alias("s1"))
        b = sim.select(F.col("id").alias("id2"), F.col("simhash").alias("s2"))
        return (
            a.crossJoin(b)
            .filter(F.col("id1") < F.col("id2"))
            .withColumn("hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("id1", "id2", "hamming")
        )
    bounds = _simhash_band_bounds(bits, max_hamming + 1)
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("simhash"), shift)
                # width=64 (single band over a full long): (1<<64)-1
                # overflows a Java long; -1 is the same all-ones mask
                .bitwiseAND(F.lit(-1 if width >= 64 else (1 << width) - 1))
                .alias("bval"),
            )
            for i, (shift, width) in enumerate(bounds)
        ]
    )
    keyed = sim.select(
        "id", "simhash", F.explode(bands).alias("_b")
    ).select("id", "simhash", F.col("_b.band").alias("band"),
             F.col("_b.bval").alias("bval")).persist()
    # every key salted (band x bval keys are FEW — e.g. 4 x 16 for a
    # 16-bit hash — so unsalted parallelism caps at the key count)
    return (
        _salted_join(
            keyed, keyed,
            [F.col("id").alias("id1"), F.col("simhash").alias("s1"), "band", "bval"],
            [F.col("id").alias("id2"), F.col("simhash").alias("s2"), "band", "bval"],
            ["band", "bval"],
        )
        .filter(F.col("id1") < F.col("id2"))
        .select(
            "id1", "id2",
            F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def canonicalize(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    driver_max_edges: int = 5_000_000, keep_by: str | None = None,
) -> DataFrame:
    """Near-dup CLUSTERING -> canonical-document selection: connected
    components of the verified pair graph; canonical = the smallest
    member id of each group (the deterministic "keep first" rule every
    dedup pipeline needs after pair generation), or — with ``keep_by``
    — the member with the LARGEST value of that quality column
    (smallest id on ties): the "keep the best capture" rule, where the
    survivor is the longest / highest-scoring duplicate rather than
    the oldest.

    Execution reuses the graph-generic CC primitives behind
    filters.cluster (operators/pointcloud): driver union-find under
    `driver_max_edges`, distributed min-label propagation above it — so
    a 100 TB pair list never materializes on the driver. ``keep_by``
    adds ONE component-keyed window (argmax over the root label the CC
    output already carries). Adds `canonical_id` and `is_canonical`
    (1 for the kept doc)."""
    from pdal_spark.operators.pointcloud import _cc_roots

    pts = df.select(F.col(id_col).alias("id"))
    edges = pairs.select(
        F.col("id1").alias("src_id"), F.col("id2").alias("cand_id")
    ).persist()
    roots = _cc_roots(pts, edges, driver_max_edges)
    side = roots.select(
        F.col("id").alias(id_col), F.col("root").alias("canonical_id")
    )
    out = df.join(side, id_col)
    if keep_by is not None:
        w = Window.partitionBy("canonical_id").orderBy(
            F.col(keep_by).desc(), F.col(id_col).asc()
        )
        out = (
            out.withColumn("_best", F.first(F.col(id_col)).over(w))
            .drop("canonical_id")
            .withColumnRenamed("_best", "canonical_id")
        )
    return out.withColumn(
        "is_canonical",
        (F.col(id_col) == F.col("canonical_id")).cast("int"),
    )


def paragraph_chunks(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    chunk_words: int = 10,
) -> DataFrame:
    """Explode each document into consecutive ``chunk_words``-word
    paragraphs: (id, chunk_idx, chunk). The synthetic corpus is
    single-space joined with no newlines, so fixed-width word windows
    stand in for the paragraph boundary a real crawl carries; on real
    pages pass the text pre-split on '\\n' instead.

    Pure column math (split/slice/array_join over the token array), so
    the explode runs at scan speed and the DuckDB twin is bit-exact."""
    toks = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(chunk_words))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * chunk_words + 1, chunk_words), " "
        ),
    )
    return df.select(
        F.col(id_col).alias("id"),
        n_chunks.alias("n_chunks"),
        F.posexplode(chunks).alias("chunk_idx", "chunk"),
    )


def paragraph_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    chunk_words: int = 10, key: str = "text",
) -> DataFrame:
    """CCNet-style paragraph-level exact dedup (Wenzek et al. 2020):
    drop every repeated paragraph corpus-wide (first occurrence in
    (doc_id, chunk_idx) order wins), then reassemble each document from
    its surviving paragraphs. Documents whose every paragraph appeared
    earlier elsewhere vanish entirely — that IS the dedup semantics.

    Output: (doc_id, text_dedup, n_kept, n_chunks).

    Execution shape (100 TB): the first occurrence per paragraph is
    min(struct(id, chunk_idx)) under groupBy(paragraph) — an
    associative aggregate, so map-side partial aggregation collapses a
    boilerplate paragraph repeated in 10^9 documents BEFORE the
    exchange (a per-paragraph window would funnel every occurrence of
    a hot paragraph into one task). The winners ARE the surviving
    rows, so no join back; one more combinable exchange on doc_id
    reassembles. ``key="text"`` groups on the paragraph string itself
    (exact, SQL-twinned); ``key="hash"`` prepends xxhash64(chunk) so
    shuffle-key comparisons are 8-byte first — the string stays in the
    key, so a hash collision can never drop a distinct paragraph."""
    ch = paragraph_chunks(df, text_col, id_col, chunk_words)
    if key == "hash":
        group_cols = [F.xxhash64("chunk").alias("_h"), F.col("chunk")]
    else:
        group_cols = [F.col("chunk")]
    winners = ch.groupBy(*group_cols).agg(
        F.min(F.struct("id", "chunk_idx", "n_chunks")).alias("_w")
    )
    kept = winners.select(
        F.col("_w.id").alias("id"),
        F.col("_w.chunk_idx").alias("chunk_idx"),
        F.col("_w.n_chunks").alias("n_chunks"),
        "chunk",
    )
    return (
        kept.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("text_dedup"),
            F.count(F.lit(1)).alias("n_kept"),
            F.max("n_chunks").cast("long").alias("n_chunks"),
        )
        .withColumnRenamed("id", "doc_id")
    )


def paragraph_dedup_sql(
    table: str = "documents", text: str = "text", id_col: str = "doc_id",
    chunk_words: int = 10,
) -> str:
    """DuckDB twin: identical chunking (1-based list slice), identical
    first-occurrence rule, string_agg reassembly ordered by chunk_idx."""
    w = chunk_words
    return (
        f"WITH toks AS (SELECT {id_col} AS id, string_split({text}, ' ') AS wd FROM {table}), "
        f"ch AS (SELECT id, "
        f"  unnest(range(CAST(ceil(len(wd) / {w}.0) AS BIGINT))) AS chunk_idx, "
        f"  unnest(list_transform(range(CAST(ceil(len(wd) / {w}.0) AS BIGINT)), "
        f"    i -> array_to_string(wd[(i*{w}+1):(i*{w}+{w})], ' '))) AS chunk, "
        f"  CAST(ceil(len(wd) / {w}.0) AS BIGINT) AS n_chunks "
        f"FROM toks), "
        f"first_occ AS (SELECT *, row_number() OVER ("
        f"  PARTITION BY chunk ORDER BY id, chunk_idx) AS rn FROM ch) "
        f"SELECT id AS doc_id, "
        f"  string_agg(chunk, ' ' ORDER BY chunk_idx) AS text_dedup, "
        f"  count(*) AS n_kept, max(n_chunks) AS n_chunks "
        f"FROM first_occ WHERE rn = 1 GROUP BY id"
    )


def minhash_band_keys_cols(
    df: DataFrame,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, key): LSH band keys via PURE per-row column math — no
    groupBy, no shuffle, no state. h_i = min over the doc's distinct
    words of the affine hash of pmod(xxhash64(word), P31), i.e.
    algebraically identical to minhash_signature_arrays(
    word_id_mode="hash") and producing byte-identical band keys (same
    slice + cast + ',' join). The batch path prefers the groupBy form
    (words are already exploded for the verifier); THIS form is the
    streaming/ingest shape — stateless, so it runs on a readStream
    frame ahead of the stateful novelty screen."""
    rows_n = k // bands
    elems = F.array_distinct(F.split(F.col(text_col), " "))

    def _minh(a: int, c: int):
        # closure factory: Spark introspects HOF lambda arity, so the
        # params can't ride as defaulted lambda args
        return lambda w: (
            F.pmod(F.xxhash64(w), F.lit(P31)) * F.lit(a) + F.lit(c)
        ) % F.lit(P31)

    sig = F.array(
        *[
            F.array_min(F.transform(elems, _minh(a, c)))
            for (a, c) in _hash_params(k)
        ]
    )
    return (
        df.select(F.col(id_col).alias("id"), sig.alias("_sig"))
        .select(
            "id",
            "_sig",
            F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        )
        .select(
            "id",
            F.col("band").cast("int").alias("band"),
            F.array_join(
                F.transform(
                    F.slice(
                        F.col("_sig"), F.col("band") * rows_n + 1, F.lit(rows_n)
                    ),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("key"),
        )
    )


def lsh_plan(
    n_hashes: int,
    threshold: float,
    resolution: int = 1000,
) -> dict:
    """Choose the (bands, rows) split of an ``n_hashes`` MinHash budget
    for a target Jaccard ``threshold`` — the S-curve planner.

    A pair with true Jaccard s collides in at least one of b bands of r
    rows with probability P(s) = 1 - (1 - s^r)^b. The planner picks the
    divisor pair b*r = n_hashes minimizing the integrated deviation of
    P from the ideal step at ``threshold`` (the datasketch/MMDS
    criterion: integral of P below the threshold = false-positive area,
    integral of 1-P above = false-negative area). Returns the chosen
    plan plus its operating curve so callers can trade shuffle volume
    (more bands = more candidate rows through the bucket exchange)
    against recall BEFORE running the 100-TB job.

    Driver-side closed-form arithmetic only — no Spark job; feeds
    minhash_bands(bands=...) / minhash_dedup_pairs.
    """
    if not (0.0 < threshold < 1.0):
        raise ValueError("threshold must be in (0, 1)")
    if n_hashes < 2:
        raise ValueError("need at least 2 hashes")
    import numpy as np

    ss = (np.arange(resolution) + 0.5) / resolution
    best = None
    for r in range(1, n_hashes + 1):
        if n_hashes % r:
            continue
        b = n_hashes // r
        p = 1.0 - (1.0 - ss**r) ** b
        fp_area = float(p[ss < threshold].sum()) / resolution
        fn_area = float((1.0 - p)[ss >= threshold].sum()) / resolution
        err = fp_area + fn_area
        if best is None or err < best["error"]:
            best = {
                "bands": b,
                "rows": r,
                "error": err,
                "fp_area": fp_area,
                "fn_area": fn_area,
            }
    b, r = best["bands"], best["rows"]

    def p_collide(s: float) -> float:
        return 1.0 - (1.0 - s**r) ** b

    best["threshold_est"] = float((1.0 / b) ** (1.0 / r))
    best["p_at_threshold"] = p_collide(threshold)
    best["recall_at"] = {
        round(threshold + d, 4): round(p_collide(min(threshold + d, 1.0)), 6)
        for d in (0.0, 0.05, 0.1, 0.2)
    }
    best["fp_at"] = {
        round(threshold - d, 4): round(p_collide(max(threshold - d, 0.0)), 6)
        for d in (0.1, 0.2, 0.3)
    }
    return best


def edit_distance_pairs(
    df: DataFrame,
    max_dist: int = 8,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Edit-distance-verified near-dup pairs: SimHash bit-band screen
    (no crossJoin — the pigeonhole candidate join) then EXACT
    Levenshtein verify on the surviving candidates only. Levenshtein
    is the right verifier for character-level mutations (OCR noise,
    typo farms, template fills) that word-set Jaccard under-weights —
    but the full n² distance matrix is unthinkable at corpus scale, so
    the screen does the pruning and the O(len²) DP runs only on
    screened pairs (both engines ship the same classic unit-cost DP,
    so the verify is bit-exact).

    Honest recall note: candidates come from the word-set SimHash
    screen, so a pair must ALSO be within max_hamming there — a small
    character edit usually is (it perturbs at most a couple of words);
    pathological pairs (every word slightly misspelled) exceed the
    screen and are missed. The oracle replays screen + verify, so the
    contract is exact over the screened set.

    Output: (id1, id2, hamming, edit_dist) with edit_dist <= max_dist.
    """
    sim = simhash(df, text_col=text_col, id_col=id_col)
    cand = simhash_pairs(sim, max_hamming=max_hamming)
    t1 = df.select(
        F.col(id_col).alias("id1"), F.col(text_col).alias("_t1")
    )
    t2 = df.select(
        F.col(id_col).alias("id2"), F.col(text_col).alias("_t2")
    )
    # two exact prunes before/inside the DP (a near-dup-dense corpus
    # floods the screen — sf0.1 measured 157 s with the naive full
    # matrix): (1) |len(a) − len(b)| is a Levenshtein lower bound, so
    # longer-diff pairs drop for free; (2) the threshold form
    # levenshtein(a, b, d) runs Ukkonen's O(len·d) band and returns -1
    # above d — identical values for every surviving row.
    return (
        cand.join(t1, "id1")
        .join(t2, "id2")
        .filter(
            F.abs(F.length("_t1") - F.length("_t2")) <= F.lit(max_dist)
        )
        .withColumn(
            "edit_dist",
            F.levenshtein(F.col("_t1"), F.col("_t2"), max_dist),
        )
        .filter(
            (F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist)
        )
        .select(
            "id1",
            "id2",
            F.col("hamming").cast("int").alias("hamming"),
            F.col("edit_dist").cast("int").alias("edit_dist"),
        )
    )


def edit_distance_pairs_sql(
    table: str = "documents",
    max_dist: int = 8,
    max_hamming: int = 3,
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin: identical screen (exact all-pairs Hamming — the
    banded engine join is 100%-recall by pigeonhole, so the sets
    match) + identical Levenshtein verify."""
    return f"""
WITH sim AS ({simhash_sql(table=table, text=text, id_col=id_col)}),
cand AS (
  SELECT a.id AS id1, b.id AS id2,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
  FROM sim a JOIN sim b ON a.id < b.id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {int(max_hamming)}
)
SELECT id1, id2, hamming,
       CAST(levenshtein(d1.{text}, d2.{text}) AS INTEGER) AS edit_dist
FROM cand
JOIN {table} d1 ON cand.id1 = d1.{id_col}
JOIN {table} d2 ON cand.id2 = d2.{id_col}
WHERE levenshtein(d1.{text}, d2.{text}) <= {int(max_dist)}
""".strip()


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_keys: list,
    window: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD 1995):
    order the corpus by a discriminating key, emit every pair within
    ``window`` positions — the classic record-linkage candidate
    generator for near-dup keys that SORT together (canonical urls,
    title strings, simhash values) where token-based blocking misses.

    Scale shape: the global order comes from `ordered.global_rank`
    (range partition + offsets — no single-task window); neighbors
    materialize as an explode of 1..window rank offsets joined back on
    the rank value (one equi-join exchange, |out| = n*window exactly —
    no quadratic block risk, the property sorted-neighborhood is chosen
    for). The DuckDB twin is row_number + a rank-distance self-join.

    -> (id1, id2, rank_dist) with id1 at the lower rank.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    from pdal_spark.operators.ordered import global_rank

    ranked = global_rank(df, sort_keys, out_col="_rk").select(
        F.col(id_col), F.col("_rk")
    )
    probes = ranked.select(
        F.col(id_col).alias("id1"),
        F.col("_rk").alias("_r1"),
        F.explode(
            F.sequence(F.lit(1), F.lit(window))
        ).alias("_d"),
    ).withColumn("_rk", F.col("_r1") + F.col("_d"))
    return (
        probes.join(
            ranked.select(F.col(id_col).alias("id2"), "_rk"), "_rk"
        )
        .select(
            "id1", "id2", F.col("_d").cast("long").alias("rank_dist")
        )
    )


def sorted_neighborhood_sql(
    order_by: str, window: int, table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin: row_number + rank-distance self-join."""
    return f"""
      WITH ranked AS (
        SELECT {id_col}, row_number() OVER (ORDER BY {order_by}) AS rk
        FROM {table}
      )
      SELECT a.{id_col} AS id1, b.{id_col} AS id2,
             CAST(b.rk - a.rk AS BIGINT) AS rank_dist
      FROM ranked a JOIN ranked b
        ON b.rk > a.rk AND b.rk <= a.rk + {window}
    """
