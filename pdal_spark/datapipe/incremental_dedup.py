"""Snapshot-incremental near-dup dedup: screen each crawl increment
against everything already ingested — WITHOUT rescanning the corpus.

At 100 TB the corpus is append-only (weekly crawl drops); re-running
batch MinHash dedup over the whole table per drop re-pays the full
scan + signature cost for data that cannot have changed. The index
here persists exactly what the LSH join needs — per-doc banded bucket
keys and the sorted word-hash array the exact verifier uses — in
snapshot catalogs (catalog.SnapshotTable), so an ingest touches:

* the increment (full featurize: ONE pass, open-vocabulary hashed
  word ids — zero vocabulary shuffles, dedup.vocab() hash mode), and
* the index tables, via a bucket equi-join on (band, key) — only
  bucket-mates of new docs are ever read as pairs.

The corpus TEXT table is never read during ingest; candidates verify
against the stored word-hash arrays (exact Jaccard on the hashed-word
sets, the same semantics as minhash_dedup_pairs word_id_mode="hash").

Online semantics (documented, tested): every distinct feature set
enters the index, including dropped docs' (so later increments can
match docs that were themselves dropped — near-dup chains across
increments resolve like batch), but
survivors are decided at ingest time: the connected components of the
verified pairs touching this increment, canonical = smallest id.
Requires ids monotone across increments (crawl ids are). The one
divergence from whole-corpus batch CC is a LATER doc bridging two
already-kept components — batch would retroactively merge them and
keep one; online keeps both (the bridge itself is dropped either
way). tests/test_incremental_dedup.py pins batch parity on non-
bridging corpora and documents the bridge case explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdal_spark.catalog import SnapshotTable
from pdal_spark.datapipe.dedup import (
    MINHASH_BANDS,
    MINHASH_K,
    P31,
    _first_match_band,
    _hash_params,
    _size_ok,
    _verify_fetched,
    doc_words,
)
from pdal_spark.operators.pointcloud import cc_edge_roots
from pdal_spark.parquet import read_parquet

__all__ = ["NearDupIndex"]


class NearDupIndex:
    """Persistent LSH + verifier index over snapshot catalogs.

    CONTRACT: doc ids must be MONOTONE with arrival order (each
    increment's ids exceed all previously ingested ids) — that is what
    makes "canonical = smallest id" mean "oldest doc wins" and keeps
    incremental keep-decisions consistent with batch dedup over the
    union (parity fuzz: tests/test_incremental_dedup.py). With
    interleaved ids a later increment can contain the would-be batch
    canonical of an already-kept doc, and since keeps are never
    retracted the corpora legitimately diverge.

    Tables under ``root``: ``docs`` (the deduped corpus — survivors
    only), ``arrays`` (id, sz, warr — sorted word-hash sets) and ``bands``
    (id, band, key — bucket keys), both for exact-dup REPRESENTATIVES
    (a member's features are bit-identical to its rep's, so indexing
    them would add cost and no recall). Dropped near-dup reps stay
    indexed on purpose — see the module docstring's chain argument."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        threshold: float = 0.8,
        k: int = MINHASH_K,
        bands: int = MINHASH_BANDS,
        text_col: str = "text",
        id_col: str = "doc_id",
        shingle: int = 1,
    ):
        if k % bands:
            raise ValueError("bands must divide k")
        self.spark = spark
        self.threshold = threshold
        self.k, self.bands = k, bands
        self.text_col, self.id_col = text_col, id_col
        self.shingle = shingle
        self.docs = SnapshotTable(spark, f"{root}/docs")
        self.arrays = SnapshotTable(spark, f"{root}/arrays")
        self.bands_t = SnapshotTable(spark, f"{root}/bands")
        # cross-ingest probe cache: {table path: (version, persisted df)}.
        # Each ingest's probe re-reads only the DELTA files appended
        # since the cached version and unions them onto the cached
        # frame — the index parquet is scanned once per increment, not
        # once per probe join. Memory is bounded by the rep index
        # (bands + word-hash arrays), which is what any LSH prober
        # must hold hot anyway.
        self._cache: dict = {}

    # -- featurize ----------------------------------------------------------

    def _features(self, df: DataFrame) -> DataFrame:
        """One pass over the increment text -> (id, warr, _m0.._mk-1):
        the sorted word-hash set plus the k raw minhash registers.
        Everything downstream (arrays, bands, exact-dup grouping)
        projects map-side off this single aggregate — the ingest
        persists its rep-marked extension once, so the explode +
        k-aggregate featurize runs exactly once per increment."""
        words = doc_words(df, self.text_col, self.id_col, self.shingle)
        wids = words.select(
            "id", F.pmod(F.xxhash64("word"), F.lit(P31)).alias("wid")
        )
        return wids.groupBy("id").agg(
            F.sort_array(F.collect_set("wid")).alias("warr"),
            *[
                F.min((F.col("wid") * F.lit(a) + F.lit(c)) % P31).alias(f"_m{i}")
                for i, (a, c) in enumerate(_hash_params(self.k))
            ],
        )

    def _expand_bands(self, feats: DataFrame) -> DataFrame:
        """(id, band, key, sig, sz) banded bucket keys from the raw
        minhash register columns — pure map-side column math (explode
        of a k-element array), no shuffle.

        sig and sz ride along (the batch candidate shape,
        dedup._candidate_pairs): with both docs' signatures in
        hand at collision time, first-match-band filtering gives each
        candidate pair exactly once WITHOUT a distinct exchange, and
        the size filter runs before any array fetch."""
        rows_n = self.k // self.bands
        sig = feats.select(
            "id", F.size("warr").alias("sz"),
            F.array(*[f"_m{i}" for i in range(self.k)]).alias("sig"),
        )
        return sig.select(
            "id",
            "sig",
            "sz",
            F.explode(F.sequence(F.lit(0), F.lit(self.bands - 1))).alias("band"),
        ).select(
            "id",
            "band",
            F.array_join(
                F.transform(
                    F.slice(
                        F.col("sig"), F.col("band") * rows_n + 1, F.lit(rows_n)
                    ),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("key"),
            "sig",
            "sz",
        )

    # -- ingest -------------------------------------------------------------

    def _read_cached(self, table: SnapshotTable) -> DataFrame:
        """Persisted view of `table` at its current version. On a pure
        append since the cached version, only the delta files are read
        and unioned onto the cached frame; any rewrite (compaction)
        falls back to a full re-read. The previous cached frame stays
        persisted — it backs the union's lineage."""
        ver = table.current_version()
        ent = self._cache.get(table.path)
        if ent is not None and ent[0] == ver:
            return ent[1]
        out = None
        if ent is not None and ent[0] < ver:
            prev = {f["path"] for f in table.snapshot(ent[0])["files"]}
            cur = [f["path"] for f in table.snapshot(ver)["files"]]
            delta = [p for p in cur if p not in prev]
            if prev <= set(cur) and delta:
                out = ent[1].unionByName(read_parquet(self.spark, delta))
        if out is None:
            out = table.read(version=ver)
        out = out.persist()
        self._cache[table.path] = (ver, out)
        return out

    def ingest(self, df: DataFrame) -> dict:
        """Dedup the increment against the index AND itself; append
        survivors to ``docs``, representative features to
        ``arrays``/``bands``. Returns counts + the new versions.

        Exact-duplicate collapsing first: web crawls are duplicate-
        DENSE, and m byte-identical docs share every band key — the
        naive bucket self-join materializes m^2 candidate pairs of
        arrays. Instead, docs with identical word-hash sets collapse
        to their smallest-id representative (an exact dup IS Jaccard
        1 — the member->rep edge needs no verification), only reps
        enter the LSH join, the verify fan-out, and the index (a
        member's features are bit-identical to its rep's, so future
        increments lose nothing). Candidate volume goes from
        O(dup-group^2) to O(distinct-rep bucket collisions)."""
        from pyspark.sql import Window

        df = df.persist()
        # exact-dup groups: identical warr -> identical features. ONE
        # window pass over the featurize output marks every member with
        # its smallest-id representative; arrays AND bands project
        # map-side off this single cache (the r2 shape re-ran the
        # featurize aggregate per consumer and paid a semi-join shuffle
        # for the band table).
        marked = self._features(df).withColumn(
            "rep",
            F.min("id").over(Window.partitionBy(F.xxhash64("warr"))),
        ).persist()
        reps_only = marked.filter(F.col("id") == F.col("rep"))
        new_arrays = reps_only.select(
            "id", F.size("warr").alias("sz"), "warr"
        )
        new_bands = self._expand_bands(reps_only)
        # member -> rep edges are certified pairs (Jaccard exactly 1)
        exact_edges = marked.filter(F.col("id") != F.col("rep")).select(
            F.col("rep").alias("id1"), F.col("id").alias("id2")
        )

        have_index = self.bands_t.current_version() > 0
        if have_index:
            all_arrays = self._read_cached(self.arrays).unionByName(new_arrays)
        else:
            all_arrays = new_arrays

        # candidates: new reps vs (past + new) rep bucket-mates. The
        # probe side tags stored rows is_new=false, so a new x old
        # pair is emitted only by its new driver and a new x new pair
        # only in the id < id2 orientation; first-match-band filtering
        # (both sigs are in hand at collision time) then keeps exactly
        # one row per pair — no distinct exchange over the O(bucket^2)
        # collision volume, which on dup-dense crawls is the dominant
        # ingest cost. The size filter runs inline before any fetch:
        # jaccard >= t forces min(sz)/max(sz) >= t; the sizes ride on
        # to the verifier.
        rows_n = self.k // self.bands
        other = (
            self._read_cached(self.bands_t)
            .withColumn("_new2", F.lit(False))
            .unionByName(new_bands.withColumn("_new2", F.lit(True)))
            .select(
                F.col("id").alias("id2"), "band", "key",
                F.col("sig").alias("sig2"), F.col("sz").alias("sz2"),
                "_new2",
            )
        ) if have_index else new_bands.withColumn("_new2", F.lit(True)).select(
            F.col("id").alias("id2"), "band", "key",
            F.col("sig").alias("sig2"), F.col("sz").alias("sz2"), "_new2",
        )
        cand = (
            new_bands.join(other, ["band", "key"])
            .filter(F.col("id") != F.col("id2"))
            .filter(~F.col("_new2") | (F.col("id") < F.col("id2")))
            .filter(_size_ok(self.threshold, "sz", "sz2"))
            .filter(
                F.col("band")
                == _first_match_band(
                    F.col("sig"), F.col("sig2"), self.bands, rows_n
                )
            )
            .select(F.col("id").alias("id1"), "id2",
                    F.col("sz").alias("sz1"), "sz2")
        )
        # exact verify on the stored hashed-word sets — the batch
        # fetch verifier (few candidates post-LSH; the arrays join fans
        # out over pairs, not the corpus)
        pairs = (
            _verify_fetched(
                cand, all_arrays.withColumnRenamed("warr", "masks"),
                self.threshold,
            )
            .select("id1", "id2")
            .unionByName(exact_edges)
            .persist()
        )
        # survivors: components over the verified pairs, canonical =
        # smallest id (monotone ids -> oldest doc wins; components
        # containing any past doc keep the past doc). cc_edge_roots
        # resolves only edge-touched nodes — isolated docs are
        # survivors by definition and never enter the CC or the join.
        roots = cc_edge_roots(
            pairs.select(
                F.col("id1").alias("src_id"), F.col("id2").alias("cand_id")
            )
        )
        new_ids = df.select(F.col(self.id_col).alias("id"))
        dropped = (
            roots.filter(F.col("id") != F.col("root"))
            .join(new_ids, "id", "semi")
            .select(F.col("id").alias(self.id_col))
        )
        survivors = df.join(dropped, self.id_col, "anti")

        n_new = df.count()
        before = self.docs.snapshot(self.docs.current_version()).get(
            "total_rows", 0
        ) if self.docs.current_version() else 0
        v_docs = self.docs.append(survivors)
        # kept-count from the manifest delta — no second pass over the
        # anti-join (the append already materialized it once)
        n_kept = self.docs.snapshot(v_docs)["total_rows"] - before
        v_arr = self.arrays.append(new_arrays)
        v_bands = self.bands_t.append(new_bands)
        for d in (df, marked, pairs):
            d.unpersist()
        return {
            "n_ingested": n_new,
            "n_kept": n_kept,
            "n_dropped": n_new - n_kept,
            "docs_version": v_docs,
            "arrays_version": v_arr,
            "bands_version": v_bands,
        }

    def corpus(self) -> DataFrame:
        return self.docs.read()
