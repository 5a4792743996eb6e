"""Snapshot-incremental near-dup dedup vs whole-corpus batch parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdal_spark.datapipe.dedup import canonicalize, minhash_dedup_pairs
from pdal_spark.datapipe.incremental_dedup import NearDupIndex
from test_datapipe import BOUNDARY_T, boundary_rows


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# word pools: docs sharing >=4/5 words are near-dups at threshold 0.7
BASE = "alpha beta gamma delta epsilon"
NEAR = "alpha beta gamma delta zeta"       # J(BASE, NEAR) = 4/6 = 0.667
NEAR2 = "alpha beta gamma delta epsilon zeta"  # J(BASE, NEAR2) = 5/6 = 0.833
OTHER = "one two three four five"
OTHER_NEAR = "one two three four six"


def _batch_keep(spark, df, threshold, k=8, bands=4):
    pairs = minhash_dedup_pairs(
        df, threshold, k=k, bands=bands, word_id_mode="hash"
    ).select("id1", "id2")
    canon = canonicalize(df, pairs)
    return sorted(
        r.doc_id for r in canon.filter("is_canonical = 1").collect()
    )


def test_two_increments_match_batch(spark, tmp_path):
    threshold = 0.7
    inc1 = _docs(spark, [(1, BASE), (2, OTHER), (3, NEAR2)])
    inc2 = _docs(spark, [(10, BASE), (11, OTHER_NEAR), (12, "lone wolf doc")])
    idx = NearDupIndex(spark, str(tmp_path / "idx"), threshold=threshold)

    r1 = idx.ingest(inc1)
    # 3 dups 1 (0.833 >= 0.7) within the first increment
    assert (r1["n_ingested"], r1["n_kept"]) == (3, 2)

    r2 = idx.ingest(inc2)
    # 10 is an exact dup of past doc 1; 11 near-dups past doc 2 (0.667
    # < 0.7? J(OTHER, OTHER_NEAR) = 4/6 = 0.667 -> kept); 12 novel
    assert r2["n_ingested"] == 3
    kept = sorted(r.doc_id for r in idx.corpus().collect())

    batch = _batch_keep(
        spark, inc1.unionByName(inc2), threshold
    )
    assert kept == batch
    assert 10 not in kept and 1 in kept

    # pairs straddling t = 0.999: only the J == t pairs (5, 6) and
    # (7, 8) are near-dups, for the index and batch alike
    bd = _docs(spark, boundary_rows())
    idx = NearDupIndex(spark, str(tmp_path / "bidx"), threshold=BOUNDARY_T)
    assert idx.ingest(bd)["n_dropped"] == 2
    kept = sorted(r.doc_id for r in idx.corpus().collect())
    assert kept == _batch_keep(spark, bd, BOUNDARY_T) == [1, 2, 3, 4, 5, 7]


def test_cross_increment_chain_resolves_like_batch(spark, tmp_path):
    """B dups A, A dups O, B !dups O — with A dropped at its own ingest.
    Features of dropped docs stay indexed, so the later B still finds A
    and lands in O's component: batch and incremental agree."""
    threshold = 0.6
    O = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    A = "w1 w2 w3 w4 w5 w6 w7 w8 x1 x2"    # J(O,A) = 8/12 = 0.667
    B = "w1 w2 w3 w4 w5 w6 x1 x2 x3 x4"    # J(A,B) = 8/12; J(O,B) = 6/14 = 0.43
    # rows-per-band = 1: collision prob 1-(1-s)^8 ~ 1 at s >= 0.6, so
    # the test exercises the chain logic, not LSH luck
    idx = NearDupIndex(
        spark, str(tmp_path / "idx2"), threshold=threshold, k=8, bands=8
    )
    idx.ingest(_docs(spark, [(1, O)]))
    r2 = idx.ingest(_docs(spark, [(2, A)]))
    assert r2["n_kept"] == 0  # A dropped vs O
    r3 = idx.ingest(_docs(spark, [(3, B)]))
    assert r3["n_kept"] == 0  # B dropped via the chain through dropped A

    union = _docs(spark, [(1, O), (2, A), (3, B)])
    assert sorted(
        r.doc_id for r in idx.corpus().collect()
    ) == _batch_keep(spark, union, threshold, k=8, bands=8) == [1]


def test_corpus_text_never_read_on_ingest(spark, tmp_path):
    """The ingest plan reads the index tables, not the docs table: the
    docs snapshot files are untouched between ingests (mtimes equal)."""
    import os

    idx = NearDupIndex(spark, str(tmp_path / "idx3"), threshold=0.7)
    idx.ingest(_docs(spark, [(1, BASE), (2, OTHER)]))
    data_dir = idx.docs.data_dir
    before = {
        f: os.path.getmtime(os.path.join(data_dir, f))
        for f in os.listdir(data_dir)
    }
    idx.ingest(_docs(spark, [(10, BASE)]))
    after = {f: os.path.getmtime(os.path.join(data_dir, f)) for f in before}
    assert before == after  # old docs files not rewritten, only appended


def test_index_tables_are_snapshotted(spark, tmp_path):
    idx = NearDupIndex(spark, str(tmp_path / "idx4"), threshold=0.7)
    r1 = idx.ingest(_docs(spark, [(1, BASE)]))
    r2 = idx.ingest(_docs(spark, [(2, OTHER)]))
    assert (r1["docs_version"], r2["docs_version"]) == (1, 2)
    # time travel: corpus as of the first ingest
    assert idx.docs.read(version=1).count() == 1
    # ALL features indexed (including any dropped docs')
    assert idx.arrays.read().count() == 2
    assert idx.bands_t.read().count() == 2 * idx.bands


def test_rejects_bad_band_split(spark, tmp_path):
    with pytest.raises(ValueError):
        NearDupIndex(spark, str(tmp_path / "x"), k=8, bands=3)


def test_fuzzed_multi_increment_matches_batch(spark, tmp_path):
    """Randomized parity fuzz of the round-4 probe shape (sig-carrying
    band rows, first-match-band pair dedup, new/old tagging, size
    prefilter, cross-ingest cache): synthetic corpora with planted
    exact-dup groups, near-dup chains, and cross-increment duplicate
    cliques, split into THREE increments — the surviving corpus must
    equal batch dedup over the union for every seed."""
    import random

    threshold = 0.7
    vocab = [f"w{i}" for i in range(40)]
    for seed in (3, 17, 29):
        rng = random.Random(seed)
        rows = []
        did = seed * 1000
        # clusters of near-dups: a base doc + mutations sharing most words
        for c in range(8):
            base = rng.sample(vocab, 8)
            group = rng.randint(1, 6)
            for g in range(group):
                words = list(base)
                for _ in range(rng.randint(0, 2)):  # 0-2 word swaps
                    words[rng.randrange(len(words))] = rng.choice(vocab)
                if rng.random() < 0.3 and g > 0:
                    words = list(base)  # exact dup
                rows.append((did, " ".join(words)))
                did += 1
        # the index contract: ids are MONOTONE with arrival (oldest doc
        # wins) — increments are id-ordered splits; order WITHIN an
        # increment is free (the engine must not depend on it)
        rows.sort(key=lambda r: r[0])
        df = _docs(spark, rows)
        cut1, cut2 = len(rows) // 3, 2 * len(rows) // 3
        idx = NearDupIndex(spark, str(tmp_path / f"fz{seed}"),
                           threshold=threshold)
        for lo, hi in ((0, cut1), (cut1, cut2), (cut2, len(rows))):
            ids = [r[0] for r in rows[lo:hi]]
            rng.shuffle(ids)
            idx.ingest(df.filter(F.col("doc_id").isin(ids)))
        kept = sorted(r.doc_id for r in idx.corpus().collect())
        batch = _batch_keep(spark, df, threshold)
        assert kept == batch, f"seed {seed}: {kept} != {batch}"
