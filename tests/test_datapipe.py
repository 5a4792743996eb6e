"""Training-data pipeline suite tests.

Every SQL-oracle-bearing operator is cross-checked here against DuckDB
running the very SQL string that __spark_entry__.oracle_sql() exports —
the same comparison the correctness driver performs, run in-repo.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdal_spark.datapipe import dedup, multimodal, simsearch, textstats

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )
    return con


def _cmp(spark_df, ddb_rel, sort_cols):
    got = spark_df.toPandas().sort_values(sort_cols).reset_index(drop=True)
    exp = ddb_rel.df().sort_values(sort_cols).reset_index(drop=True)
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    assert list(got.columns) == list(exp.columns)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=False,
                                  rtol=0, atol=1e-9)


# --- text analysis ---------------------------------------------------------


def test_token_count(docs, ddb):
    out = textstats.token_count(docs).select("doc_id", "n_ws_tokens", "n_bpe_tokens")
    ws, bpe = textstats.token_count_sql()
    exp = ddb.sql(
        f"SELECT doc_id, {ws} AS n_ws_tokens, {bpe} AS n_bpe_tokens FROM documents"
    )
    _cmp(out, exp, ["doc_id"])


def test_quality_score(docs, ddb):
    cols = ["n_words", "mean_word_len", "punct_ratio", "stopword_ratio", "quality"]
    out = textstats.quality_score(docs).select("doc_id", *cols)
    sql_parts = textstats.quality_score_sql()
    sel = ", ".join(f"{v} AS {k}" for k, v in sql_parts.items())
    exp = ddb.sql(f"SELECT doc_id, {sel} FROM documents")
    _cmp(out, exp, ["doc_id"])


def test_lang_id(docs, ddb):
    out = textstats.lang_id(docs).select("doc_id", "pred_lang")
    exp = ddb.sql(textstats.lang_id_sql())
    _cmp(out, exp, ["doc_id"])


def test_fingerprint(docs, ddb):
    out = textstats.fingerprint(docs).select("doc_id", "fp_md5", "fp_roll")
    md5_sql, roll_sql = textstats.fingerprint_sql()
    exp = ddb.sql(
        f"SELECT doc_id, {md5_sql} AS fp_md5, {roll_sql} AS fp_roll FROM documents"
    )
    _cmp(out, exp, ["doc_id"])


def test_char_bigram_logloss(docs, ddb):
    out = textstats.char_bigram_logloss(docs)
    exp = ddb.sql(textstats.char_bigram_logloss_sql())
    _cmp(out, exp, ["doc_id"])


def test_char_bigram_logloss_short_docs(spark):
    # Sub-bigram texts must yield NULL, not garbage grams from Spark's
    # descending sequence(1, 0); single shared corpus model otherwise.
    df = spark.createDataFrame(
        [(1, "abab"), (2, "a"), (3, ""), (4, "ba")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["bigram_logloss"]
        for r in textstats.char_bigram_logloss(df).collect()
    }
    assert got[2] is None and got[3] is None
    # corpus bigrams: ab,ba,ab (doc1) + ba (doc4) → p(ab)=(2+1)/(4+2),
    # p(ba)=(2+1)/(4+2); every present bigram has -log2(1/2) = 1.0
    assert got[1] == pytest.approx(1.0, abs=1e-6)
    assert got[4] == pytest.approx(1.0, abs=1e-6)


# --- dedup -----------------------------------------------------------------

# Pairs straddling t = 0.999 (disjoint vocabularies per pair). Every
# pipeline keeps a pair iff its UNROUNDED Jaccard (containment) >= t:
#   1, 2  subset: J = 2996/2999 = 0.99899967 (rounds to 0.999) -> dropped
#   3, 4  equal size: J = 3995/3999 = 0.99899975 (rounds to 0.999) -> dropped
#   5, 6  equal size: J = 1998/2000 == t -> kept
#   7, 8  subset: J = C(7->8) = 999/1000 == t -> kept
BOUNDARY_T = 0.999


def boundary_rows():
    s = [f"s{i}" for i in range(2999)]
    e = [f"e{i}" for i in range(3997)]
    q = [f"q{i}" for i in range(1999)]
    c = [f"c{i}" for i in range(1000)]
    docs = [s, s[:2996], e, e[:3995] + ["f0", "f1"],
            q, q[:1998] + ["r0"], c, c[:999]]
    return [(i + 1, " ".join(d)) for i, d in enumerate(docs)]


def _boundary_expected(measure):
    """{(a, b): exact value} over ordered pairs, in plain Python."""
    sets = {i: set(t.split(" ")) for i, t in boundary_rows()}
    out = {}
    for a in sets:
        for b in sets:
            if a != b and sets[a] & sets[b]:
                v = measure(sets[a], sets[b])
                if v >= BOUNDARY_T:
                    out[(a, b)] = v
    assert (7, 8) in out and (1, 2) not in out
    return out


def _jaccard(x, y):
    return len(x & y) / len(x | y)


def _containment(x, y):
    return len(x & y) / len(x)


def _check_boundary(spark_df, oracle_sql, measure):
    """spark_df == DuckDB(oracle_sql) == the plain-Python expectation on
    the boundary docs (oracle_sql reads table ``bdocs``)."""
    exp = {k: v for k, v in _boundary_expected(measure).items()
           if measure is _containment or k[0] < k[1]}
    got = {(r[0], r[1]): r[2] for r in spark_df.collect()}
    assert sorted(got) == sorted(exp)
    for k, v in got.items():
        assert abs(v - exp[k]) <= 5e-7
    if oracle_sql is not None:
        con = duckdb.connect()
        con.register("bdocs", pd.DataFrame(boundary_rows(),
                                           columns=["doc_id", "text"]))
        ora = {(r[0], r[1]): r[2] for r in con.sql(oracle_sql).fetchall()}
        assert ora == got


def test_exact_dedup(docs, ddb):
    out = dedup.exact_dedup(docs).select("doc_id")
    exp = ddb.sql(dedup.exact_dedup_sql(select="doc_id"))
    _cmp(out, exp, ["doc_id"])
    # synthetic duplicate check: duplicating rows must collapse back
    dup = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 100000))
    n = dedup.exact_dedup(dup).count()
    assert n == docs.count()


def test_jaccard_pairs(docs, ddb, spark, monkeypatch):
    out = dedup.jaccard_pairs(docs, threshold=0.8)
    exp = ddb.sql(dedup.jaccard_pairs_sql(0.8))
    _cmp(out, exp, ["id1", "id2"])
    bd = spark.createDataFrame(boundary_rows(), "doc_id long, text string")
    sql = dedup.jaccard_pairs_sql(BOUNDARY_T, table="bdocs")
    _check_boundary(dedup.jaccard_pairs(bd, BOUNDARY_T), sql, _jaccard)
    # the wide-vocabulary plan (fetched word-hash arrays) on the same docs
    monkeypatch.setattr(dedup, "MASK_UNROLL_MAX", 0)
    _check_boundary(dedup.jaccard_pairs(bd, BOUNDARY_T), sql, _jaccard)


def test_containment_pairs(docs, ddb):
    out = dedup.containment_pairs(docs, threshold=0.5, shingle=2)
    exp = ddb.sql(dedup.containment_pairs_sql(0.5, shingle=2))
    _cmp(out, exp, ["src_id", "dst_id"])


def test_containment_literal(spark):
    """A snippet fully inside a host page: containment(snippet->host)=1.0
    while Jaccard vanishes — the asymmetric case the measure exists for.
    Tie-down of the direction convention and the prefix filter."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta eps zeta eta theta iota kappa"),
            (3, "nu xi omicron pi rho sigma"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.src_id, r.dst_id): r.containment
        for r in dedup.containment_pairs(df, threshold=0.5).collect()
    }
    assert got == {(1, 2): 1.0}  # host->snippet is 4/10, below 0.5
    # Jaccard at the same threshold misses the quote relation entirely
    assert dedup.jaccard_pairs(df, threshold=0.5).count() == 0
    # C(1->2) = 2996/2999 rounds to t but is below it; C(7->8) == t
    bd = spark.createDataFrame(boundary_rows(), "doc_id long, text string")
    _check_boundary(
        dedup.containment_pairs(bd, threshold=BOUNDARY_T),
        dedup.containment_pairs_sql(BOUNDARY_T, table="bdocs"),
        _containment,
    )


def test_minhash_lsh_pairs(docs, ddb, spark):
    out = dedup.minhash_dedup_pairs(docs, threshold=0.8)
    exp = ddb.sql(dedup.minhash_dedup_pairs_sql(0.8))
    _cmp(out, exp, ["id1", "id2"])
    # LSH candidates are a subset of exact pairs post-verification:
    exact = dedup.jaccard_pairs(docs, threshold=0.8).toPandas()
    lsh = out.toPandas()
    exact_keys = set(zip(exact.id1, exact.id2))
    assert set(zip(lsh.id1, lsh.id2)) <= exact_keys
    bd = spark.createDataFrame(boundary_rows(), "doc_id long, text string")
    _check_boundary(
        dedup.minhash_dedup_pairs(bd, BOUNDARY_T),
        dedup.minhash_dedup_pairs_sql(BOUNDARY_T, table="bdocs"),
        _jaccard,
    )


def test_minhash_hash_word_ids(docs, spark):
    """vocab mode='hash' (no vocabulary shuffle) + word-array verifier:
    every returned pair must carry its TRUE jaccard (verified against the
    exact pair set), i.e. hash ids only perturb recall, never precision."""
    out = dedup.minhash_dedup_pairs(docs, threshold=0.8, word_id_mode="hash")
    got = out.toPandas()
    exact = dedup.jaccard_pairs(docs, threshold=0.8).toPandas()
    exact_map = {(a, b): j for a, b, j in zip(exact.id1, exact.id2, exact.jaccard)}
    assert len(got) > 0
    for a, b, j in zip(got.id1, got.id2, got.jaccard):
        assert (a, b) in exact_map
        assert abs(exact_map[(a, b)] - j) < 1e-9
    # recall sanity: the 8x4-band LSH should keep the bulk of true pairs
    assert len(got) >= 0.8 * len(exact)
    bd = spark.createDataFrame(boundary_rows(), "doc_id long, text string")
    _check_boundary(
        dedup.minhash_dedup_pairs(bd, BOUNDARY_T, word_id_mode="hash"),
        None, _jaccard,
    )


def test_minhash_fetch_verifier_matches_inline(docs):
    """Hash-mode pairs (candidates fetch word arrays post-join — arrays
    never ride the band shuffle) equal a plain-Python replay: the band
    collisions of minhash_signature_arrays(word_id_mode="hash"), then
    exact set Jaccard >= t."""
    from collections import defaultdict

    t, k, bands = 0.8, dedup.MINHASH_K, dedup.MINHASH_BANDS
    rows = k // bands
    got = {
        (r.id1, r.id2): r.jaccard
        for r in dedup.minhash_dedup_pairs(
            docs, threshold=t, word_id_mode="hash"
        ).collect()
    }
    buckets = defaultdict(set)
    for r in dedup.minhash_signature_arrays(
        docs, k, word_id_mode="hash"
    ).collect():
        for b in range(bands):
            buckets[(b, tuple(r.sig[b * rows:(b + 1) * rows]))].add(r.id)
    sets = {r.doc_id: set(r.text.split(" ")) for r in docs.collect()}
    exp = {}
    for ids in buckets.values():
        for a in ids:
            for b in ids:
                if a < b and _jaccard(sets[a], sets[b]) >= t:
                    exp[(a, b)] = _jaccard(sets[a], sets[b])
    assert sorted(got) == sorted(exp)
    assert all(abs(got[p] - exp[p]) <= 5e-7 for p in got)
    assert len(got) > 0


def test_simhash_banded_pairs_equal_exact(docs):
    """Bit-band pigeonhole join is 100%-recall: banded == exact all-pairs
    for every max_hamming, and its plan contains no cartesian product."""
    sim = dedup.simhash(docs).cache()
    for h in (0, 2, 4):
        banded = dedup.simhash_pairs(sim, max_hamming=h)
        exact = dedup.simhash_pairs(sim, max_hamming=h, banded=False)
        bset = {(r.id1, r.id2, r.hamming) for r in banded.collect()}
        eset = {(r.id1, r.id2, r.hamming) for r in exact.collect()}
        assert bset == eset
    # plan check on the pair join alone (materialized signatures —
    # upstream simhash() legitimately crossJoins a 16-row broadcast
    # params table, which is not what this guards against)
    spark = sim.sparkSession
    sim_flat = spark.createDataFrame(sim.toPandas())
    plan = dedup.simhash_pairs(sim_flat, max_hamming=3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_simhash(docs, ddb):
    out = dedup.simhash(docs)
    exp = ddb.sql(dedup.simhash_sql())
    _cmp(out, exp, ["id"])
    # hamming pairs behave: identical docs -> distance 0
    sim = dedup.simhash(docs)
    pairs = dedup.simhash_pairs(sim, max_hamming=0)
    pdfp = pairs.toPandas()
    assert (pdfp["hamming"] == 0).all()


# --- similarity search -----------------------------------------------------


def test_cosine_topk(embs, ddb):
    out = simsearch.cosine_topk(embs, k=3)
    exp = ddb.sql(simsearch.cosine_topk_sql(3))
    _cmp(out, exp, ["src_id", "rank"])
    # sanity: 3 neighbors per vector
    cnt = out.groupBy("src_id").count().toPandas()
    assert (cnt["count"] == 3).all()


def test_cosine_topk_block_counts(embs, ddb):
    """The blocked exact plan is row-for-row equal to the SQL oracle
    whatever the block count — exact, not ANN."""
    exp = ddb.sql(simsearch.cosine_topk_sql(3))
    for n_blocks in (2, 5):
        out = simsearch._exact_topk(embs, embs, 3, exclude_self=True,
                                    n_blocks=n_blocks)
        _cmp(out, exp, ["src_id", "rank"])


def test_cross_collection_topk_keeps_equal_ids(spark):
    """Only self-search drops a candidate with the query's own id:
    across two collections an equal id is a different vector, and here
    it is the best match."""
    src = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    cand = spark.createDataFrame(
        [(1, [1.0, 0.1]), (7, [0.1, 1.0]), (8, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    top = {(r.src_id, r.rank): r.cand_id for r in
           simsearch._exact_topk(src, cand, 2, exclude_self=False).collect()}
    assert top == {(1, 1): 1, (1, 2): 7, (2, 1): 7, (2, 2): 1}
    aligned = {r.src_id: r.dst_id for r in
               simsearch.margin_align(src, cand, k=1, threshold=0.0).collect()}
    assert aligned[1] == 1


def test_margin_align(embs, ddb):
    src = embs.filter(F.col("label") % 2 == 0)
    cand = embs.filter(F.col("label") % 2 == 1)
    out = simsearch.margin_align(src, cand, k=4, threshold=1.0)
    exp = ddb.sql(simsearch.margin_align_sql(k=4, threshold=1.0))
    _cmp(out, exp, ["src_id"])
    # at most one aligned dst per src
    cnt = out.groupBy("src_id").count().toPandas()
    assert (cnt["count"] == 1).all()


def test_margin_align_hub_suppression(spark):
    """A generic hub close to EVERYTHING must lose to a specific match:
    raw cosine prefers the hub, ratio margin (denominator = the hub's
    own high neighborhood average) prefers the exclusive pair."""
    import numpy as np

    def vec(*xs):
        return [float(v) for v in xs]

    # src 1 has an exclusive partner (dst 10, cos 0.55) and a
    # slightly-closer hub (dst 11, cos 0.577) that is equally near
    # every OTHER src too — the hub's backward kNN average (~0.577)
    # inflates its margin denominator, the partner's (~0.275) does not.
    rows = [
        (1, vec(1.0, 0.0, 0.0, 0.0)),
        (2, vec(0.0, 1.0, 0.0, 0.0)),
        (3, vec(0.0, 0.0, 1.0, 0.0)),
        (10, vec(0.55, 0.0, 0.0, 0.8352)),  # exclusive partner of 1
        (11, vec(1.0, 1.0, 1.0, 0.0)),      # hub: cos 0.577 to all srcs
        (12, vec(0.0, 0.0, 0.0, 1.0)),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = df.filter(F.col("vec_id") < 10)
    cand = df.filter(F.col("vec_id") >= 10)
    got = {r.src_id: r.dst_id
           for r in simsearch.margin_align(src, cand, k=2).collect()}
    raw = simsearch._exact_topk(src, cand, 1, exclude_self=False).collect()
    raw_best = {r.src_id: r.cand_id for r in raw}
    assert raw_best[1] == 11      # cosine alone picks the hub...
    assert got[1] == 10           # ...margin picks the exclusive partner


def test_lsh_cosine_topk(embs, ddb):
    out = simsearch.lsh_cosine_topk(embs, k=3)
    exp = ddb.sql(simsearch.lsh_cosine_topk_sql(3))
    _cmp(out, exp, ["src_id", "rank"])
    # each pair leaves the bucket kernel once: no dedup aggregate
    assert "Aggregate" not in out._jdf.queryExecution().executedPlan().toString()


def test_lsh_recall_reasonable(embs):
    exact = simsearch.cosine_topk(embs, k=3).toPandas()
    approx = simsearch.lsh_cosine_topk(embs, k=3).toPandas()
    e = set(zip(exact.src_id, exact.cand_id))
    a = set(zip(approx.src_id, approx.cand_id))
    recall = len(e & a) / len(e)
    assert recall > 0.2  # 6 planes, 1 table — modest by design


def test_ivf_full_probe_is_exact(embs, ddb):
    # nprobe = nlist probes every inverted list -> exact top-k; the
    # driver oracle (ivf_topk_sql == brute-force SQL) relies on this
    out = simsearch.ivf_topk(embs, k=3, nlist=8, nprobe=8, n_iters=2)
    exp = ddb.sql(simsearch.ivf_topk_sql(3))
    _cmp(out, exp, ["src_id", "rank"])


def test_ivf_recall_at_low_probe(embs):
    exact = simsearch.cosine_topk(embs, k=3).toPandas()
    approx = simsearch.ivf_topk(embs, k=3, nlist=8, nprobe=3, n_iters=2).toPandas()
    e = set(zip(exact.src_id, exact.cand_id))
    a = set(zip(approx.src_id, approx.cand_id))
    assert len(e & a) / len(e) > 0.5
    # every source still gets k answers (probed lists are never all empty)
    assert approx.groupby("src_id")["rank"].max().min() >= 1


def test_ivf_train_deterministic(embs):
    import numpy as np

    c1 = simsearch.ivf_train(embs, nlist=6, n_iters=2)
    c2 = simsearch.ivf_train(embs, nlist=6, n_iters=2)
    assert np.array_equal(c1, c2)
    assert c1.shape == (6, 64)
    # spherical centroids are unit-norm (to rounding)
    assert np.allclose((c1 * c1).sum(axis=1), 1.0, atol=1e-6)


def test_ivf_assign_partitions_everything(embs):
    cents = simsearch.ivf_train(embs, nlist=6, n_iters=1)
    a = simsearch.ivf_assign(embs, cents, nprobe=1).toPandas()
    assert len(a) == embs.count()
    assert a["list_id"].between(0, 5).all()


def test_ivf_empty_list_keeps_seed(spark):
    # 3 tight clusters but nlist=5: >=2 lists go empty during Lloyd;
    # their centroids must stay finite and assignment must still work
    import numpy as np

    rows = []
    for cid in range(3):
        base = np.zeros(8)
        base[cid] = 1.0
        for i in range(10):
            v = base + 0.01 * np.array([((i * 7 + j) % 5) / 10 for j in range(8)])
            rows.append((cid * 10 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = simsearch.ivf_train(df, nlist=5, n_iters=3)
    assert np.isfinite(cents).all()
    out = simsearch.ivf_topk(df, k=2, nlist=5, nprobe=5, n_iters=3).toPandas()
    assert set(out.src_id) == set(range(30))


def test_cosine_dedup_pairs(embs, ddb):
    out = simsearch.cosine_dedup_pairs(embs, threshold=0.3)
    exp = ddb.sql(simsearch.cosine_dedup_pairs_sql(0.3))
    _cmp(out, exp, ["id1", "id2"])
    # first-colliding-table filter leaves exactly one row per pair
    pdfp = out.toPandas()
    assert not pdfp.duplicated(["id1", "id2"]).any()


def test_cosine_dedup_exact_superset(embs, ddb):
    # LSH pairs are a subset of the brute-force oracle's pairs
    e = {(r[0], r[1]) for r in
         ddb.sql(simsearch.cosine_dedup_pairs_sql(0.3, exact=True)).fetchall()}
    a = {(r.id1, r.id2)
         for r in simsearch.cosine_dedup_pairs(embs, threshold=0.3).collect()}
    assert a <= e
    assert len(a) / len(e) > 0.2  # OR-amplified recall, modest by design


# --- multimodal plumbing ---------------------------------------------------


def test_multimodal_decode_stub_raises(spark):
    df = multimodal.synth_binary_docs(spark, 10)
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_meta(df).collect()


def test_multimodal_fake_decode(spark):
    # NOTE: binary columns are collected via Row objects — pyarrow in this
    # env chokes converting raw-binary columns back to pandas (toPandas),
    # which is a collection-side quirk, not an operator issue.
    df = multimodal.synth_binary_docs(spark, 50, payload_bytes=512)
    out = multimodal.decode_image_meta(df, fake=True)
    rows = {r.doc_id: r.image_meta for r in out.select("doc_id", "image_meta").collect()}
    assert len(rows) == 50
    metas = pd.DataFrame([r.asDict() for r in rows.values()])
    assert (metas["byte_len"] == 512).all()
    assert metas["mean_intensity"].between(0, 255).all()
    # deterministic: same input -> same metas
    rows2 = {r.doc_id: r.image_meta for r in out.select("doc_id", "image_meta").collect()}
    assert rows == rows2


def test_multimodal_frame_sample(spark):
    df = multimodal.synth_binary_docs(spark, 5, payload_bytes=1024)
    out = multimodal.frame_sample(df, every_n=2, frame_bytes=256, fake=True)
    rows = out.select("doc_id", "frame_idx", "frame").collect()
    # 1024/256 = 4 frames, every 2nd -> 2 per doc
    assert len(rows) == 10
    assert {r.frame_idx for r in rows} == {0, 2}
    assert all(len(r.frame) == 256 for r in rows)


def test_multimodal_embed_stub_feeds_simsearch(spark):
    df = multimodal.synth_binary_docs(spark, 30)
    feats = multimodal.embed_stub(df, dim=8).select(
        F.col("doc_id").alias("vec_id"), F.col("features").alias("embedding")
    )
    out = simsearch.cosine_topk(feats, k=2).toPandas()
    assert (out.groupby("src_id").size() == 2).all()


# --- real multimodal decoders (PPM / BMP — numpy-only formats) ---------------


def _tiny_ppm():
    import numpy as np

    px = np.array([[[255, 0, 0], [0, 255, 0]],
                   [[0, 0, 255], [10, 20, 30]]], dtype=np.uint8)
    return b"P6\n# comment\n2 2\n255\n" + px.tobytes(), px


def _tiny_bmp():
    """Hand-built 2x2 24-bit BMP (bottom-up rows, 4-byte padded, BGR)."""
    import numpy as np

    px = np.array([[[255, 0, 0], [0, 255, 0]],
                   [[0, 0, 255], [10, 20, 30]]], dtype=np.uint8)
    stride = (2 * 3 + 3) & ~3  # 8
    rows = b""
    for r in (1, 0):  # bottom-up
        row = b"".join(bytes(px[r, c, ::-1]) for c in (0, 1))
        rows += row + b"\x00" * (stride - len(row))
    info = (
        (40).to_bytes(4, "little") + (2).to_bytes(4, "little", signed=True)
        + (2).to_bytes(4, "little", signed=True) + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little") + (0).to_bytes(4, "little")
        + (len(rows)).to_bytes(4, "little") + b"\x00" * 16
    )
    off = 14 + 40
    head = b"BM" + (off + len(rows)).to_bytes(4, "little") + b"\x00" * 4 \
        + off.to_bytes(4, "little")
    return head + info + rows, px


def test_decode_ppm_and_bmp_exact():
    import numpy as np

    ppm, px = _tiny_ppm()
    np.testing.assert_array_equal(multimodal.decode_ppm(ppm), px)
    bmp, px2 = _tiny_bmp()
    np.testing.assert_array_equal(multimodal.decode_bmp(bmp), px2)
    # dispatch + honest stub for undecodable formats
    np.testing.assert_array_equal(multimodal.decode_any(ppm), px)
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        multimodal.decode_any(b"\x89PNG....")


def test_decode_image_meta_real_spark(spark):
    import numpy as np

    df = multimodal.synth_ppm_docs(spark, 20, w=12, h=8)
    out = multimodal.decode_image_meta_real(df).select(
        "doc_id", "image_meta.*"
    ).toPandas().sort_values("doc_id")
    assert (out.width == 12).all() and (out.height == 8).all()
    assert (out.channels == 3).all()
    # oracle: recompute mean from the same deterministic generator
    yy, xx = np.mgrid[0:8, 0:12]
    for i in (0, 7, 19):
        img = ((xx * 7 + yy * 13 + i) % 256).astype(np.float64)
        want = np.stack([img, (img + 85) % 256, (img + 170) % 256], -1).mean()
        got = float(out.loc[out.doc_id == i, "mean_intensity"].iloc[0])
        assert abs(got - want) < 1e-9


def test_resize_image_roundtrip(spark):
    import numpy as np

    df = multimodal.synth_ppm_docs(spark, 5, w=12, h=8)
    out = multimodal.resize_image(df, out_w=6, out_h=4).toPandas()
    for _, row in out.iterrows():
        big = multimodal.decode_ppm(bytes(row.payload))
        small = multimodal.decode_ppm(bytes(row.resized))
        assert small.shape == (4, 6, 3)
        # nearest-neighbor oracle
        yi = (np.arange(4) * 8 // 4)
        xi = (np.arange(6) * 12 // 6)
        np.testing.assert_array_equal(small, big[yi][:, xi])


# --- real audio decoder (WAV PCM — numpy-only format) ------------------------


def test_decode_wav_literal_golden():
    """Hand-assembled 4-frame stereo WAV decodes to the exact int16
    samples and sample rate; encode_wav(decode_wav(x)) round-trips to
    the identical bytes."""
    import numpy as np

    samples = np.array(
        [[0, 1], [-32768, 32767], [100, -100], [12345, -12345]], np.int16
    )
    buf = multimodal.encode_wav(samples, 8000)
    # header layout sanity: RIFF id, WAVE tag, PCM fmt, 16-bit, data size
    assert buf[:4] == b"RIFF" and buf[8:12] == b"WAVE"
    assert int.from_bytes(buf[20:22], "little") == 1
    assert int.from_bytes(buf[34:36], "little") == 16
    out, rate = multimodal.decode_wav(buf)
    assert rate == 8000
    np.testing.assert_array_equal(out, samples)
    assert multimodal.encode_wav(out, rate) == buf
    # chunk walker skips unknown chunks (e.g. LIST) between fmt and data
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    buf2 = buf[:fmt_end] + extra + buf[fmt_end:]
    buf2 = b"RIFF" + (len(buf2) - 8).to_bytes(4, "little") + buf2[8:]
    out2, rate2 = multimodal.decode_wav(buf2)
    np.testing.assert_array_equal(out2, samples)


def test_decode_audio_meta_real_spark(spark):
    """Real WAV metas through the Arrow kernel: rate/channels/samples
    exact, duration and rms match numpy recomputation."""
    import numpy as np

    df = multimodal.synth_wav_docs(spark, 12, sample_rate=8000,
                                   n_samples=2048)
    rows = multimodal.decode_audio_meta_real(df).select(
        "doc_id", "audio_meta.*"
    ).collect()
    assert len(rows) == 12
    for r in rows:
        assert r.sample_rate == 8000 and r.channels == 1
        assert r.n_samples == 2048
        assert abs(r.duration_s - 2048 / 8000) < 1e-12
        # pure sine at amplitude 16384/32768 -> rms ~ 0.5/sqrt(2)
        assert abs(r.rms - 0.5 / np.sqrt(2)) < 0.01


def test_audio_band_energies_peak_bin(spark):
    """The id-dependent sine frequency must put the spectral peak in the
    analytically expected band: frame=512 -> bin k (exact FFT bin by
    fixture construction), 8 bands over bins 1..256."""
    import numpy as np

    df = multimodal.synth_wav_docs(spark, 8, n_samples=2048)
    out = multimodal.audio_band_energies(df, n_bands=8, frame=512)
    got = {r.doc_id: list(r.band_energy) for r in out.collect()}
    for i in range(8):
        k = 4 + i % 8  # fixture bin
        # bands are np.array_split over bins 1..256 -> band 0 = bins 1..32
        expected_band = (k - 1) * 8 // 256  # == 0 for all fixture bins
        vec = got[i]
        assert len(vec) == 8
        assert int(np.argmax(vec)) == expected_band
        assert vec[expected_band] > 10 * (sum(vec) - vec[expected_band] + 1e-9) / 7


def test_decode_wav_rejects_non_pcm():
    import numpy as np

    buf = bytearray(multimodal.encode_wav(np.zeros(4, np.int16), 8000))
    buf[20:22] = (3).to_bytes(2, "little")  # IEEE float format tag
    with pytest.raises(ValueError):
        multimodal.decode_wav(bytes(buf))


def test_shingle_sets_literal(spark):
    """3-word shingles: exact set construction + jaccard on a literal
    pair (docs sharing a phrase but little vocabulary overlap score HIGH
    on words... the point of shingles is they score LOW unless phrasing
    matches)."""
    import pandas as pd

    rows = pd.DataFrame({
        "doc_id": [0, 1],
        "text": ["the cat sat on the mat", "on the mat the cat sat"],
    })
    df = spark.createDataFrame(rows)
    sets = {
        r.id: set()
        for r in dedup.doc_words(df, shingle=3).select("id").distinct().collect()
    }
    for r in dedup.doc_words(df, shingle=3).collect():
        sets[r.id].add(r.word)
    assert sets[0] == {"the cat sat", "cat sat on", "sat on the", "on the mat"}
    assert sets[1] == {"on the mat", "the mat the", "mat the cat", "the cat sat"}
    inter = len(sets[0] & sets[1])
    union = len(sets[0] | sets[1])
    pairs = dedup.jaccard_pairs(df, threshold=0.0 + 1e-9, shingle=3).collect()
    assert len(pairs) == 1
    assert abs(pairs[0].jaccard - round(inter / union, 6)) < 1e-9
    # word-level jaccard on the same pair is 1.0 (same vocabulary) —
    # shingles discriminate where words cannot
    wp = dedup.jaccard_pairs(df, threshold=0.9).collect()
    assert len(wp) == 1 and wp[0].jaccard == 1.0


# ---------------------------------------------------------------------------
# Gopher-style repetition signals (datapipe/repetition.py)
# ---------------------------------------------------------------------------

def test_repetition_signals_literal(spark):
    import math

    from pdal_spark.datapipe import repetition as rep

    # "a b a b a" -> words: a x3, b x2 (5 positions)
    #   top1 = 3/5, dup1 = 5/5 (every word repeats)
    #   2-grams: "a b" x2, "b a" x2 (4 positions) -> top2=2/4, dup2=4/4
    #   3-grams: "a b a" x2, "b a b" x1 -> top3=2/3, dup3=2/3
    df = spark.createDataFrame([(0, "a b a b a"), (1, "x y z w")],
                               "doc_id long, text string")
    got = {r.doc_id: r for r in rep.repetition_signals(df).collect()}
    r0 = got[0]
    assert r0.top1_frac == 3 / 5 and r0.dup1_frac == 1.0
    assert r0.top2_frac == 2 / 4 and r0.dup2_frac == 1.0
    assert r0.top3_frac == 2 / 3 and r0.dup3_frac == 2 / 3
    h = -(3 / 5) * math.log2(3 / 5) - (2 / 5) * math.log2(2 / 5)
    assert abs(r0.word_entropy - round(h, 6)) < 1e-12
    # all-distinct doc: no repetition, maximal entropy
    r1 = got[1]
    assert r1.top1_frac == 1 / 4 and r1.dup1_frac == 0.0
    assert r1.dup2_frac == 0.0 and r1.word_entropy == 2.0


def test_repetition_short_doc_degenerate(spark):
    from pdal_spark.datapipe import repetition as rep

    # 2-word doc has no 3-grams: the doc must drop from the n=3 join
    # (inner join semantics) — document that and check n<=2 signals
    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    assert rep.repetition_signals(df, ns=(1, 2)).count() == 1
    assert rep.repetition_signals(df, ns=(1, 3)).count() == 0


def test_repetition_sql_twin_matches(spark):
    import duckdb

    from pdal_spark.datapipe import repetition as rep

    df = spark.createDataFrame(
        [(0, "a b a b a"), (1, "x y z w"), (2, "q q q q q q")],
        "doc_id long, text string")
    got = (rep.repetition_signals(df).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    exp = (con.sql(rep.repetition_sql()).df()
           .sort_values("doc_id").reset_index(drop=True))
    for c in got.columns:
        assert (got[c].to_numpy() == exp[c].to_numpy()).all(), c


# ---------------------------------------------------------------------------
# decontamination + mixture weights (datapipe/contamination.py)
# ---------------------------------------------------------------------------

def test_contamination_literal(spark):
    from pyspark.sql import functions as F

    from pdal_spark.datapipe import contamination as cont

    docs = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c x y"), (2, "p q r s t"), (3, "a b")],
        "doc_id long, text string")
    probe = docs.filter(F.col("doc_id") == 0)
    out = {r.doc_id: r for r in
           cont.ngram_contamination(docs, probe, n=3).collect()}
    # doc0: all 3 of its 3-grams are in the probe (itself)
    assert out[0].n_grams == 3 and out[0].contamination_frac == 1.0
    # doc1 shares only "a b c"
    assert out[1].n_grams == 3 and out[1].n_contaminated == 1
    assert out[1].contamination_frac == 1 / 3
    # doc2 shares nothing; doc3 too short for any 3-gram -> 0/0/0.0
    assert out[2].n_contaminated == 0
    assert out[3].n_grams == 0 and out[3].contamination_frac == 0.0


def test_contamination_hash_key_parity(spark):
    from pyspark.sql import functions as F

    from pdal_spark.datapipe import contamination as cont

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    probe = docs.filter(F.expr("doc_id % 97 = 0"))
    a = cont.ngram_contamination(docs, probe, n=8).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    b = cont.ngram_contamination(docs, probe, n=8, key="hash").toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    assert (a["n_contaminated"] == b["n_contaminated"]).all()
    assert (a["n_grams"] == b["n_grams"]).all()
    assert int((a["n_contaminated"] > 0).sum()) >= 5  # probe really hits


def test_contamination_probe_is_broadcast(spark):
    from pyspark.sql import functions as F

    from pdal_spark.datapipe import contamination as cont

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    probe = docs.filter(F.expr("doc_id % 97 = 0"))
    plan = cont.ngram_contamination(docs, probe, n=8, key="hash") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_source_mixture_weights_sum_to_one(spark):
    from pdal_spark.datapipe import contamination as cont

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = cont.source_mixture(docs, alpha=0.5).collect()
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-6
    # alpha=0 flattens to uniform over groups
    flat = cont.source_mixture(docs, alpha=0.0).collect()
    assert all(abs(r.weight - 1.0 / len(flat)) < 1e-9 for r in flat)
    # alpha=1 is proportional to token counts
    prop = cont.source_mixture(docs, alpha=1.0).collect()
    tot = sum(r.n_tokens for r in prop)
    assert all(abs(r.weight - r.n_tokens / tot) < 1e-6 for r in prop)


def test_canonicalize_transitive_groups(spark):
    """Pair graph a-b, b-c (no a-c) must still collapse to ONE group
    with the smallest id canonical — the transitivity near-dup pipelines
    need beyond raw pair lists."""
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in (3, 5, 9, 11)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(3, 5), (5, 9)], "id1 long, id2 long"
    )
    out = dedup.canonicalize(df, pairs).orderBy("doc_id").collect()
    got = {(r.doc_id, r.canonical_id, r.is_canonical) for r in out}
    assert got == {(3, 3, 1), (5, 3, 0), (9, 3, 0), (11, 11, 1)}


def test_canonicalize_keep_by_quality(spark):
    """keep_by: survivor = largest quality value, min-id tiebreak;
    component membership identical to the min-id rule."""
    df = spark.createDataFrame(
        [(3, 10), (5, 40), (9, 40), (11, 7)], "doc_id long, n_chars long"
    )
    pairs = spark.createDataFrame([(3, 5), (5, 9)], "id1 long, id2 long")
    out = dedup.canonicalize(df, pairs, keep_by="n_chars")
    got = {(r.doc_id, r.canonical_id, r.is_canonical) for r in out.collect()}
    # 5 and 9 tie at 40 -> smaller id 5 wins; isolated 11 keeps itself
    assert got == {(3, 5, 0), (5, 5, 1), (9, 5, 0), (11, 11, 1)}


def test_canonicalize_matches_driver_union_find_vs_distributed(spark):
    """Driver union-find and distributed min-label must agree (forced
    low edge cap exercises the scale path)."""
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = dedup.jaccard_pairs(df, threshold=0.5, shingle=3)
    a = dedup.canonicalize(df, pairs).select("doc_id", "canonical_id")
    b = dedup.canonicalize(df, pairs, driver_max_edges=0).select(
        "doc_id", "canonical_id"
    )
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_mixture_sample_deterministic_and_budgeted(spark):
    from pdal_spark.datapipe import contamination as cont

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    s1 = {r.doc_id for r in cont.mixture_sample(df, budget=300).collect()}
    s2 = {r.doc_id for r in cont.mixture_sample(df, budget=300).collect()}
    assert s1 == s2  # deterministic in (data, seed)
    s3 = {r.doc_id for r in cont.mixture_sample(df, budget=300, seed=8).collect()}
    assert s3 != s1  # seed actually matters
    n = df.count()
    # expected kept ~ budget (clipped rates make it <=-ish); Bernoulli
    # slack bounds, not exact
    assert 0.5 * 300 <= len(s1) <= min(n, 1.4 * 300)
    # a group whose rate clips to 1 keeps every doc
    big = cont.mixture_sample(df, budget=10 * n)
    assert big.count() == n


# --- paragraph-level exact dedup (CCNet-style) ------------------------------


def test_paragraph_dedup_oracle(docs, ddb):
    out = dedup.paragraph_dedup(docs, chunk_words=10)
    exp = ddb.sql(dedup.paragraph_dedup_sql(chunk_words=10))
    _cmp(out, exp, ["doc_id"])


def test_paragraph_dedup_hash_key_equiv(docs):
    """key='hash' only changes the shuffle key (8-byte xxhash64 + string
    tiebreak) — results must be identical to the exact-string partition."""
    a = dedup.paragraph_dedup(docs, chunk_words=10, key="text").toPandas()
    b = dedup.paragraph_dedup(docs, chunk_words=10, key="hash").toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_paragraph_dedup_literal(spark):
    """Hand-built corpus: first occurrence (doc_id, chunk_idx) wins;
    a doc whose every paragraph appeared earlier vanishes; reassembly
    preserves chunk order."""
    rows = [
        (0, "a b c d"),      # chunks (w=2): "a b", "c d"
        (1, "c d a b e"),    # "c d" dup, "a b" dup, "e" kept
        (2, "a b c d"),      # all dup -> doc vanishes
        (3, "e f a b"),      # "e f" new, "a b" dup
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["text_dedup"], r["n_kept"], r["n_chunks"])
        for r in dedup.paragraph_dedup(df, chunk_words=2).collect()
    }
    assert out == {
        0: ("a b c d", 2, 2),
        1: ("e", 1, 3),
        3: ("e f", 1, 2),
    }


# --- URL canonicalization + dedup -------------------------------------------


def _variant_pages(spark, n=300):
    """Deterministic URL variants of n pages over ~60 canonical targets."""
    from pdal_spark.datapipe import weburl  # noqa: F401

    df = spark.range(n).withColumnRenamed("id", "page_id")
    i = F.col("page_id")
    site = F.lpad((i % 10).cast("string"), 5, "0")
    page = F.lpad((i % 60).cast("string"), 6, "0")
    root = F.concat(F.lit("https://site"), site, F.lit(".example/p/"), page)
    v = i % 5
    url = (
        F.when(v == 0, root)
        .when(v == 1, F.concat(F.lit("https://www.site"), site,
                               F.lit(".example/p/"), page, F.lit("/")))
        .when(v == 2, F.concat(F.lit("HTTPS://SITE"), site,
                               F.lit(".EXAMPLE:443/p/"), page,
                               F.lit("?utm_source=feed")))
        .when(v == 3, F.concat(root, F.lit("?b=2&a=1")))
        .otherwise(F.concat(root, F.lit("?a=1&b=2&fbclid=xyz#frag")))
    )
    ts = F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=i)
    return df.select("page_id", url.alias("url"), ts.alias("warc_ts"))


def test_canonical_url_literals(spark):
    from pdal_spark.datapipe import weburl

    cases = [
        ("https://Site.Example/p/1", "https://site.example/p/1"),
        ("https://www.site.example/p/1/", "https://site.example/p/1"),
        ("HTTP://HOST.COM:80/A/B#frag", "http://host.com/A/B"),
        ("https://host.com:443/", "https://host.com/"),
        ("https://host.com:8443/x", "https://host.com:8443/x"),
        ("https://host.com", "https://host.com/"),
        ("https://h.com/x?utm_source=a&b=2&a=1&fbclid=z", "https://h.com/x?a=1&b=2"),
        ("https://h.com/x?utm_campaign=c", "https://h.com/x"),
        ("https://h.com/x?ref=tw&refresh=1", "https://h.com/x?refresh=1"),
    ]
    df = spark.createDataFrame(cases, ["url", "want"])
    got = df.select("want", weburl.canonical_url(F.col("url")).alias("got")).collect()
    for r in got:
        assert r["got"] == r["want"], r


def test_canonical_url_sql_twin(spark):
    import duckdb as _dd

    from pdal_spark.datapipe import weburl

    pages = _variant_pages(spark)
    got = (
        pages.select("page_id", weburl.canonical_url(F.col("url")).alias("c"))
        .toPandas().sort_values("page_id").reset_index(drop=True)
    )
    pdf = pages.toPandas()
    con = _dd.connect()
    con.register("pages", pdf)
    exp = con.sql(
        f"SELECT page_id, {weburl.canonical_url_sql('url')} AS c "
        f"FROM pages ORDER BY page_id"
    ).df().reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_url_dedup_latest_wins(spark):
    import duckdb as _dd

    from pdal_spark.datapipe import weburl

    pages = _variant_pages(spark)
    out = weburl.url_dedup(pages)
    got = (
        out.select("page_id", "canonical_url")
        .toPandas().sort_values(["canonical_url", "page_id"]).reset_index(drop=True)
    )
    con = _dd.connect()
    con.register("pages", pages.toPandas())
    exp = con.sql(
        weburl.url_dedup_sql("pages", select="page_id, canonical_url")
        + " ORDER BY canonical_url, page_id"
    ).df().reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # keep-latest semantics: every winner carries the max page_id ts in
    # its canonical group (ts increases with page_id in the fixture)
    all_c = (
        pages.select(weburl.canonical_url(F.col("url")).alias("c"),
                     F.col("page_id"))
        .groupBy("c").agg(F.max("page_id").alias("max_id")).toPandas()
    )
    winners = dict(zip(got["canonical_url"], got["page_id"]))
    for _, r in all_c.iterrows():
        assert winners[r["c"]] == r["max_id"]


# --- PII redaction -----------------------------------------------------------


def test_pii_redact_literals(spark):
    from pdal_spark.datapipe import pii

    rows = [
        (0, "mail me at jo.doe+x@sub.example.org thanks"),
        (1, "server 192.168.001.42 and 8.8.8.8 up"),
        (2, "call 555-123-4567 or 555.987.6543"),
        (3, "no pii here v1.2 x.y 12.34"),
        (4, "a@b.co 10.0.0.1 111-222-3333"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in pii.pii_redact(df).collect()}
    assert out[0]["n_email"] == 1 and out[0]["text_redacted"] == (
        "mail me at <EMAIL> thanks"
    )
    assert out[1]["n_ipv4"] == 2 and out[1]["text_redacted"] == (
        "server <IP> and <IP> up"
    )
    assert out[2]["n_phone"] == 2 and out[2]["text_redacted"] == (
        "call <PHONE> or <PHONE>"
    )
    assert out[3] == {
        "doc_id": 3, "text": rows[3][1], "n_email": 0, "n_ipv4": 0,
        "n_phone": 0, "text_redacted": rows[3][1],
    }
    assert out[4]["text_redacted"] == "<EMAIL> <IP> <PHONE>"


def test_pii_redact_sql_twin(spark):
    import duckdb as _dd

    from pdal_spark.datapipe import pii

    rows = [
        (i, t) for i, t in enumerate([
            "x a@b.co y", "ip 1.2.3.4", "tel 123-456-7890",
            "plain words only", "two a@b.co c@d.org", "dots 1.2 3.4.5",
            "u.name_9%+-@host-x.example.travel end",
        ])
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = (
        pii.pii_redact(df).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    e = pii.pii_redact_sql()
    con = _dd.connect()
    con.register("t", df.toPandas())
    exp = con.sql(
        f"SELECT doc_id, text, {e['n_email']} AS n_email, "
        f"{e['n_ipv4']} AS n_ipv4, {e['n_phone']} AS n_phone, "
        f"{e['text_redacted']} AS text_redacted FROM t ORDER BY doc_id"
    ).df().reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_url_domain_and_blocklist(spark):
    import duckdb as _dd

    from pdal_spark.datapipe import weburl

    pages = _variant_pages(spark)
    got = (
        weburl.domain_stats(pages).toPandas()
        .sort_values("domain").reset_index(drop=True)
    )
    con = _dd.connect()
    con.register("pages", pages.toPandas())
    exp = con.sql(
        f"SELECT domain, count(*) AS n_pages FROM "
        f"(SELECT {weburl.url_domain_sql('url')} AS domain FROM pages) "
        f"GROUP BY domain ORDER BY domain"
    ).df().reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # blocklist: blocked domains vanish, nothing else changes
    blocked = [got.domain[0], got.domain[3]]
    kept = weburl.blocklist_filter(pages, blocked)
    kept_doms = set(
        r.domain for r in kept.select("domain").distinct().collect()
    )
    assert kept_doms == set(got.domain) - set(blocked)
    assert kept.count() == int(got[~got.domain.isin(blocked)].n_pages.sum())


def test_policy_verdicts_literal(spark):
    """RFC 9309 semantics tie-down: longest prefix wins, allow wins an
    equal-length tie, no matching rule -> allowed."""
    from pdal_spark.datapipe import weburl

    pages = spark.createDataFrame(
        [
            (1, "https://a.example/p/1"),     # '/' disallow only
            (2, "https://a.example/ok/x"),    # '/ok/' allow beats '/'
            (3, "https://a.example/ok/sec"),  # '/ok/sec' disallow (longest)
            (4, "https://a.example/tie/z"),   # equal-length pair -> allow
            (5, "https://b.example/"),        # no rules for host -> allowed
        ],
        "page_id long, url string",
    )
    rules = spark.createDataFrame(
        [
            ("a.example", "/", False),
            ("a.example", "/ok/", True),
            ("a.example", "/ok/sec", False),
            ("a.example", "/tie/", False),
            ("a.example", "/tie/", True),
        ],
        "host string, prefix string, allow boolean",
    )
    got = {
        r.page_id: (r.allowed, r.rule_prefix)
        for r in weburl.policy_verdicts(pages, rules).collect()
    }
    assert got == {
        1: (False, "/"),
        2: (True, "/ok/"),
        3: (False, "/ok/sec"),
        4: (True, "/tie/"),
        5: (True, None),
    }


def test_revisit_changes_literal(spark):
    """Capture-history labeling: first capture 'new', identical hash
    'unchanged', differing hash 'changed'; URL variants of the same
    page share one history via canonicalization."""
    from pdal_spark.datapipe import weburl

    rows = [
        (1, "https://a.example/p", "2024-01-01 00:00:00", "h1"),
        # www variant of the SAME canonical url — one history
        (2, "https://www.a.example/p", "2024-01-01 00:01:00", "h1"),
        (3, "https://a.example/p", "2024-01-01 00:02:00", "h2"),
        (4, "https://b.example/q", "2024-01-01 00:00:30", "x"),
    ]
    df = spark.createDataFrame(
        rows, "page_id long, url string, warc_ts string, content_hash string"
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    got = {r.page_id: r.status
           for r in weburl.revisit_changes(df).collect()}
    assert got == {1: "new", 2: "unchanged", 3: "changed", 4: "new"}


def test_domain_cap(spark):
    import duckdb as _dd

    from pdal_spark.datapipe import weburl

    pages = _variant_pages(spark)
    out = weburl.domain_cap(pages, 3, id_col="page_id")
    got = (
        out.select("page_id", "domain").toPandas()
        .sort_values(["domain", "page_id"]).reset_index(drop=True)
    )
    # cap holds per domain
    assert (got.groupby("domain").size() <= 3).all()
    # deterministic: second run identical
    again = (
        weburl.domain_cap(pages, 3, id_col="page_id")
        .select("page_id", "domain").toPandas()
        .sort_values(["domain", "page_id"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, again)
    # DuckDB twin bit-equal
    con = _dd.connect()
    con.register("pages", pages.toPandas())
    exp = con.sql(
        weburl.domain_cap_sql("pages", 3, select="page_id, domain")
        + " ORDER BY domain, page_id"
    ).df().reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_paragraph_dedup_hot_paragraph(spark):
    """A paragraph repeated across half the corpus must (a) survive
    exactly once, in its first-occurrence position, and (b) collapse
    MAP-SIDE: the winners aggregate plans as partial+final HashAggregate
    pairs (min(struct) is associative), not a per-paragraph window."""
    rows = []
    hot = "x y"
    for i in range(200):
        rows.append((i, f"u{i} v{i} {hot}" if i % 2 == 0 else f"u{i} v{i}"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.paragraph_dedup(df, chunk_words=2)
    pdf = out.toPandas().set_index("doc_id")
    # doc 0 keeps "u0 v0 x y"; every other even doc loses the hot chunk
    assert pdf.loc[0, "text_dedup"] == "u0 v0 x y"
    for i in range(2, 200, 2):
        assert pdf.loc[i, "text_dedup"] == f"u{i} v{i}", i
    # plan: the first-occurrence stage is an aggregate with a partial
    # (map-side) phase, and no Window node anywhere
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_min" in plan or "HashAggregate" in plan


# --- KMV distinct-count sketch -----------------------------------------------


def test_kmv_sketch_oracle(docs, ddb):
    from pdal_spark.datapipe import sketch

    fp = textstats.fingerprint(docs)
    out = sketch.kmv_sketch(fp, ["source"], "fp_roll", k=32).drop("sketch")
    exp = ddb.sql(
        sketch.kmv_sketch_sql(
            f"(SELECT source, ({textstats.fingerprint_sql()[1]}) AS fp_roll "
            f"FROM documents)",
            ["source"], "fp_roll", k=32,
        )
    )
    _cmp(out, exp, ["source"])


def test_kmv_sketch_exact_below_k(spark):
    """Groups with fewer distinct values than k report the EXACT count."""
    from pdal_spark.datapipe import sketch

    df = spark.range(1000).select(
        (F.col("id") % 4).alias("g"), (F.col("id") % 40).alias("v")
    )
    out = sketch.kmv_sketch(df, ["g"], "v", k=64).toPandas()
    # each g sees exactly 10 distinct v values (id%4 and id%40 correlate)
    assert (out["est_distinct"] == 10.0).all()
    assert (out["n_in_sketch"] == 10).all()


def test_kmv_sketch_estimate_accuracy_and_merge(spark):
    """Large-cardinality estimate lands within ~2/sqrt(k); sketching a
    union equals merging the parts' sketches (the distributed-merge
    invariant phase 2 relies on)."""
    from pdal_spark.datapipe import sketch

    n = 200_000
    df = spark.range(n).select(F.lit("g").alias("g"), F.col("id").alias("v"))
    k = 256
    out = sketch.kmv_sketch(df, ["g"], "v", k=k).collect()[0]
    rel = abs(out["est_distinct"] - n) / n
    assert rel < 2.0 / (k ** 0.5), (out["est_distinct"], rel)
    # merge invariant: sketch(A union B) == merge(sketch(A), sketch(B))
    a = sketch.kmv_sketch(
        df.filter(F.col("v") < n // 2), ["g"], "v", k=k
    ).collect()[0]["sketch"]
    b = sketch.kmv_sketch(
        df.filter(F.col("v") >= n // 2), ["g"], "v", k=k
    ).collect()[0]["sketch"]
    merged = sorted(set(a) | set(b))[:k]
    assert merged == list(out["sketch"])


# --- BM25 ranking ------------------------------------------------------------


def test_bm25_literal(spark):
    """Hand-computed Okapi BM25 on a 3-doc corpus."""
    import math

    from pdal_spark.datapipe import ranking

    corpus = [
        (0, "cat dog cat"),
        (1, "dog bird"),
        (2, "fish fish fish fish"),
    ]
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["bm25"]
        for r in ranking.bm25_score(df, ["cat", "dog"]).collect()
    }

    def idf(dfreq, n=3):
        return math.log(1 + (n - dfreq + 0.5) / (dfreq + 0.5))

    avgdl = (3 + 2 + 4) / 3
    k1, b = ranking.K1, ranking.B

    def s(tf, dl, dfreq):
        return idf(dfreq) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    exp0 = s(2, 3, 1) + s(1, 3, 2)   # cat df=1, dog df=2
    exp1 = s(1, 2, 2)
    assert got.keys() == {0, 1}      # doc 2 matches nothing
    assert abs(got[0] - exp0) < 1e-6
    assert abs(got[1] - exp1) < 1e-6


def test_bm25_duckdb_twin(docs, ddb):
    from pdal_spark.datapipe import ranking

    out = ranking.bm25_score(docs, ["spark", "window", "merge"])
    exp = ddb.sql(ranking.bm25_score_sql(["spark", "window", "merge"]))
    _cmp(out, exp, ["doc_id"])


def test_compression_ratio_exact_replay(spark):
    """Engine output == a direct zlib replay per document, including the
    empty-doc guard and the keep flag."""
    import zlib

    from pdal_spark.datapipe import textstats

    corpus = [
        (0, "the quick brown fox jumps over the lazy dog " * 3),
        (1, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),   # template tail
        (2, "xq9#kL!2mZ@7vB$4nW^8cR&1pT*5hJ(3gF)6dS_0"),   # gibberish tail
        (3, ""),
    ]
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    got = {
        r["doc_id"]: r
        for r in textstats.compression_ratio(df, max_ratio_keep=0.85).collect()
    }
    for i, text in corpus:
        raw = text.encode("utf-8")
        nz = len(zlib.compress(raw, 6))
        assert got[i]["n_raw_bytes"] == len(raw)
        assert got[i]["n_zlib_bytes"] == nz
        exp_ratio = nz / max(len(raw), 1)
        assert abs(got[i]["ratio"] - exp_ratio) < 1e-12
        assert got[i]["keep"] == (exp_ratio <= 0.85)
    # the signal separates the tails: repetitive << prose < gibberish
    assert got[1]["ratio"] < got[0]["ratio"] < got[2]["ratio"]
    assert not got[2]["keep"] and got[1]["keep"]


def test_conjunctive_search_literal(spark):
    """AND semantics: all terms required; repeated phrase term is one
    AND atom; phrase mode requires adjacency in order."""
    from pdal_spark.datapipe import ranking

    corpus = [
        (0, "cat dog bird"),        # has both, not adjacent in order
        (1, "dog cat"),             # adjacent "dog cat"
        (2, "cat only here"),       # missing dog
        (3, "a dog cat b"),         # adjacent, embedded
        (4, "dogcat dog"),          # token law: "dogcat" is not "cat"
    ]
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    both = {r["doc_id"] for r in
            ranking.conjunctive_search(df, ["cat", "dog"]).collect()}
    assert both == {0, 1, 3}
    phr = {r["doc_id"] for r in
           ranking.conjunctive_search(df, ["dog", "cat"], phrase=True).collect()}
    assert phr == {1, 3}
    # repeated term: "cat cat" needs adjacency of the same token
    df2 = spark.createDataFrame(
        [(0, "cat dog cat"), (1, "x cat cat y")], ["doc_id", "text"]
    )
    rep = {r["doc_id"] for r in
           ranking.conjunctive_search(df2, ["cat", "cat"], phrase=True).collect()}
    assert rep == {1}


def test_conjunctive_search_duckdb_twin(docs, ddb):
    from pdal_spark.datapipe import ranking

    out = ranking.conjunctive_search(docs, ["spark", "window", "merge"])
    exp = ddb.sql(ranking.conjunctive_search_sql(["spark", "window", "merge"]))
    _cmp(out, exp, ["doc_id"])
    outp = ranking.conjunctive_search(docs, ["spark", "window"], phrase=True)
    expp = ddb.sql(
        ranking.conjunctive_search_sql(["spark", "window"], phrase=True)
    )
    _cmp(outp, expp, ["doc_id"])


def test_canonical_url_idempotent(spark):
    """canonical(canonical(u)) == canonical(u) — canonical forms are
    fixpoints (catches rules that keep rewriting their own output)."""
    from pdal_spark.datapipe import weburl

    pages = _variant_pages(spark, n=200)
    once = pages.select(
        "page_id", weburl.canonical_url(F.col("url")).alias("url")
    )
    twice = once.select(
        "page_id", weburl.canonical_url(F.col("url")).alias("url2")
    )
    diff = (
        once.join(twice, "page_id")
        .filter(F.col("url") != F.col("url2"))
        .count()
    )
    assert diff == 0


def test_paragraph_dedup_fixpoint(docs):
    """Re-deduplicating an already-deduplicated corpus is a no-op:
    every surviving paragraph is unique, so n_kept == n_chunks and the
    text round-trips."""
    once = dedup.paragraph_dedup(docs, chunk_words=10).select(
        "doc_id", F.col("text_dedup").alias("text")
    )
    twice = dedup.paragraph_dedup(once, chunk_words=10).toPandas()
    assert (twice["n_kept"] == twice["n_chunks"]).all()
    a = once.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = twice[["doc_id", "text_dedup"]].sort_values("doc_id").reset_index(drop=True)
    assert (a["text"].values == b["text_dedup"].values).all()


# --- BPE tokenizer training ---------------------------------------------------


def test_bpe_train_matches_reference(docs):
    """Distributed trainer == pure-python reference, merge for merge
    (order, pair, count), on the real corpus."""
    from pdal_spark.datapipe import bpe

    got = bpe.bpe_train(docs, 8)
    wc = {
        r["word"]: r["n"]
        for r in bpe.word_freq(docs).collect()
    }
    exp = bpe.bpe_train_reference(wc, 8)
    assert got == exp and len(got) == 8


def test_bpe_encode_roundtrip(spark):
    """Encoding with zero merges = character count; each merge strictly
    reduces (or keeps) the token count; counts match a hand encode."""
    from pdal_spark.datapipe import bpe

    df = spark.createDataFrame(
        [(0, "low lower lowest low low newer new")], ["doc_id", "text"]
    )
    m = bpe.bpe_train(df, 5)
    n5 = bpe.bpe_encode(df, m).collect()[0]["n_bpe_tokens"]
    n0 = bpe.bpe_encode(df, []).collect()[0]["n_bpe_tokens"]
    assert n0 == sum(len(w) for w in "low lower lowest low low newer new".split())
    assert n5 == 12  # low x3 + low+er + low+e+s+t + new+er + new
    assert n5 < n0


def test_kmv_sketch_null_values_and_keys(spark):
    """NULL values don't count toward cardinality; a NULL group key is
    a real group (SQL GROUP BY semantics), not dropped."""
    from pdal_spark.datapipe import sketch

    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("a", 2), (None, 3), (None, 3)],
        "g string, v int",
    )
    out = {r["g"]: r for r in sketch.kmv_sketch(df, ["g"], "v", k=8).collect()}
    assert out["a"]["est_distinct"] == 2.0
    assert out[None]["est_distinct"] == 1.0


def test_pii_counts_match_inserted_tokens(spark):
    """A phone-shaped email local part belongs to the email: counts are
    measured on the progressively-redacted text, so n_<type> always
    equals the <TYPE> tokens inserted."""
    from pdal_spark.datapipe import pii

    df = spark.createDataFrame(
        [(0, "reach me: 555-123-4567@corp.example now")], ["doc_id", "text"]
    )
    r = pii.pii_redact(df).collect()[0]
    assert r["n_email"] == 1 and r["n_phone"] == 0 and r["n_ipv4"] == 0
    assert r["text_redacted"] == "reach me: <EMAIL> now"


def test_blocklist_filter_empty_list(spark):
    from pdal_spark.datapipe import weburl

    pages = _variant_pages(spark, n=50)
    out = weburl.blocklist_filter(pages, [])
    assert out.count() == 50 and "domain" in out.columns


# --- SemDeDup ---------------------------------------------------------------


def test_semdedup_matches_sql_oracle(embs, ddb):
    out = simsearch.semdedup(embs, threshold=0.3)
    exp = ddb.sql(simsearch.semdedup_sql(0.3))
    _cmp(out, exp, ["vec_id"])


def test_semdedup_invariants(embs):
    df = simsearch.semdedup(embs, threshold=0.3).toPandas()
    assert len(df) == embs.count()
    g = df.groupby("group_id")
    # exactly one kept doc per duplicate group
    assert (g["is_kept"].sum() == 1).all()
    # group_id is the smallest member id
    assert (g.apply(lambda p: p.vec_id.min() == p.group_id.iloc[0])).all()
    # a group never spans clusters (edges are within-cluster only)
    assert (g["list_id"].nunique() == 1).all()
    # the kept member is the one least similar to its centroid
    # (ties by smallest id)
    for _, p in df[df.group_id.isin(
        df[df.is_kept == 0].group_id.unique()
    )].groupby("group_id"):
        kept = p[p.is_kept == 1].iloc[0]
        best = p.sort_values(["cent_sim", "vec_id"]).iloc[0]
        assert kept.vec_id == best.vec_id


def test_semdedup_literal(spark):
    # two tight direction-clusters; within each, two near-identical
    # vectors (cos ~ 1) and one distinct direction
    import numpy as np

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),     # dup group {0, 1}
        (1, [0.999, 0.01, 0.0, 0.0]),
        (2, [0.7, 0.7, 0.0, 0.0]),     # singleton (cos to 0/1 ~ .71 < .95)
        (3, [0.0, 0.0, 1.0, 0.0]),     # dup group {3, 4}
        (4, [0.0, 0.01, 0.999, 0.0]),
        (5, [0.0, 0.0, 0.7, 0.7]),     # singleton
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        schema="vec_id long, embedding array<float>",
    )
    out = (
        simsearch.semdedup(df, threshold=0.95, nlist=2, n_iters=2)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    assert list(out.group_id) == [0, 0, 2, 3, 3, 5]
    # keep-farthest-from-centroid: the group member with lower centroid
    # cosine survives; singletons always survive
    for gid in (0, 3):
        grp = out[out.group_id == gid]
        kept = grp[grp.is_kept == 1]
        assert len(kept) == 1
        assert kept.iloc[0].cent_sim == grp.cent_sim.min()
    assert out[out.vec_id.isin([2, 5])].is_kept.tolist() == [1, 1]


# --- CCNet perplexity buckets ------------------------------------------------


def test_ppl_buckets_match_sql_oracle(docs, ddb):
    out = textstats.perplexity_buckets(docs)
    exp = ddb.sql(textstats.perplexity_buckets_sql())
    _cmp(out, exp, ["doc_id"])


def test_ppl_buckets_invariants(docs):
    df = textstats.perplexity_buckets(docs).toPandas()
    assert len(df) == docs.count()
    assert set(df.ppl_bucket) <= {"head", "middle", "tail"}
    for lang, grp in df.groupby("lang"):
        n = len(grp)
        if n < 3:
            continue
        # order statistics: every head score <= every middle score
        # <= every tail score (ties can cross the 1/3 boundaries, the
        # value ordering cannot)
        h = grp[grp.ppl_bucket == "head"].bigram_logloss
        m = grp[grp.ppl_bucket == "middle"].bigram_logloss
        t = grp[grp.ppl_bucket == "tail"].bigram_logloss
        if len(h) and len(m):
            assert h.max() <= m.min()
        if len(m) and len(t):
            assert m.max() <= t.min()
        # head holds at least a third of the language (ties only add)
        assert len(h) * 3 >= n


# --- sequence packing ------------------------------------------------------


def test_pack_sequences_literal(spark):
    from pdal_spark.datapipe import packing

    rows = [(1, 10), (2, 0), (3, 250), (4, 6), (5, 300)]
    df = spark.createDataFrame(rows, "doc_id int, n int")
    out = {
        r.doc_id: r
        for r in packing.pack_sequences(df, max_len=256, tokens_col="n").collect()
    }
    # stream offsets in doc_id order: 0, 10, 10, 260, 266
    assert out[1].tok_start == 0 and out[1].block_start == 0 and out[1].block_end == 0
    assert out[2].n_blocks == 0 and out[2].block_start is None
    # doc 3 spans tokens [10, 260) -> blocks 0..1
    assert (out[3].block_start, out[3].block_end, out[3].n_blocks) == (0, 1, 2)
    assert (out[4].block_start, out[4].block_end) == (1, 1)
    # doc 5 spans [266, 566) -> blocks 1..2
    assert (out[5].block_start, out[5].block_end, out[5].n_blocks) == (1, 2, 2)
    stats = packing.pack_block_stats(
        packing.pack_sequences(df, max_len=256, tokens_col="n"), 256
    )
    assert stats["n_blocks"] == 3
    assert stats["total_tokens"] == 566
    assert stats["pad_tokens"] == 3 * 256 - 566


def test_pack_sequences_matches_sql_oracle(docs, ddb):
    from pdal_spark.datapipe import packing, textstats

    ws, _ = textstats.token_count_sql()
    out = packing.pack_sequences(
        textstats.token_count(docs), max_len=128, tokens_col="n_ws_tokens"
    )
    exp = ddb.sql(packing.pack_sequences_sql(128, ws))
    _cmp(out, exp, ["doc_id"])


# --- bloom membership screen ------------------------------------------------


def test_bloom_no_false_negatives_and_oracle(docs, ddb):
    from pdal_spark.datapipe import bloom

    ref = docs.filter(F.col("doc_id") % 3 == 0)
    bm = bloom.bloom_build(ref, m_bits=4096, k=3)
    got = {
        r.doc_id: r.maybe_member
        for r in bloom.bloom_contains(docs, bm, m_bits=4096, k=3)
        .select("doc_id", "maybe_member")
        .collect()
    }
    assert all(got[i] for i in got if i % 3 == 0)
    exp = dict(
        ddb.sql(bloom.bloom_screen_sql("doc_id % 3 = 0", m_bits=4096, k=3)).fetchall()
    )
    assert got == exp


def test_bloom_false_positives_replay_in_oracle(docs, ddb):
    # tiny filter -> saturated bitmap -> real false positives; they must
    # be the SAME false positives in DuckDB (exact integer arithmetic)
    from pdal_spark.datapipe import bloom

    ref = docs.filter(F.col("doc_id") % 3 == 0)
    bm = bloom.bloom_build(ref, m_bits=256, k=2)
    got = {
        r.doc_id: r.maybe_member
        for r in bloom.bloom_contains(docs, bm, m_bits=256, k=2)
        .select("doc_id", "maybe_member")
        .collect()
    }
    fps = [i for i, m in got.items() if m and i % 3 != 0]
    assert fps, "expected false positives with a 256-bit filter"
    exp = dict(
        ddb.sql(bloom.bloom_screen_sql("doc_id % 3 = 0", m_bits=256, k=2)).fetchall()
    )
    assert got == exp


def test_bloom_probe_side_never_shuffles(docs):
    from pdal_spark.datapipe import bloom

    ref = docs.filter(F.col("doc_id") % 3 == 0)
    bm = bloom.bloom_build(ref, m_bits=4096, k=3)
    plan = (
        bloom.bloom_contains(docs, bm, m_bits=4096, k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # every probe join must be a broadcast: the probed table itself
    # never exchanges (the only Exchange is the bitmap build's bit_or)
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_bloom_stats(docs):
    from pdal_spark.datapipe import bloom

    ref = docs.filter(F.col("doc_id") % 3 == 0)
    bm = bloom.bloom_build(ref, m_bits=4096, k=3)
    s = bloom.bloom_stats(bm, 4096, ref.count(), 3)
    assert 0 < s["set_bits"] <= 3 * s["n_keys"]
    assert 0 < s["fill_ratio"] < 0.2


# --- Gopher quality rules ---------------------------------------------------


def test_gopher_rules_literal(spark):
    from pdal_spark.datapipe import quality_rules as qr

    good = "the cat sat and that dog ran off with food " * 6  # 60 words
    rows = [
        (1, good),                                  # passes everything
        (2, "short text"),                          # word count fail
        (3, ("a " * 60).strip()),                   # mean word len < 3
        (4, ("### " * 30 + "the of and " * 10).strip()),  # symbol ratio
        (5, "\n".join("- bullet line the of and" for _ in range(10))
            + "\n" + ("word " * 50).strip()),       # bullet frac 10/11 > 0.9
        (6, ("12345 " * 60 + "the of").strip()),    # alpha frac fail
        (7, ("cat dog bird fish " * 15).strip()),   # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in qr.gopher_rules(df, min_words=20).collect()}
    assert out[1].gopher_pass
    assert not out[2].pass_word_count
    assert not out[3].pass_word_len
    assert not out[4].pass_symbols and out[4].symbol_ratio > 0.1
    assert not out[5].pass_lines and out[5].bullet_frac > 0.9
    assert not out[6].pass_alpha
    assert not out[7].pass_stopwords and out[7].n_stopwords == 0
    for i in range(2, 8):
        assert not out[i].gopher_pass


def test_gopher_rules_ellipsis_and_empty(spark):
    from pdal_spark.datapipe import quality_rules as qr

    rows = [
        (1, "the line one...\nthe line two...\nthe ok line of and " +
            "w " * 30),
        (2, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in qr.gopher_rules(df, min_words=5).collect()}
    assert out[1].ellipsis_frac == round(2 / 3, 6)
    assert not out[1].pass_lines
    # empty doc: no words, every guarded ratio NULL, overall fail
    assert out[2].n_words == 0
    assert out[2].mean_word_len is None
    assert out[2].gopher_pass is False or out[2].gopher_pass is None


def test_gopher_rules_matches_sql_oracle(docs, ddb):
    from pdal_spark.datapipe import quality_rules as qr

    out = qr.gopher_rules(docs, min_words=50, min_stopwords=1)
    exp = ddb.sql(qr.gopher_rules_sql(min_words=50, min_stopwords=1))
    _cmp(out, exp, ["doc_id"])


# --- composed curation pipeline ---------------------------------------------


def test_curate_counts_match_sql_oracle(docs, ddb):
    from pdal_spark.datapipe import curate

    got = sorted(
        (r.stage, r.name, r.n_docs)
        for r in curate.curate_counts(docs, min_words=50, min_stopwords=1).collect()
    )
    exp = sorted(
        ddb.sql(curate.curate_counts_sql(min_words=50, min_stopwords=1)).fetchall()
    )
    assert got == exp
    # attrition is monotone and every stage retains something here
    ns = [n for _, _, n in got]
    assert ns[0] >= ns[1] >= ns[2] >= ns[3] > 0


def test_curate_survivors_semantics(spark):
    from pdal_spark.datapipe import curate

    base = "the cat sat and that dog ran off with food more words here now "
    rows = [
        (1, base * 4),            # survives
        (2, base * 4),            # exact dup of 1 -> dropped at stage 2
        (3, base * 4 + "tail"),   # near-dup of 1 -> dropped at stage 3
        (4, "tiny"),              # quality fail -> dropped at stage 1
        (5, ("unique word salad alpha beta gamma delta epsilon zeta eta "
             "theta iota kappa and the that of " ) * 3),  # survives
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out, stages = curate.curate(df, min_words=20, min_stopwords=2,
                                jaccard_threshold=0.5, shingle=3)
    kept = sorted(r.doc_id for r in out.select("doc_id").collect())
    assert kept == [1, 5]
    assert [f.count() for _, _, f in stages] == [5, 4, 3, 2]
    assert out.columns == df.columns


# --- C4 cleaning rules ------------------------------------------------------


def test_c4_clean_literal(spark):
    from pdal_spark.datapipe import c4_rules as c4

    rows = [
        (1, 'Good long sentence here.\nshort.\nno terminal line\n'
            'Another fine kept sentence!'),
        (2, 'This page uses JavaScript heavily today.\nKept line stays fine.'),
        (3, 'Lorem Ipsum dolor sit amet.\nFine sentence otherwise here.'),
        (4, 'var x = { a: 1 }\nA good sentence here.'),
        (5, 'no terminal\nalso none'),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in c4.c4_clean(df).collect()}
    # doc 1: 'short.' fails min 3 words; bare line fails terminal
    assert out[1].c4_keep and out[1].n_kept_lines == 2
    assert out[1].clean_text == (
        'Good long sentence here.\nAnother fine kept sentence!')
    # doc 2: javascript LINE dropped, page survives on the other line
    assert out[2].c4_keep and out[2].n_kept_lines == 1
    # doc 3: lorem ipsum kills the PAGE (case-insensitive)
    assert out[3].has_lorem and not out[3].c4_keep
    # doc 4: curly brace kills the page
    assert out[4].has_brace and not out[4].c4_keep
    # doc 5: nothing survives -> empty clean text, dropped
    assert out[5].n_kept_lines == 0 and out[5].clean_text == ""
    assert not out[5].c4_keep


def test_c4_clean_matches_sql_oracle(docs, ddb):
    from pdal_spark.datapipe import c4_rules as c4

    out = c4.c4_clean(c4.with_synth_lines(docs))
    exp = ddb.sql(c4.c4_clean_sql(table="(" + c4.with_synth_lines_sql() + ")"))
    _cmp(out, exp, ["doc_id"])


# --- PageRank (link-graph authority) ----------------------------------------


def test_pagerank_literal_fixed_point(spark):
    from pdal_spark.datapipe import graphrank as gr

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (4, 3)]
    M, N, pq = gr.MICRO, 5, (17, 20)
    deg = {0: 2, 1: 1, 2: 1, 4: 1}
    r = {i: M // N for i in range(N)}
    for _ in range(4):
        dang = sum(v for k, v in r.items() if k not in deg)
        s = {i: 0 for i in range(N)}
        for a, b in edges:
            s[b] += r[a] // deg[a]
        r = {i: 3 * M // (20 * N) + 17 * (s[i] + dang // N) // 20
             for i in range(N)}
    e = spark.createDataFrame(edges, "src int, dst int")
    got = {x.node: x.rank_micro
           for x in gr.pagerank(e, n_iters=4, damping=pq).collect()}
    assert got == r
    # dangling node 3 received mass, sink-only node ranks lowest
    assert got[3] > got[4]
    assert min(got, key=got.get) == 4


def test_pagerank_matches_sql_oracle_and_converges(docs, ddb):
    from pdal_spark.datapipe import graphrank as gr

    i = F.col("doc_id")
    e1 = docs.select((i % 97).alias("src"), ((i * 7 + 1) % 97).alias("dst"))
    e2 = docs.select(((i * 3) % 97).alias("src"),
                     ((i * 13 + 5) % 97).alias("dst"))
    edges = e1.unionByName(e2).filter(F.col("src") != F.col("dst"))
    esql = ("SELECT src, dst FROM ("
            "SELECT doc_id % 97 AS src, (doc_id * 7 + 1) % 97 AS dst"
            " FROM documents UNION ALL"
            " SELECT (doc_id * 3) % 97, (doc_id * 13 + 5) % 97"
            " FROM documents) WHERE src <> dst")
    got = {r.node: r.rank_micro
           for r in gr.pagerank(edges, n_iters=3).collect()}
    exp = {r[0]: r[1] for r in ddb.sql(gr.pagerank_sql(esql, n_iters=3)).fetchall()}
    assert got == exp
    # mass conservation up to floor losses (ppb per iteration)
    total = sum(got.values())
    assert 0 < gr.MICRO - total < 10_000 * len(got)


# --- heavy hitters / CMS / weighted sampling -------------------------------


def test_top_k_words_matches_sql_oracle(docs, ddb):
    from pdal_spark.datapipe import frequency as freq

    out = freq.top_k_words(docs, k=20)
    exp = ddb.sql(freq.top_k_words_sql(k=20))
    _cmp(out, exp, ["word"])


def test_top_k_words_exact_under_forced_contraction(spark):
    """cap=8 forces Misra-Gries eviction on a skewed corpus; the
    heavy hitters must still come out EXACT (candidate completeness:
    global count > N/(cap+1) survives some partition summary)."""
    from pdal_spark.datapipe import frequency as freq

    # 40 docs: "hot" in all, "warm" in half, 200 distinct cold words
    rows = []
    for i in range(40):
        cold = " ".join(f"cold{i}_{j}" for j in range(5))
        body = "hot hot hot" + (" warm warm warm" if i % 2 == 0 else "")
        rows.append((i, f"{body} {cold}"))
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    out = freq.top_k_words(df, k=2, cap=8).collect()
    assert [(r["word"], r["n"]) for r in out] == [("hot", 120), ("warm", 60)]
    topk = freq.top_k_words(df, k=2, cap=8)
    assert freq.topk_certificate(df, topk, cap=8)


def test_mg_summaries_bounded(spark):
    from pdal_spark.datapipe import frequency as freq

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(30))) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
    words = freq.corpus_words(df)
    summ = freq._mg_summaries(words, cap=16).toPandas()
    # bounded state: at most cap rows per input partition
    assert len(summ) <= 16 * words.rdd.getNumPartitions()
    # the corpus is uniform (all counts 1): certificate must refuse
    topk = freq.top_k_words(df, k=5, cap=16)
    assert not freq.topk_certificate(df, topk, cap=16)


def test_cms_overestimates_never_under(docs):
    from pdal_spark.datapipe import frequency as freq

    top = freq.top_k_words(docs, k=15)
    est = freq.cms_estimate(freq.cms_build(docs, d=4, w=512), top, d=4, w=512)
    pdf = est.toPandas()
    assert (pdf["est"] >= pdf["n"]).all()
    # d=4 rows of 512 buckets: the top word's min-row estimate should be
    # within the standard 2N/w slack of truth on this corpus
    n_total = freq.corpus_words(docs).count()
    assert (pdf["est"] - pdf["n"]).max() <= 2 * n_total / 512


def test_grouped_topk_prune_equals_plain(spark):
    from pyspark.sql import Window

    from pdal_spark.operators.ordered import grouped_topk

    rows = [(i, i % 3, (i * 37) % 101) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, g int, v int").repartition(7)
    order = [F.col("v").desc(), F.col("id")]
    got = grouped_topk(df, ["g"], order, 5, prune=True)
    ref = grouped_topk(df, ["g"], order, 5, prune=False)
    key = lambda r: (r["g"], r["v"], r["id"])
    assert sorted(map(key, got.collect())) == sorted(map(key, ref.collect()))
    assert got.count() == 15


def test_weighted_sample_exact_k_and_bias(spark):
    """A-ES: exactly k per stratum, and heavier docs are overrepresented
    (size-biased inclusion), unlike uniform sampling."""
    from pdal_spark.datapipe import contamination as cont

    rows = []
    for i in range(400):
        lang = "en" if i % 2 == 0 else "de"
        # docs 0..199 heavy (60 tokens), 200..399 light (3 tokens)
        n_tok = 60 if i < 200 else 3
        rows.append((i, lang, " ".join(f"t{j}" for j in range(n_tok))))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = cont.weighted_sample(df, k=40, by=("lang",), seed=11).toPandas()
    assert (out.groupby("lang").size() == 40).all()
    heavy = (out["doc_id"] < 200).mean()
    assert heavy > 0.7  # 20x weight ratio -> heavy docs dominate
    # deterministic across partitionings
    out2 = cont.weighted_sample(
        df.repartition(13), k=40, by=("lang",), seed=11
    ).toPandas()
    assert set(out2["doc_id"]) == set(out["doc_id"])


def test_weighted_sample_matches_sql_oracle(docs, ddb):
    from pdal_spark.datapipe import contamination as cont

    out = cont.weighted_sample(docs, k=25)
    exp = ddb.sql(cont.weighted_sample_sql(k=25))
    _cmp(out, exp, ["lang", "doc_id"])


def test_hll_accuracy_and_small_range(spark):
    from pdal_spark.datapipe import sketch as sk

    big = spark.range(5000).select(
        F.lit("big").alias("g"), F.col("id").alias("v")
    )
    small = spark.range(10).select(
        F.lit("small").alias("g"), (F.col("id") * 1000).alias("v")
    )
    out = {
        r["g"]: r["est_distinct"]
        for r in sk.hll_sketch(big.union(small), ["g"], "v", m=64).collect()
    }
    # m=64 -> relative std error ~1.04/sqrt(64) = 13%
    assert abs(out["big"] - 5000) / 5000 < 0.3
    # linear-counting branch: near-exact at 10 << m
    assert abs(out["small"] - 10) < 2


def test_hll_partition_invariance(spark):
    from pdal_spark.datapipe import sketch as sk

    df = spark.range(2000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") * 7).alias("v")
    )
    a = sk.hll_sketch(df.repartition(1), ["g"], "v").sort("g").collect()
    b = sk.hll_sketch(df.repartition(17), ["g"], "v").sort("g").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_harmonic_literal_chain(spark):
    """Path a->b->c->d: H(d) = 1 + 1/2 + 1/3 -> h_num = 12+6+4 = 22;
    H(b) = 1; source a unreachable (absent). A shortcut edge must
    SHORTEN distances (BFS layering, not path counting)."""
    from pdal_spark.datapipe import graphrank as gr

    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], ["src", "dst"]
    )
    got = {r["node"]: r["h_num"]
           for r in gr.harmonic_centrality(df, radius=4).collect()}
    assert got == {1: 12, 2: 12 + 6, 3: 12 + 6 + 4}
    # add shortcut 0->2: d(0,3) becomes 2, d(0,2)=1
    df2 = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 2)], ["src", "dst"]
    )
    got2 = {r["node"]: r["h_num"]
            for r in gr.harmonic_centrality(df2, radius=4).collect()}
    assert got2 == {1: 12, 2: 12 + 12, 3: 12 + 6 + 6}


def test_harmonic_matches_sql_oracle(docs, ddb):
    from pdal_spark.datapipe import graphrank as gr

    i = F.col("doc_id")
    df = docs.select("doc_id")
    e = df.select((i % 211).alias("src"), ((i * 7 + 1) % 211).alias("dst")).filter(
        F.col("src") != F.col("dst")
    )
    out = gr.harmonic_centrality(e, radius=4)
    sql = gr.harmonic_centrality_sql(
        "SELECT doc_id % 211 AS src, (doc_id * 7 + 1) % 211 AS dst"
        " FROM documents WHERE doc_id % 211 <> (doc_id * 7 + 1) % 211",
        radius=4,
    )
    _cmp(out, ddb.sql(sql), ["node"])


def test_split_assign_exact_counts(docs, ddb):
    """Exact per-stratum counts (floor cutoffs, remainder to last
    split), determinism across reruns AND repartitioning, and the
    bit-exact DuckDB twin."""
    from pdal_spark.datapipe import contamination as ct

    out = ct.split_assign(docs).select("doc_id", "lang", "split")
    pdf = out.toPandas()
    for lang, g in pdf.groupby("lang"):
        n = len(g)
        c = g["split"].value_counts()
        assert c.get("train", 0) == n * 90 // 100
        assert c.get("val", 0) == n * 95 // 100 - n * 90 // 100
        assert c.get("test", 0) == n - n * 95 // 100
    # partitioning cannot move a row
    out2 = ct.split_assign(docs.repartition(13)).select(
        "doc_id", "lang", "split"
    ).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert out2.equals(pdf.sort_values("doc_id").reset_index(drop=True))
    _cmp(out, ddb.sql(ct.split_assign_sql(select="doc_id, lang")),
         ["doc_id"])


def test_split_assign_custom_fractions(spark):
    from pdal_spark.datapipe import contamination as ct

    df = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("lang")
    )
    out = ct.split_assign(
        df, fractions={"a": 1, "b": 1}, by=("lang",)
    ).toPandas()
    assert (out["split"] == "a").sum() == 5
    assert (out["split"] == "b").sum() == 5
    import pytest as _pt

    with _pt.raises(ValueError, match="global window"):
        ct.split_assign(df, by=())


def test_hyperball_vs_exact(docs, ddb):
    """HyperBall estimates vs the exact operator on the same graph:
    ball-size and harmonic medians near the nominal m=64 HLL stderr
    (~13%), rank signal present, and fully deterministic."""
    import numpy as np

    from pdal_spark.datapipe import graphrank as gr

    i = F.col("doc_id")
    df = docs.select("doc_id")
    parts = [
        df.select(((i * a) % 211).alias("src"), ((i * b + c) % 211).alias("dst"))
        for a, b, c in [(1, 7, 1), (3, 13, 5), (5, 11, 2)]
    ]
    e = parts[0].unionByName(parts[1]).unionByName(parts[2]).filter(
        F.col("src") != F.col("dst")
    ).persist()
    hb = gr.hyperball(e, radius=4, m=64).toPandas().set_index("node")
    ex = gr.harmonic_centrality(e, radius=4).toPandas().set_index("node")
    # exact ball size = in-reach pairs within radius + self
    ec = e.select(F.col("src").alias("u"), F.col("dst").alias("v")).distinct()
    seen, cur = ec, ec
    e2 = ec.select(F.col("u").alias("_x"), F.col("v").alias("_y"))
    for _ in range(2, 5):
        ext = (
            cur.join(e2, cur["v"] == e2["_x"])
            .select("u", F.col("_y").alias("v"))
            .filter(F.col("u") != F.col("v")).distinct()
        )
        cur = ext.join(seen, ["u", "v"], "left_anti").localCheckpoint()
        seen = seen.unionByName(cur).localCheckpoint()
    ball = (
        seen.groupBy(F.col("v").alias("node")).count()
        .toPandas().set_index("node")["count"] + 1
    )
    j = hb.join(ball.rename("exact_ball"), how="inner").join(ex, how="inner")
    assert len(j) == 211
    relb = (j["est_ball_r"] - j["exact_ball"]).abs() / j["exact_ball"]
    relh = (j["harmonic_est"] - j["harmonic"]).abs() / j["harmonic"].clip(lower=1)
    assert relb.median() < 0.2 and relb.quantile(0.9) < 0.4
    assert relh.median() < 0.2 and relh.quantile(0.9) < 0.4
    assert np.corrcoef(j["est_ball_r"], j["exact_ball"])[0, 1] > 0.5
    # deterministic: a second run is bit-identical
    hb2 = gr.hyperball(e, radius=4, m=64).toPandas().set_index("node")
    assert hb.sort_index().equals(hb2.sort_index())


def test_triangles_literal(spark):
    """K4 -> every vertex in C(3,2)=3 triangles; a star hub has none;
    duplicate / reversed / self-loop edges collapse first."""
    from pdal_spark.datapipe import graphrank as gr

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    star = [(10, x) for x in (11, 12, 13, 14)]
    noise = [(1, 0), (2, 2), (0, 1)]  # reversed dup, self-loop, dup
    df = spark.createDataFrame(k4 + star + noise, ["src", "dst"])
    got = {r["vertex"]: r["n_triangles"] for r in gr.triangles(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangles_matches_sql_oracle(docs, ddb):
    """Degree-oriented engine count == DuckDB's orientation-free
    id-ordered closed-triple join, on the dense 3-generator graph."""
    from pdal_spark.datapipe import graphrank as gr

    i = F.col("doc_id")
    df = docs.select("doc_id")
    parts = [
        df.select(((i * a) % 211).alias("src"), ((i * b + c) % 211).alias("dst"))
        for a, b, c in [(1, 7, 1), (3, 13, 5), (5, 11, 2)]
    ]
    e = parts[0].unionByName(parts[1]).unionByName(parts[2]).filter(
        F.col("src") != F.col("dst")
    )
    out = gr.triangles(e)
    sql = gr.triangles_sql(
        "SELECT (doc_id * 1) % 211 AS src, (doc_id * 7 + 1) % 211 AS dst FROM documents"
        " UNION ALL SELECT (doc_id * 3) % 211, (doc_id * 13 + 5) % 211 FROM documents"
        " UNION ALL SELECT (doc_id * 5) % 211, (doc_id * 11 + 2) % 211 FROM documents"
    )
    _cmp(out, ddb.sql(sql), ["vertex"])
    # sanity: the workload is real (not a couple of accidental triples)
    assert out.count() > 20


def test_hits_literal_fixed_point(spark):
    """Exact-integer reference replication of the L1-normalized HITS
    half-steps on a 4-node graph, plus the structural expectation that
    the node every hub points to tops the authority ranking."""
    from pdal_spark.datapipe import graphrank as gr

    edges = [(0, 3), (1, 3), (2, 3), (3, 1), (0, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {
        r["node"]: (r["auth_micro"], r["hub_micro"])
        for r in gr.hits(df, n_iters=3).collect()
    }

    M = gr.HMICRO
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    h = {v: M // n for v in nodes}
    a = {}
    for _ in range(3):
        ar = {v: sum(h[u] for u, w in edges if w == v) for v in nodes}
        sa = sum(ar.values())
        a = {v: ar[v] * M // sa for v in nodes}
        hr = {u: sum(a[w] for x, w in edges if x == u) for u in nodes}
        sh = sum(hr.values())
        h = {u: hr[u] * M // sh for u in nodes}
    assert out == {v: (a[v], h[v]) for v in nodes}
    assert max(a, key=a.get) == 3  # everyone links to 3
    assert max(h, key=h.get) == 0  # 0 links to both strong authorities


def test_hits_matches_sql_oracle(docs, ddb):
    from pdal_spark.datapipe import graphrank as gr

    i = F.col("doc_id")
    df = docs.select("doc_id")
    e = df.select((i % 601).alias("src"), ((i * 7 + 1) % 601).alias("dst")).unionByName(
        df.select(((i * 3) % 601).alias("src"), ((i * 13 + 5) % 601).alias("dst"))
    ).filter(F.col("src") != F.col("dst"))
    out = gr.hits(e, n_iters=4)
    sql = gr.hits_sql(
        "SELECT src, dst FROM (SELECT doc_id % 601 AS src, (doc_id * 7 + 1) % 601 AS dst FROM documents"
        " UNION ALL SELECT (doc_id * 3) % 601, (doc_id * 13 + 5) % 601 FROM documents)"
        " WHERE src <> dst",
    )
    _cmp(out, ddb.sql(sql), ["node"])


def test_personalized_pagerank_literal_fixed_point(spark):
    from pdal_spark.datapipe import graphrank as gr

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (4, 3)]
    M, pq = gr.MICRO, (17, 20)
    seeds = [0]
    deg = {0: 2, 1: 1, 2: 1, 4: 1}
    r = {i: (M // 1 if i in seeds else 0) for i in range(5)}
    for _ in range(4):
        dang = sum(v for k, v in r.items() if k not in deg)
        s = {i: 0 for i in range(5)}
        for a, b in edges:
            s[b] += r[a] // deg[a]
        r = {
            i: (3 * M // 20 if i in seeds else 0)
            + 17 * (s[i] + (dang // 1 if i in seeds else 0)) // 20
            for i in range(5)
        }
    e = spark.createDataFrame(edges, "src int, dst int")
    got = {
        x.node: x.rank_micro
        for x in gr.personalized_pagerank(
            e, seeds=seeds, n_iters=4, damping=pq
        ).collect()
    }
    assert got == r
    # mass concentrates around the seed's neighborhood; the component
    # unreachable from the seed gets none
    assert got[0] > 0 and got[1] > 0 and got[2] > 0
    assert got[3] == 0 and got[4] == 0


def test_personalized_pagerank_rejects_empty_seeds(spark):
    from pdal_spark.datapipe import graphrank as gr

    e = spark.createDataFrame([(0, 1)], "src int, dst int")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        gr.personalized_pagerank(e, seeds=[])


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by one bridge edge: LPA converges to one
    label per triangle (the smallest member id), bridge notwithstanding."""
    from pdal_spark.datapipe import graphrank as gr

    tri1 = [(0, 1), (1, 2), (2, 0)]
    tri2 = [(10, 11), (11, 12), (12, 10)]
    e = spark.createDataFrame(
        tri1 + tri2 + [(2, 10)], "src long, dst long"
    )
    got = {r.node: r.label
           for r in gr.label_propagation(e, n_iters=4).collect()}
    assert got[0] == got[1] == got[2] == 0
    # the bridge leaks the smaller-side label into the tie at node 10
    # (round 1: {11,12,2} all count 1 -> 2), which then wins the
    # triangle — deterministic trajectory, two communities still
    assert got[10] == got[11] == got[12]
    assert got[10] != got[0]


def test_label_propagation_deterministic_tie_to_smallest(spark):
    """A node whose two neighbors carry equally frequent labels adopts
    the smaller label."""
    from pdal_spark.datapipe import graphrank as gr

    # star center 5 with leaves 1 and 9: round 1 -> center sees {1, 9},
    # tie -> label 1
    e = spark.createDataFrame([(5, 1), (5, 9)], "src long, dst long")
    got = {r.node: r.label
           for r in gr.label_propagation(e, n_iters=1).collect()}
    assert got[5] == 1


def test_kcore_literal_peel(spark):
    """Triangle + pendant chain: the 2-core is exactly the triangle —
    the pendant peels in round 1, its support in round 2."""
    from pdal_spark.datapipe import graphrank as gr

    # triangle 0-1-2; chain 2-3, 3-4
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)], "src long, dst long"
    )
    got = gr.kcore(e, k=2, n_rounds=4).collect()
    nodes = sorted(r.node for r in got)
    assert nodes == [0, 1, 2]
    assert all(r.degree == 2 and r.converged for r in got)


def test_kcore_unconverged_budget_is_reported(spark):
    """A long chain peels one node per round from each end: with a
    1-round budget the certificate must say not converged."""
    from pdal_spark.datapipe import graphrank as gr

    chain = [(i, i + 1) for i in range(10)]
    e = spark.createDataFrame(chain, "src long, dst long")
    got = gr.kcore(e, k=2, n_rounds=1).collect()
    assert got and not got[0].converged
    # ...and with enough rounds the 2-core of a chain is empty
    assert gr.kcore(e, k=2, n_rounds=8).count() == 0


def test_sorted_neighborhood_blocking(spark):
    """Pair volume is exactly n*w minus the tail shortfall; every pair
    spans <= w ranks in the declared order; adjacent near-dup keys meet."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, 1000 + i * 3) for i in range(20)], "doc_id long, n_chars long"
    )
    out = dedup.sorted_neighborhood_pairs(
        df, [F.col("n_chars").asc(), F.col("doc_id").asc()], window=2
    ).collect()
    # n=20, w=2 -> (20-1) + (20-2) = 37 pairs
    assert len(out) == 37
    assert all(1 <= r.rank_dist <= 2 for r in out)
    # ranks follow n_chars order -> id1 always the smaller id here
    assert all(r.id1 < r.id2 for r in out)
    # window=1 is the adjacency chain
    chain = dedup.sorted_neighborhood_pairs(
        df, [F.col("n_chars").asc(), F.col("doc_id").asc()], window=1
    ).collect()
    assert sorted((r.id1, r.id2) for r in chain) == [
        (i, i + 1) for i in range(19)
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.sorted_neighborhood_pairs(df, [F.col("n_chars")], window=0)


def test_decode_tga_roundtrip_and_variants():
    import numpy as np

    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, (7, 5, 3), np.uint8)
    for top_down in (True, False):
        buf = multimodal.encode_tga(px, top_down=top_down)
        np.testing.assert_array_equal(multimodal.decode_tga(buf), px)
        np.testing.assert_array_equal(multimodal.decode_any(buf), px)
    # 32-bit BGRA with an id field, bottom-up — hand-built
    bgra = np.dstack([px[:, :, ::-1], np.full((7, 5), 9, np.uint8)])
    head = bytes([3, 0, 2]) + b"\x00" * 9 + \
        (5).to_bytes(2, "little") + (7).to_bytes(2, "little") + bytes([32, 0])
    buf32 = head + b"idf" + bgra[::-1].tobytes()
    np.testing.assert_array_equal(multimodal.decode_tga(buf32), px)


def test_gif87a_lzw_roundtrip():
    """The LZW pair is a REAL codec: gradients force dictionary growth
    past the 9->12-bit widths, and a big image forces a 4096-entry
    CLEAR reset; decode must reproduce every pixel."""
    import numpy as np

    rng = np.random.default_rng(4)
    grad = np.tile(np.arange(64, dtype=np.uint8) * 4, (48, 2))
    noise = rng.integers(0, 256, (48, 128), np.uint8)
    for gray in (grad, noise, np.zeros((200, 300), np.uint8),
                 rng.integers(0, 256, (200, 300), np.uint8)):
        img = np.dstack([gray, gray, gray])
        buf = multimodal.encode_gif87a(img)
        got = multimodal.decode_gif87a(buf)
        np.testing.assert_array_equal(got, img)
        np.testing.assert_array_equal(multimodal.decode_any(buf), img)
    with pytest.raises(ValueError):
        multimodal._gif_lzw_decode(b"\xff\xff\xff\xff", 8, 10)


def test_tga_gif_flow_through_image_pipeline(spark):
    """The new formats ride the SAME Spark plumbing as PPM/BMP:
    decode_image_meta_real and dhash over mixed-format payloads."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (8, 12, 3), np.uint8)
    gray = np.dstack([px.mean(axis=2).round().astype(np.uint8)] * 3)
    rows = [
        (0, bytearray(multimodal.encode_tga(px))),
        (1, bytearray(multimodal.encode_gif87a(gray))),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "payload"]),
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in
           multimodal.decode_image_meta_real(df).collect()}
    assert out[0].image_meta.width == 12 and out[0].image_meta.height == 8
    assert out[1].image_meta.width == 12 and out[1].image_meta.height == 8
    assert out[0].image_meta.mean_intensity == pytest.approx(float(px.mean()))
    hashes = multimodal.dhash_images(df).collect()
    assert len(hashes) == 2 and all(r.dhash is not None for r in hashes)
