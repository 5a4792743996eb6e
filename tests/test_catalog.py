"""Snapshot catalog: atomic optimistic commits, time travel, pruning."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from pdal_spark import catalog
from pdal_spark.catalog import SnapshotTable
from test_parquet_read import jobs_run


def _pts(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("pid"),
        (F.col("id") % 100).cast("double").alias("x"),
        (F.col("id") % 37).cast("double").alias("y"),
    )


@pytest.fixture()
def table(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path / "t"), stats_cols=("x", "y"))


def test_append_versions_and_history(spark, table):
    v1 = table.append(_pts(spark, 0, 100))
    v2 = table.append(_pts(spark, 100, 250))
    assert (v1, v2) == (1, 2)
    assert table.read().count() == 250
    assert table.read(version=1).count() == 100  # time travel
    h = table.history().orderBy("version").collect()
    assert [r.operation for r in h] == ["append", "append"]
    assert h[1].parent == 1
    assert h[1].total_rows == 250


def test_overwrite_and_rollback(spark, table):
    table.append(_pts(spark, 0, 100))
    table.overwrite(_pts(spark, 500, 520))
    assert table.read().count() == 20
    v3 = table.rollback(1)
    assert v3 == 3
    assert table.read().count() == 100
    # rollback never rewrites history
    assert table.read(version=2).count() == 20


def test_commit_conflict_retries(spark, table):
    """A competing writer's manifest forces the optimistic retry loop
    (exclusive create on v<N+1>.json, like Iceberg)."""
    table.append(_pts(spark, 0, 50))
    # simulate a concurrent committer that won v2
    rogue = dict(table.snapshot(1))
    rogue.update({"version": 2, "parent": 1, "operation": "append"})
    with open(os.path.join(table.meta_dir, "v2.json"), "x") as f:
        json.dump(rogue, f)
    v = table.append(_pts(spark, 50, 80))
    assert v == 3  # retried past the rogue v2
    assert table.read().count() == 80  # rogue's files (same list) + new


def test_bbox_file_pruning(spark, table):
    """Manifest min/max stats prune whole files before Spark plans."""
    # three spatially-disjoint appends -> three file groups
    for lo in (0, 1000, 2000):
        df = spark.range(lo, lo + 100).select(
            F.col("id").alias("pid"),
            (F.lit(lo / 10.0) + (F.col("id") % 10) * 0.1).alias("x"),
            F.lit(0.0).alias("y"),
        ).coalesce(1)
        table.append(df)
    n, total = table.pruned_count(bbox=(99.0, -1.0, 101.0, 1.0))
    assert total == 3
    assert n == 1  # only the middle file group overlaps x in [99, 101]
    got = table.read(bbox=(99.0, -1.0, 101.0, 1.0))
    # pruning is a superset of the exact filter
    assert got.filter("x >= 99 and x <= 101").count() == \
        table.read().filter("x >= 99 and x <= 101").count()


def test_expire_removes_unreachable_files(spark, table):
    table.append(_pts(spark, 0, 100))
    table.overwrite(_pts(spark, 0, 10))
    removed = table.expire(keep_from_version=2)
    assert removed >= 1
    assert table.read().count() == 10  # current snapshot intact
    with pytest.raises(Exception):
        table.read(version=1).count()  # expired version fails loudly


def test_stats_from_footers_only(spark, table):
    """Stats land in the manifest with correct bounds."""
    table.append(_pts(spark, 0, 100))
    s = table.snapshot()
    st = s["files"][0]["stats"]
    assert st["x"][0] >= 0.0 and st["x"][1] <= 99.0
    assert s["stats_cols"] == ["x", "y"]


def test_tile_job_catalog_snapshots(spark, tmp_path, capsys, monkeypatch):
    """--catalog: one labeled snapshot per stripe, idempotent on rerun."""
    import json
    import sys

    monkeypatch.syspath_prepend(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    import submit_tile_job

    monkeypatch.setattr(spark, "stop", lambda: None)  # keep fixture alive

    cat = str(tmp_path / "cat")
    argv = [
        "--synth-pages", "3000", "--output", str(tmp_path / "tiles"),
        "--stripes", "3", "--catalog", cat,
    ]
    submit_tile_job.main(argv)
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(out1["catalog_snapshots"]) == 3

    t = SnapshotTable(spark, cat, stats_cols=("x", "y"))
    assert t.current_version() == 3
    assert t.read().count() == out1["total_rows"]
    # time travel: version 1 holds only the first stripe
    assert t.read(version=1).count() < t.read().count()

    # rerun: every stripe ledger-skipped AND snapshot-skipped
    submit_tile_job.main(argv)
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["catalog_snapshots"] == []
    assert t.current_version() == 3


def test_incremental_read_appended_files_only(spark, table):
    table.append(_pts(spark, 0, 100))
    table.append(_pts(spark, 100, 250))
    table.append(_pts(spark, 250, 400))
    # resume "processed through v1": exactly the rows of v2+v3 appends
    inc = table.incremental_read(from_version=1)
    got = sorted(r.pid for r in inc.select("pid").collect())
    assert got == list(range(100, 400))
    # bounded upper end (v1 -> v2 only)
    inc12 = table.incremental_read(from_version=1, to_version=2)
    assert sorted(r.pid for r in inc12.select("pid").collect()) == list(range(100, 250))
    # the diff scan plans ONLY the new files — v1's files never appear
    v1_files = {os.path.basename(f["path"]) for f in table.snapshot(1)["files"]}
    planned = {os.path.basename(p) for p in inc.inputFiles()}
    assert not (v1_files & planned)
    # no-op diff preserves schema, zero rows
    assert table.incremental_read(from_version=3).count() == 0


def test_incremental_counts_merge_to_full_recompute(spark, table):
    # the 100 TB consumer pattern: per-tile counts maintained by merging
    # each append-diff equals a from-scratch recompute of the head
    table.append(_pts(spark, 0, 200))
    base = table.read().groupBy("x").count()
    table.append(_pts(spark, 200, 350))
    delta = table.incremental_read(from_version=1).groupBy("x").count()
    merged = (
        base.unionByName(delta)
        .groupBy("x").agg(F.sum("count").alias("count"))
    )
    full = table.read().groupBy("x").agg(F.count("*").alias("count"))
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_incremental_read_with_bbox_prune(spark, table):
    table.append(_pts(spark, 0, 100))
    # second append split so footer stats separate the two x-ranges
    lo = _pts(spark, 100, 160).filter(F.col("x") < 60).repartition(1)
    hi = _pts(spark, 100, 200).filter(F.col("x") >= 60).repartition(1)
    table.append(lo)
    table.append(hi)
    inc = table.incremental_read(from_version=1, bbox=(0, 0, 59, 100))
    planned = {os.path.basename(p) for p in inc.inputFiles()}
    hi_files = {os.path.basename(f["path"]) for f in table.snapshot(3)["files"]} - {
        os.path.basename(f["path"]) for f in table.snapshot(2)["files"]
    }
    assert not (planned & hi_files)  # out-of-bbox new file pruned
    assert inc.count() == lo.count()


def _kv(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.concat(F.lit(tag), F.col("id")).alias("v")
    )


@pytest.fixture()
def ktable(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "kt"), stats_cols=("k",))
    # three files with disjoint key ranges (coalesce(1) -> 1 file each)
    t.append(_kv(spark, 0, 100).coalesce(1))
    t.append(_kv(spark, 100, 200).coalesce(1))
    t.append(_kv(spark, 200, 300).coalesce(1))
    return t


def test_merge_update_rewrites_only_touched_files(spark, ktable):
    before = {f["path"] for f in ktable.snapshot()["files"]}
    res = ktable.merge(_kv(spark, 150, 160, tag="new"), key="k")
    # stats prune: keys 150-159 live in exactly the middle file
    assert res["files_candidate"] == 1
    assert res["files_rewritten"] == 1
    assert res["files_carried"] == 2
    after = {f["path"] for f in ktable.snapshot()["files"]}
    # the two untouched files are literally the same bytes on disk
    assert len(before & after) == 2
    out = ktable.read()
    assert out.count() == 300
    assert out.filter("k = 155").collect()[0].v == "new155"
    assert out.filter("k = 50").collect()[0].v == "a50"
    # time travel to the pre-merge snapshot still sees the old value
    assert ktable.read(version=3).filter("k = 155").collect()[0].v == "a155"


def test_merge_insert_only(spark, ktable):
    res = ktable.merge(_kv(spark, 400, 410, tag="ins"), key="k")
    # range-disjoint inserts touch no existing file at either level
    assert res["files_rewritten"] == 0
    assert res["files_carried"] == 3
    out = ktable.read()
    assert out.count() == 310
    assert out.filter("k = 405").collect()[0].v == "ins405"


def test_merge_delete(spark, ktable):
    res = ktable.merge(
        _kv(spark, 290, 300).select("k"), key="k", when_matched="delete"
    )
    assert res["files_rewritten"] == 1
    out = ktable.read()
    assert out.count() == 290
    assert out.filter("k >= 290").count() == 0


def test_merge_rejects_duplicate_source_keys(spark, ktable):
    dup = _kv(spark, 0, 5).unionByName(_kv(spark, 4, 5))
    with pytest.raises(ValueError):
        ktable.merge(dup, key="k")


def test_merge_null_keys_match_nothing(spark, tmp_path):
    """Null keys never match: null-key target rows survive update and
    delete merges, a null source key is inserted, and two null source
    keys are duplicates."""
    t = SnapshotTable(spark, str(tmp_path / "nt"), stats_cols=("k",))
    nulls = spark.createDataFrame([(None, "n1"), (None, "n2")],
                                  "k long, v string")
    t.append(_kv(spark, 0, 10).unionByName(nulls).coalesce(1))
    upd = spark.createDataFrame([(None, "ins"), (5, "new5")],
                                "k long, v string")
    assert t.merge(upd, key="k")["files_rewritten"] == 1
    dele = spark.createDataFrame([(3,), (4,)], "k long")
    res = t.merge(dele, key="k", when_matched="delete")
    assert res["files_rewritten"] == 1
    got = sorted((r.k is None, r.k, r.v) for r in t.read().collect())
    want = sorted([(False, k, f"a{k}") for k in (0, 1, 2, 6, 7, 8, 9)]
                  + [(False, 5, "new5"), (True, None, "ins"),
                     (True, None, "n1"), (True, None, "n2")])
    assert got == want
    two = spark.createDataFrame([(None, "a"), (None, "b")], "k long, v string")
    with pytest.raises(ValueError, match="not unique"):
        t.merge(two, key="k")


def test_merge_string_keys_with_quotes_and_backslashes(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "st"), stats_cols=("k",))
    keys = ["plain", "it's", "back\\slash", "both\\'", "'", "\\"]
    t.append(spark.createDataFrame([(k, "old") for k in keys],
                                   "k string, v string").coalesce(1))
    upd = spark.createDataFrame(
        [("it's", "new"), ("\\", "new"), ("fresh'\\", "new")],
        "k string, v string")
    assert t.merge(upd, key="k")["files_rewritten"] == 1
    # a key-only source deletes
    t.merge(spark.createDataFrame([("both\\'",), ("'",)], "k string"),
            key="k", when_matched="delete")
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {"plain": "old", "it's": "new", "back\\slash": "old",
                   "\\": "new", "fresh'\\": "new"}


def _staged_plans(monkeypatch):
    """Executed plans of the DataFrames ``_stage`` writes."""
    plans = []
    stage = SnapshotTable._stage

    def spy(self, df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return stage(self, df)

    monkeypatch.setattr(SnapshotTable, "_stage", spy)
    return plans


def test_merge_over_key_cap_joins_in_spark(spark, tmp_path, monkeypatch):
    """A source of more than MERGE_KEY_CAP keys keeps them in Spark
    (anti-join rewrite) and keeps the file plan: stats-pruned
    candidates, only the files that hold a key rewritten."""
    from pdal_spark.catalog import MERGE_KEY_CAP

    t = SnapshotTable(spark, str(tmp_path / "big"), stats_cols=("k",))
    # three files holding keys [0, 10k), [10k, 20k) and [30k, 40k)
    ids = spark.range(0, 30_000, 1, 3).select(
        F.when(F.col("id") >= 20_000, F.col("id") + 10_000)
        .otherwise(F.col("id")).alias("id"))
    t.append(ids.select(F.col("id").alias("k"),
                        F.concat(F.lit("a"), F.col("id")).alias("v")))
    plans = _staged_plans(monkeypatch)
    src = _kv(spark, 5_000, 25_001, tag="new")
    assert 25_001 - 5_000 > MERGE_KEY_CAP
    res = t.merge(src, key="k")
    assert (res["files_candidate"], res["files_rewritten"],
            res["files_carried"]) == (2, 2, 1)
    assert "LeftAnti" in plans[0]
    want = _kv(spark, 0, 5_000).unionByName(src).unionByName(
        _kv(spark, 30_000, 40_000))
    got = t.read()
    assert got.count() == 35_001
    assert got.exceptAll(want).count() == 0


def test_merge_small_source_job_budget(spark, tmp_path, monkeypatch):
    """A 100-key CDC merge plans from one collect of its keys: at most
    four Spark jobs, a shuffle-free rewrite, and exactly the files that
    hold a key rewritten."""
    t = SnapshotTable(spark, str(tmp_path / "jb"), stats_cols=("k",))
    # eight files of 100 consecutive keys each
    t.append(spark.range(0, 800, 1, 8).select(
        F.col("id").alias("k"), F.concat(F.lit("a"), F.col("id")).alias("v")))
    files = t.snapshot()["files"]
    assert len(files) == 8
    keys = list(range(100, 190, 2)) + list(range(500, 590, 2))
    keys += list(range(10_000, 10_010))
    src = spark.createDataFrame([(k, f"new{k}") for k in keys],
                                "k long, v string")
    plans = _staged_plans(monkeypatch)
    sc = spark.sparkContext
    sc.setJobGroup("merge-budget", "merge-budget")
    try:
        res = t.merge(src, key="k")
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("merge-budget")
    assert len(jobs) <= 4, len(jobs)
    assert "Exchange" not in plans[0]
    holds = {f["path"] for f in files
             if any(f["stats"]["k"][0] <= k <= f["stats"]["k"][1]
                    for k in keys)}
    assert res["files_rewritten"] == len(holds) == 2
    after = {f["path"] for f in t.snapshot()["files"]}
    assert not holds & after and len(after & {f["path"] for f in files}) == 6
    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == 810
    assert all(got[k] == f"new{k}" for k in keys)
    assert got[101] == "a101"


def test_bbox_read_over_many_files_runs_no_job(spark, tmp_path):
    """A bbox read over more files than Spark's parallel-listing
    threshold plans with no Spark job (one footer's schema, paths handed
    over in chunks) and returns the rows of the inferred read."""
    limit = int(spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold"))
    t = SnapshotTable(spark, str(tmp_path / "many"), stats_cols=("x", "y"))
    t.append(_pts(spark, 0, 2_000).repartition(limit + 8))
    files = [f["path"] for f in t.snapshot()["files"]]
    box = (10.0, 5.0, 60.0, 30.0)
    assert t.pruned_count(box)[0] > limit
    got, jobs = jobs_run(spark, lambda: t.read(bbox=box))
    assert jobs == 0
    want = spark.read.parquet(*files)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_zero_file_bbox_read_keeps_schema(spark, table):
    table.append(_pts(spark, 0, 100))
    box = (500.0, 500.0, 600.0, 600.0)
    assert table.pruned_count(box)[0] == 0
    got, jobs = jobs_run(spark, lambda: table.read(bbox=box))
    assert jobs == 0
    assert got.schema == table.read().schema
    assert got.count() == 0


@pytest.mark.parametrize("rewrite", ["merge", "compact", "optimize"])
def test_rewrite_conflict_detected(spark, ktable, rewrite):
    """A concurrent commit between planning and commit must fail a
    copy-on-write rewrite (merge, compact, optimize_catalog) under
    serializable validation, not silently drop the racer's files."""
    from pdal_spark.catalog import CommitConflict
    from pdal_spark.operators.layout import optimize_catalog

    class Racy(SnapshotTable):
        def _stage(self, df):
            files = super()._stage(df)
            # a second writer wins the race while our files stage
            other = SnapshotTable(spark, self.path, stats_cols=("k",))
            other.append(_kv(spark, 900, 910).coalesce(1))
            return files

    racy = Racy(spark, ktable.path, stats_cols=("k",))
    with pytest.raises(CommitConflict):
        if rewrite == "merge":
            racy.merge(_kv(spark, 150, 160, tag="new"), key="k")
        elif rewrite == "compact":
            racy.compact(small_threshold_rows=1000)
        else:
            optimize_catalog(racy, (0.0, 0.0, 1000.0, 1000.0), x="k", y="k")
    # the racer's append is intact
    t2 = SnapshotTable(spark, ktable.path)
    assert t2.read().count() == 310
    # and the failed rewrite's staged files were removed, not leaked as
    # permanent orphans (expire() never collects uncommitted files)
    import os

    live = {os.path.basename(f["path"]) for f in t2.snapshot()["files"]}
    on_disk = {
        n for n in os.listdir(os.path.join(ktable.path, "data"))
        if n.endswith(".parquet")
    }
    assert on_disk == live


def test_compact_packs_small_files_only(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ct"))
    t.append(_kv(spark, 0, 10000).coalesce(1))          # large
    for i in range(4):                                   # 4 small stripes
        t.append(_kv(spark, 10000 + i * 50, 10000 + (i + 1) * 50).coalesce(1))
    before = {f["path"] for f in t.snapshot()["files"]}
    res = t.compact(small_threshold_rows=1000)
    assert res["files_compacted"] == 4
    assert res["files_carried"] == 1
    after = t.snapshot()["files"]
    # the large file carried byte-identical; total rows preserved
    assert len(before & {f["path"] for f in after}) == 1
    assert t.read().count() == 10200
    assert sum(int(f["rows"]) for f in after) == 10200
    # fewer files than before
    assert len(after) < 5
    # no-op when nothing (or one file) is small
    res2 = t.compact(small_threshold_rows=10)
    assert res2["files_compacted"] == 0


def test_changes_cdf_insert_delete_and_update_pair(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "cdf"), stats_cols=("k",))
    t.append(_kv(spark, 0, 100).coalesce(1))
    t.append(_kv(spark, 100, 200).coalesce(1))
    v_base = t.current_version()
    # append-only diff: pure inserts
    t.append(_kv(spark, 200, 250).coalesce(1))
    ch = t.changes(v_base)
    assert ch.filter("_change_type = 'insert'").count() == 50
    assert ch.filter("_change_type = 'delete'").count() == 0
    # merge update: delete+insert pair for each touched key, and the
    # carried rows of the rewritten file cancel out
    v_mid = t.current_version()
    t.merge(_kv(spark, 150, 155, tag="new"), key="k")
    ch2 = t.changes(v_mid)
    ins = {(r.k, r.v) for r in ch2.filter("_change_type = 'insert'").collect()}
    dels = {(r.k, r.v) for r in ch2.filter("_change_type = 'delete'").collect()}
    assert ins == {(k, f"new{k}") for k in range(150, 155)}
    assert dels == {(k, f"a{k}") for k in range(150, 155)}
    # full-span diff composes both changes
    ch3 = t.changes(v_base)
    assert ch3.filter("_change_type = 'insert'").count() == 55
    assert ch3.filter("_change_type = 'delete'").count() == 5
    # compaction is invisible to CDF (same rows, repacked)
    v_pre = t.current_version()
    t.append(_kv(spark, 300, 310).coalesce(1))
    t.append(_kv(spark, 310, 320).coalesce(1))
    v_small = t.current_version()
    t.compact(small_threshold_rows=1000)
    ch4 = t.changes(v_small)
    assert ch4.count() == 0


def test_streaming_cdc_apply_resumable(spark, tmp_path):
    """File-stream of upsert batches folded into the table via
    foreachBatch + merge: latest-ts-wins within a batch, sequential
    availableNow runs resume from the checkpoint without re-applying,
    and the final table equals the batch upsert result."""
    import os

    from pdal_spark.streaming.jobs import stream_merge_upserts

    src = str(tmp_path / "cdc_src")
    os.makedirs(src)
    ckpt = str(tmp_path / "cdc_ckpt")
    t = SnapshotTable(spark, str(tmp_path / "cdc_t"), stats_cols=("k",))
    t.append(
        _kv(spark, 0, 100).withColumn("ts", F.lit(0).cast("long")).coalesce(1)
    )

    def emit(name, rows):
        spark.createDataFrame(
            rows, "k long, v string, ts long"
        ).coalesce(1).write.mode("append").parquet(src)

    # batch 1: update k=5 twice (ts 2 wins) + insert k=200
    emit("b1", [(5, "old", 1), (5, "newer", 2), (200, "ins", 1)])
    stream = spark.readStream.schema("k long, v string, ts long").parquet(src)
    stream_merge_upserts(stream, t, key="k", ts_col="ts", checkpoint=ckpt)
    out1 = {r.k: r.v for r in t.read().select("k", "v").collect()}
    assert out1[5] == "newer"
    assert out1[200] == "ins"
    assert len(out1) == 101
    v_after_b1 = t.current_version()

    # batch 2 lands later; the resumed stream applies ONLY the new file
    emit("b2", [(5, "newest", 3), (7, "seven", 1)])
    stream2 = spark.readStream.schema("k long, v string, ts long").parquet(src)
    stream_merge_upserts(stream2, t, key="k", ts_col="ts", checkpoint=ckpt)
    out2 = {r.k: r.v for r in t.read().select("k", "v").collect()}
    assert out2[5] == "newest" and out2[7] == "seven"
    assert len(out2) == 101
    # exactly one more merge snapshot (no re-apply of batch 1)
    ops = [
        t.snapshot(v)["operation"]
        for v in range(v_after_b1 + 1, t.current_version() + 1)
    ]
    assert ops == ["merge"]


def _bloom_by_formula(values) -> str:
    """The bloom bits by their defining formula, one md5 per probe."""
    import hashlib

    bits = bytearray(catalog.BLOOM_BITS // 8)
    for v in values:
        for i in range(catalog.BLOOM_K):
            d = hashlib.md5(f"{i}:{v}".encode()).digest()
            p = int.from_bytes(d[:8], "big") % catalog.BLOOM_BITS
            bits[p >> 3] |= 1 << (p & 7)
    return bytes(bits).hex()


@pytest.mark.parametrize("values", [
    ["", "a", "é", "日本語", "it's", 'say "hi"', "a,b", "x" * 300, None]
    + [f"https://example.org/{k}" for k in range(2000)],
    [0, -1, 1, 2**31, -(2**63), 2**63 - 1, None] + list(range(0, 40000, 7)),
], ids=["str", "int"])
def test_bloom_bits_equal_formula(tmp_path, values):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"k": values}), path)
    want = _bloom_by_formula(v for v in values if v is not None)
    assert catalog._build_bloom(path, "k") == want
    f = {"bloom": {"k": want}}
    assert all(SnapshotTable._bloom_may_contain(f, "k", [v]) for v in values if v is not None)


def test_bloom_point_lookup_prune(spark, tmp_path):
    """Interleaved keys defeat min/max range stats (every file covers
    every key); the per-file bloom prunes point lookups anyway, with
    no false negatives."""
    t = SnapshotTable(spark, str(tmp_path / "bt"), stats_cols=("k",),
                      bloom_cols=("k",))
    evens = spark.range(0, 100).select(
        (F.col("id") * 2).alias("k"), F.lit("even").alias("v"))
    odds = spark.range(0, 100).select(
        (F.col("id") * 2 + 1).alias("k"), F.lit("odd").alias("v"))
    t.append(evens.coalesce(1))
    t.append(odds.coalesce(1))
    files = t.snapshot()["files"]
    assert all("bloom" in f and "k" in f["bloom"] for f in files)
    # range stats are useless here: both files span [0..199ish]
    even_f = [f for f in files if f["stats"]["k"][0] == 0][0]
    odd_f = [f for f in files if f["stats"]["k"][0] == 1][0]
    # no false negatives, and the sibling file prunes
    assert t._bloom_may_contain(even_f, "k", [100])
    assert not t._bloom_may_contain(odd_f, "k", [100])
    assert t._bloom_may_contain(odd_f, "k", [101])
    # merge of even keys rewrites ONLY the even file (bloom, not range)
    upd = spark.createDataFrame([(100, "updated")], "k long, v string")
    res = t.merge(upd, key="k")
    assert res["files_candidate"] == 1
    assert res["files_rewritten"] == 1
    out = {r.k: r.v for r in t.read().collect()}
    assert out[100] == "updated" and out[101] == "odd" and len(out) == 200
    # merged-in files are bloom-indexed too (the index self-maintains)
    assert all("bloom" in f for f in t.snapshot()["files"])


def test_write_audit_publish(spark, tmp_path):
    """WAP: a failing constraint suite keeps the drop invisible (no
    snapshot, staged files removed); a passing one publishes."""
    t = SnapshotTable(spark, str(tmp_path / "wap"), stats_cols=("k",))
    t.append(_kv(spark, 0, 100).coalesce(1))
    good = [
        {"name": "k_nn", "kind": "not_null", "col": "k"},
        {"name": "k_uq", "kind": "unique", "col": "k"},
    ]
    bad = good + [
        {"name": "k_low", "kind": "max_le", "col": "k", "bound": 150},
    ]
    # audit failure: k goes to 299
    v, verdicts = t.audited_append(_kv(spark, 200, 300).coalesce(1), bad)
    assert v is None
    assert {r.name for r in verdicts if r.passed == 0} == {"k_low"}
    assert t.current_version() == 1
    assert t.read().count() == 100
    # no orphaned staged parquet left behind
    manifest_files = {
        os.path.basename(f["path"]) for f in t.snapshot()["files"]
    }
    on_disk = {
        n for n in os.listdir(t.data_dir) if n.endswith(".parquet")
    }
    assert on_disk == manifest_files
    # audit pass publishes
    v2, verdicts2 = t.audited_append(_kv(spark, 200, 300).coalesce(1), good)
    assert v2 == 2 and all(r.passed == 1 for r in verdicts2)
    assert t.read().count() == 200
    assert t.snapshot(2)["operation"] == "audited-append"


def test_read_as_of_timestamp(spark, table):
    table.append(_pts(spark, 0, 100))
    ts1 = float(table.snapshot(1)["ts"])
    table.append(_pts(spark, 100, 250))
    ts2 = float(table.snapshot(2)["ts"])
    assert table.version_as_of(ts1) == 1
    assert table.version_as_of((ts1 + ts2) / 2) in (1, 2)  # ts equality
    assert table.read(as_of_ts=ts1).count() == 100
    assert table.read(as_of_ts=ts2 + 1.0).count() == 250
    with pytest.raises(ValueError):
        table.read(as_of_ts=ts1 - 10.0)
    with pytest.raises(ValueError):
        table.read(version=1, as_of_ts=ts1)


def test_fsck_detects_missing_orphans_and_mismatch(spark, tmp_path):
    import shutil

    t = SnapshotTable(spark, str(tmp_path / "fsck"), stats_cols=("k",))
    t.append(_kv(spark, 0, 100).coalesce(1))
    t.append(_kv(spark, 100, 200).coalesce(1))
    assert t.fsck(check_rows=True)["ok"]
    files = [f["path"] for f in t.snapshot()["files"]]
    # orphan: a parquet dropped into data/ outside any commit
    orphan = os.path.join(t.data_dir, "deadbeef-orphan.parquet")
    shutil.copy(files[0], orphan)
    # mismatch: manifest edited to claim the wrong row count
    v = t.current_version()
    mpath = os.path.join(t.meta_dir, f"v{v}.json")
    man = json.load(open(mpath))
    man["files"][0]["rows"] = 999_999
    json.dump(man, open(mpath, "w"))
    rep = t.fsck(check_rows=True)
    assert not rep["ok"]
    assert rep["orphans"] == [orphan]
    assert len(rep["row_mismatches"]) == 1
    assert rep["row_mismatches"][0]["manifest_rows"] == 999_999
    # missing: a referenced data file deleted out-of-band
    os.remove(files[1])
    rep2 = t.fsck()
    assert rep2["missing"] == [files[1]]
    assert not rep2["ok"]
