"""catalog_mix: writes beside reads on a catalog.SnapshotTable of pages.

The seed fixes an op schedule with three op types: append (a new crawl
batch through synth, geocode, stage and commit), merge (a ~100-key CDC
upsert on page_id) and bbox_query (read(bbox=...) + box crop + count).
The table grows during the run; the schedule is the same on every
commit measured.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time

from pyspark.sql import functions as F

from common import (OpSpec, TraceCtx, Workload, counter_medians, ingest_prefixes,
                    timed_ingest, traced_medians)
from harness import OpRecord, median, plan_string

N_INITIAL = 50_000
BATCH = 10_000
MERGE_KEYS = 100
MERGE_NEW = 10  # of the merge keys, how many are inserts
MERGE_WINDOW = 2_000  # keys of one merge fall in a window of recent ids
NEW_ID_BASE = 1_000_000_000
# one schedule pass; its order is shuffled per cycle from the seed. A merge
# costs about five appends, so a cycle holds two appends and four reads
# per merge to give every kind several samples in one run.
CYCLE = ("append", "append", "merge") + ("bbox_query",) * 4


class CatalogMix(Workload):
    name = "catalog_mix"
    kinds = ("bbox_query", "append", "merge")
    op1, op2 = "bbox_query", "append"
    #: rows_per_s counts committed pages per second of commit ops
    rate_mix = {k: CYCLE.count(k) for k in ("append", "merge")}

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)
        self.path = os.path.join(work, "table")
        self.rng = random.Random(seed)

    # -- set-up -------------------------------------------------------------

    def _table(self):
        from pdal_spark import catalog

        return catalog.SnapshotTable(self.spark, self.path,
                                     stats_cols=("x", "y", "page_id"),
                                     bloom_cols=("url",))

    def _batch(self, first_id: int, n: int, day: int):
        """A crawl batch: n pages, ids from first_id, crawled `day` days
        after the initial crawl (so url recrawls geocode afresh)."""
        from pdal_spark import synth

        raw = synth.synth_pages(self.spark, n).withColumn(
            "page_id", F.col("page_id") + F.lit(first_id)).withColumn(
            "warc_ts", F.col("warc_ts") + F.make_interval(days=F.lit(day)))
        return raw, synth.with_coords(raw)

    def ingest(self, trace: bool) -> dict:
        shutil.rmtree(self.path, ignore_errors=True)
        self.table = self._table()
        raw, coded = self._batch(0, N_INITIAL, 0)
        out = timed_ingest(raw, coded, lambda df: self.table.append(df, operation="initial"),
                           trace)
        # logical state the checks compare against
        self.next_id = N_INITIAL
        self.next_new = NEW_ID_BASE
        self.day = 0
        self.expected_rows = N_INITIAL
        self.marks: dict[int, str] = {}
        self.schema = self.table.read().schema
        return out

    def warm(self) -> None:
        """Warm on a throwaway table so the measured table starts at the
        same state on every run."""
        from pdal_spark import catalog

        wpath = os.path.join(self.work, "warm_table")
        wt = catalog.SnapshotTable(self.spark, wpath, stats_cols=("x", "y", "page_id"),
                                   bloom_cols=("url",))
        wt.append(self._batch(0, BATCH, 400)[1])
        wt.merge(self._cdc_rows([5, 7, NEW_ID_BASE - 1], "warm"), key="page_id")
        self._bbox(wt, (0.0, 0.0, 30.0, 20.0))
        shutil.rmtree(wpath, ignore_errors=True)

    def _cdc_rows(self, ids: list[int], mark: str):
        from pdal_spark import geo

        ts = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
        rows = []
        for i in ids:
            url = f"https://cdc.example/p/{i}"
            x, y = geo.geocode_sha2_py(url, ts.strftime("%Y-%m-%dT%H:%M:%SZ"))
            text = f"cdc {i} {mark}"
            rows.append((i, url, ts, f"<html>{text}</html>".encode(), text, mark, x, y))
        return self.spark.createDataFrame(rows, self.schema)

    @staticmethod
    def _bbox(table, box):
        from pdal_spark.operators import crop

        df = table.read(bbox=box)
        out = crop.crop(df, [crop.Box(*box)], mode="stream")
        return out, out.count()

    def schedule(self):
        cycle = 0
        while True:
            kinds = list(CYCLE)
            self.rng.shuffle(kinds)
            for kind in kinds:
                if kind == "bbox_query":
                    x0, y0 = self.rng.uniform(-180, 150), self.rng.uniform(-90, 70)
                    args = {"box": (x0, y0, x0 + 30.0, y0 + 20.0)}
                elif kind == "merge":
                    args = {"offset": self.rng.random(), "mark": f"m{cycle}",
                            "picks": self.rng.random()}
                else:
                    args = {}
                yield OpSpec(kind, args)
            cycle += 1

    # -- ops ----------------------------------------------------------------

    def run_op(self, spec: OpSpec, op: int, ctx: TraceCtx | None) -> OpRecord:
        return getattr(self, f"_{spec.kind}")(spec, op, ctx)

    def _append(self, spec, op, ctx):
        first = self.next_id
        self.next_id += BATCH
        self.day += 1
        raw, coded = self._batch(first, BATCH, self.day)
        tr: dict = {}
        if ctx is None:
            t0 = time.perf_counter()
            version = self.table.append(coded)
            seconds = time.perf_counter() - t0
        else:
            sp = ctx.tracer.span
            with sp("op", op) as whole:
                with sp("ingest", op, "op"):
                    ing = ingest_prefixes(raw, coded)
                g = ctx.counters.begin(op)
                with sp("catalog.append", op, "op") as s3:
                    version = self.table.append(coded)
                ctx.counters.end()
            seconds = whole.seconds
            counters = ctx.counters.collect(g)
            # Spark time is the wall time of the append's jobs (the data
            # file write); the rest is driver work: footer stats, bloom
            # filters, manifest commit
            spark_s = min(counters["jobs.wall_s"], s3.seconds)
            tr.update({"ingest.synth_s": ing["synth_s"],
                       "ingest.geocode_s": ing["geocode_s"],
                       "ingest.write_s": max(s3.seconds - ing["synth_s"] - ing["geocode_s"], 0.0),
                       "catalog.append.spark_s": spark_s,
                       "catalog.append.driver_s": s3.seconds - spark_s,
                       "counters": counters})
        self.expected_rows += BATCH
        rec = OpRecord(op, spec.kind, seconds, BATCH)
        rec.trace = tr
        rec.result = {"version": version, "expected_rows": self.expected_rows}
        if ctx is not None:
            tr["amplification"] = self._amplification(version, BATCH)
        return rec

    def _merge(self, spec, op, ctx):
        n_old = MERGE_KEYS - MERGE_NEW
        hi = self.next_id
        lo = int(spec.args["offset"] * (hi - MERGE_WINDOW))
        prng = random.Random(spec.args["picks"])
        old = prng.sample(range(lo, min(lo + MERGE_WINDOW, hi)), n_old)
        new = list(range(self.next_new, self.next_new + MERGE_NEW))
        self.next_new += MERGE_NEW
        source = self._cdc_rows(old + new, spec.args["mark"])
        tr: dict = {}
        if ctx is None:
            t0 = time.perf_counter()
            info = self.table.merge(source, key="page_id")
            seconds = time.perf_counter() - t0
        else:
            g = ctx.counters.begin(op)
            with ctx.tracer.span("op", op) as whole:
                with ctx.tracer.span("catalog.merge", op, "op"):
                    info = self.table.merge(source, key="page_id")
            ctx.counters.end()
            seconds = whole.seconds
            tr["counters"] = ctx.counters.collect(g)
        self.expected_rows += MERGE_NEW
        for i in old + new:
            self.marks[i] = spec.args["mark"]
        rec = OpRecord(op, spec.kind, seconds, MERGE_KEYS,
                       plan={"files_candidate": info["files_candidate"],
                             "files_rewritten": info["files_rewritten"],
                             "files_total": info["files_total"]})
        rec.trace = tr
        rec.result = {"version": info["version"], "expected_rows": self.expected_rows}
        if ctx is not None:
            tr["amplification"] = self._amplification(info["version"], MERGE_KEYS)
        return rec

    def _bbox_query(self, spec, op, ctx):
        from pdal_spark.operators import crop

        box = spec.args["box"]
        version = self.table.current_version()
        tr: dict = {}
        if ctx is None:
            t0 = time.perf_counter()
            out, n = self._bbox(self.table, box)
            seconds = time.perf_counter() - t0
        else:
            sp = ctx.tracer.span
            with sp("op", op) as whole:
                with sp("catalog.read", op, "op") as s0:
                    df = self.table.read(bbox=box)
                with sp("scan", op, "op") as s1:
                    rows_in = df.agg(F.count("x"), F.count("y")).collect()[0][0]
                g = ctx.counters.begin(op)
                with sp("scan+crop", op, "op") as s2:
                    out = crop.crop(df, [crop.Box(*box)], mode="stream")
                    n = out.count()
                ctx.counters.end()
            seconds = whole.seconds
            read_files, total = self.table.pruned_count(box, version=version)
            tr.update({"catalog.read_s": s0.seconds, "scan.s": s1.seconds,
                       "crop.s": max(s2.seconds - s1.seconds, 0.0),
                       "crop.rows_in": rows_in, "crop.rows_out": n,
                       "files_scanned_frac": read_files / total if total else 1.0,
                       "counters": ctx.counters.collect(g)})
        plan = plan_string(out)
        rec = OpRecord(op, spec.kind, seconds, 0, plan={
            "crop": "arrow" if "MapInPandas" in plan else "codegen"})
        rec.trace = tr
        rec.args = spec.args
        rec.result = {"version": version, "count": n}
        return rec

    def _amplification(self, version: int, source_rows: int) -> float:
        """Bytes the op wrote to data files per uncompressed byte of its
        source rows (footers give the uncompressed size of what was written;
        the source's share of it is source_rows / rows written)."""
        import pyarrow.parquet as pq

        prev = {f["path"] for f in self.table.snapshot(version - 1)["files"]}
        added = [f for f in self.table.snapshot(version)["files"] if f["path"] not in prev]
        written = sum(os.path.getsize(f["path"]) for f in added)
        rows = sum(int(f["rows"]) for f in added)
        raw = 0
        for f in added:
            meta = pq.ParquetFile(f["path"]).metadata
            raw += sum(meta.row_group(i).total_byte_size for i in range(meta.num_row_groups))
        src_bytes = raw * source_rows / rows if rows else 0
        return written / src_bytes if src_bytes else 0.0

    # -- oracle -------------------------------------------------------------

    def verify(self, records: list[OpRecord]) -> dict:
        import duckdb

        con = duckdb.connect()
        try:
            for r in records:
                if r.error is not None:
                    continue
                snap = self.table.snapshot(r.result["version"])
                files = [f["path"] for f in snap["files"]]
                if r.kind == "bbox_query":
                    x0, y0, x1, y1 = r.args["box"]
                    n = con.execute(
                        "SELECT count(*) FROM read_parquet(?) "
                        "WHERE x BETWEEN ? AND ? AND y BETWEEN ? AND ?",
                        [files, x0, x1, y0, y1]).fetchone()[0]
                    r.ok = n == r.result["count"]
                else:
                    n = con.execute("SELECT count(*) FROM read_parquet(?)", [files]).fetchone()[0]
                    r.ok = n == r.result["expected_rows"] == snap["total_rows"]
            final = self._final_checks(con)
        finally:
            con.close()
        return {"checked_ops": sum(r.ok is not None for r in records), **final}

    def _final_checks(self, con) -> dict:
        """Whole-table state against the logical state tracked here."""
        from pdal_spark import geo

        files = [f["path"] for f in self.table.snapshot()["files"]]
        n, distinct = con.execute(
            "SELECT count(*), count(DISTINCT page_id) FROM read_parquet(?)", [files]).fetchone()
        marks_ok = True
        if self.marks:
            got = dict(con.execute(
                "SELECT page_id, lang FROM read_parquet(?) WHERE page_id IN "
                "(SELECT unnest(?))", [files, list(self.marks)]).fetchall())
            marks_ok = got == self.marks
        sample = con.execute(
            "SELECT url, strftime(warc_ts, '%Y-%m-%dT%H:%M:%SZ'), x, y "
            "FROM read_parquet(?) ORDER BY hash(page_id) LIMIT 32", [files]).fetchall()
        geo_ok = all(geo.geocode_sha2_py(u, ts) == (x, y) for u, ts, x, y in sample)
        fsck = self.table.fsck(check_rows=True)
        ok = (n == self.expected_rows and distinct == n and marks_ok and geo_ok
              and fsck["ok"] and not fsck["orphans"])
        return {"ok": ok, "rows": n, "expected_rows": self.expected_rows,
                "distinct_ids": distinct, "merge_marks_ok": marks_ok,
                "geocode_sample_ok": geo_ok, "fsck_ok": fsck["ok"],
                "orphans": len(fsck["orphans"])}

    # -- metrics ------------------------------------------------------------

    def layer_metrics(self, records: list[OpRecord]) -> dict:
        appends = [r for r in records if r.kind == "append"]
        merges = [r for r in records if r.kind == "merge"]
        bbox = [r for r in records if r.kind == "bbox_query"]
        m = {k: traced_medians(appends, None, k) for k in (
            "ingest.synth_s", "ingest.geocode_s", "ingest.write_s",
            "catalog.append.spark_s", "catalog.append.driver_s")}
        m.update({
            "catalog.bytes_written_per_input_byte": traced_medians(appends, None, "amplification"),
            "catalog.merge.bytes_written_per_input_byte": traced_medians(merges, None, "amplification"),
            "catalog.files_total": len(self.table.snapshot()["files"]),
            "catalog.read.files_scanned_frac": traced_medians(bbox, None, "files_scanned_frac"),
            "catalog.merge.files_candidate": median([r.plan["files_candidate"] for r in merges]) if merges else 0.0,
            "catalog.merge.files_rewritten": median([r.plan["files_rewritten"] for r in merges]) if merges else 0.0,
            "catalog.merge.jobs": counter_medians(merges)["spark.jobs"],
            "scan.s": traced_medians(bbox, None, "scan.s"),
            "crop.codegen_s": traced_medians(bbox, None, "crop.s"),
            "crop.rows_in": traced_medians(bbox, None, "crop.rows_in"),
            "crop.rows_out": traced_medians(bbox, None, "crop.rows_out"),
            "crop.path.codegen": sum(r.plan.get("crop") == "codegen" for r in bbox),
            "crop.path.arrow": sum(r.plan.get("crop") == "arrow" for r in bbox),
        })
        m.update(counter_medians(records))
        return m

