"""tile_scan: the paper's headline job over a stored pages table.

One op is a PDAL JSON pipeline doc, readers.parquet -> filters.crop
(polygon WKT) -> filters.splitter (30 degree tiles), plus a per-tile
count added by the harness. Ops alternate tile_query (a polygon at or
under the crop operator's codegen edge limit) and poly_query (a polygon
over it, so the crop runs the mapInPandas numpy kernel).
"""

from __future__ import annotations

import json
import math
import os
import random
import time

from pyspark.sql import functions as F

from common import OpSpec, TraceCtx, Workload, counter_medians, timed_ingest, traced_medians
import harness
from harness import OpRecord, plan_string

N_PAGES = 100_000
TILE = {"length": 30.0, "origin_x": -180.0, "origin_y": -90.0}
# tile_query stays well under the 512-edge codegen limit, poly_query is
# over it; both draw the same polygon size so crop selectivity matches.
# tile_query polygons are simple regions: the codegen path builds every
# edge through several py4j calls, so planning cost grows with edges
TILE_EDGES = (6, 10)
POLY_EDGES = (540, 600)


def polygon_wkt(rng: random.Random, edges: int) -> str:
    """Star-shaped simple polygon, ~35 deg across, squashed in latitude."""
    cx, cy = rng.uniform(-120.0, 120.0), rng.uniform(-45.0, 45.0)
    radius = rng.uniform(30.0, 36.0)
    pts = []
    for i in range(edges):
        a = 2 * math.pi * (i + rng.random() * 0.5) / edges
        r = radius * rng.uniform(0.7, 1.0)
        pts.append((cx + r * math.cos(a), cy + 0.5 * r * math.sin(a)))
    pts.append(pts[0])
    return "POLYGON((" + ", ".join(f"{x!r} {y!r}" for x, y in pts) + "))"


class TileScan(Workload):
    name = "tile_scan"
    kinds = ("tile_query", "poly_query")
    op1, op2 = "tile_query", "poly_query"
    rate_mix = {"tile_query": 1, "poly_query": 1}

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)
        self.path = os.path.join(work, "pages")
        self.rng = random.Random(seed)

    # -- set-up -------------------------------------------------------------

    def ingest(self, trace: bool) -> dict:
        from pdal_spark import synth

        raw = synth.synth_pages(self.spark, N_PAGES)
        return timed_ingest(
            raw, synth.with_coords(raw),
            lambda df: df.write.mode("overwrite").parquet(self.path), trace)

    def _doc(self, wkt: str) -> str:
        return json.dumps([
            {"type": "readers.parquet", "filename": self.path},
            {"type": "filters.crop", "polygon": wkt},
            dict(type="filters.splitter", **TILE),
        ])

    def warm(self) -> None:
        from pdal_spark import pipeline

        wrng = random.Random(self.seed ^ 0x5EED)
        for lo_hi in (TILE_EDGES, POLY_EDGES):
            wkt = polygon_wkt(wrng, wrng.randint(*lo_hi))
            pipeline.run(self.spark, self._doc(wkt)).groupBy(
                "tile_x", "tile_y").count().collect()

    def schedule(self):
        while True:
            for kind, lo_hi in (("tile_query", TILE_EDGES), ("poly_query", POLY_EDGES)):
                yield OpSpec(kind, {"wkt": polygon_wkt(self.rng, self.rng.randint(*lo_hi))})

    # -- ops ----------------------------------------------------------------

    def run_op(self, spec: OpSpec, op: int, ctx: TraceCtx | None) -> OpRecord:
        from pdal_spark import pipeline

        doc = self._doc(spec.args["wkt"])
        tr: dict = {}
        if ctx is None:
            t0 = time.perf_counter()
            df = pipeline.run(self.spark, doc)
            res = df.groupBy("tile_x", "tile_y").count()
            rows = res.collect()
            seconds = time.perf_counter() - t0
        else:
            seconds, res, rows = self._traced(doc, op, ctx, tr)
        plan = plan_string(res)
        rec = OpRecord(op, spec.kind, seconds, N_PAGES, plan={
            "crop": "arrow" if "MapInPandas" in plan else "codegen"})
        rec.trace = tr
        rec.result = {(r["tile_x"], r["tile_y"]): r["count"] for r in rows}
        rec.args = spec.args
        return rec

    def _traced(self, doc: str, op: int, ctx: TraceCtx, tr: dict):
        """Prefix materialisation: scan, scan+crop, scan+crop+split, full.
        Every prefix is planned before its span, so spans time execution."""
        from pdal_spark import pipeline

        stages = json.loads(doc)
        sp = ctx.tracer.span
        with sp("op", op) as whole:
            with sp("pipeline.plan", op, "op") as s:
                df = pipeline.run(self.spark, doc)
            tr["pipeline.plan_s"] = s.seconds
            res = df.groupBy("tile_x", "tile_y").count()
            scan = pipeline.run(self.spark, json.dumps(stages[:1]))
            scan = scan.agg(*[F.count(c) for c in _scan_columns(res)])
            crop = pipeline.run(self.spark, json.dumps(stages[:2])).agg(F.count("x"))
            split = df.agg(F.count("tile_x"), F.count("tile_y"))
            g = ctx.counters.begin(op)
            with sp("scan", op, "op") as s:
                scan.collect()
            ctx.counters.end()
            sc = ctx.counters.collect(g)
            t_scan = s.seconds
            with sp("scan+crop", op, "op") as s:
                crop_rows = crop.collect()[0][0]
            t_crop = s.seconds
            with sp("scan+crop+split", op, "op") as s:
                split_rows = split.collect()[0][0]
            t_split = s.seconds
            g = ctx.counters.begin(op)
            with sp("full", op, "op") as s:
                rows = res.collect()
            ctx.counters.end()
            t_full = s.seconds
        tr.update({
            "scan.s": t_scan, "scan.bytes": sc["input.bytes"], "scan.rows": sc["input.rows"],
            "crop.s": max(t_crop - t_scan, 0.0), "crop.rows_in": sc["input.rows"],
            "crop.rows_out": crop_rows,
            "splitter.s": max(t_split - t_crop, 0.0),
            "splitter.rows_out_per_in": split_rows / crop_rows if crop_rows else 1.0,
            # scan + crop + split self time over the op's own plan + run time
            "layer_share": t_split / (tr["pipeline.plan_s"] + t_full),
            "counters": ctx.counters.collect(g),
        })
        return whole.seconds, res, rows

    # -- oracle -------------------------------------------------------------

    def prepare_oracle(self) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {harness.nproc()}")
        self.con.execute(
            "CREATE TABLE pts AS SELECT x, y FROM read_parquet(?)",
            [os.path.join(self.path, "*.parquet")])

    def _expected(self, wkt: str) -> dict:
        """Per-tile counts in DuckDB: the splitter's SQL twin for the tile
        ids, and the crop's even-odd crossing formula evaluated over a
        DOUBLE edge table. (crop.polygon_pnp_sql prints coordinates as
        literals, which DuckDB types as DECIMAL; arbitrary doubles overflow
        that type, and a 600-edge sum exceeds its binder depth.)"""
        from pdal_spark.operators import crop, splitter

        tx, ty = splitter.split_sql(TILE["length"], TILE["origin_x"], TILE["origin_y"])
        poly = crop.parse_wkt_polygons(wkt)[0]
        b = poly.bbox()
        edges = []
        for ring in poly.rings():
            pts = list(ring[:-1] if ring[0] == ring[-1] else ring)
            edges += [(*pts[i], *pts[(i + 1) % len(pts)]) for i in range(len(pts))]
        self.con.execute("CREATE OR REPLACE TEMP TABLE edges "
                         "(x1 DOUBLE, y1 DOUBLE, x2 DOUBLE, y2 DOUBLE)")
        self.con.executemany("INSERT INTO edges VALUES (?, ?, ?, ?)", edges)
        q = (f"SELECT {tx}, {ty}, count(*) FROM ("
             " SELECT any_value(p.x) AS x, any_value(p.y) AS y"
             " FROM (SELECT rowid AS id, x, y FROM pts"
             "       WHERE x BETWEEN ? AND ? AND y BETWEEN ? AND ?) p, edges e"
             " WHERE ((e.y1 > p.y) <> (e.y2 > p.y))"
             " AND (p.x < (e.x2 - e.x1) * (p.y - e.y1) / (e.y2 - e.y1) + e.x1)"
             " GROUP BY p.id HAVING count(*) % 2 = 1) GROUP BY 1, 2")
        rows = self.con.execute(q, [b.minx, b.maxx, b.miny, b.maxy]).fetchall()
        return {(r[0], r[1]): r[2] for r in rows}

    def verify(self, records: list[OpRecord]) -> dict:
        for r in records:
            if r.error is None:
                r.ok = r.result == self._expected(r.args["wkt"])
        return {"checked_ops": sum(r.ok is not None for r in records)}

    def close(self) -> None:
        con = getattr(self, "con", None)
        if con is not None:
            con.close()

    # -- metrics ------------------------------------------------------------

    def layer_metrics(self, records: list[OpRecord]) -> dict:
        tq = [r for r in records if r.kind == "tile_query"]
        pq = [r for r in records if r.kind == "poly_query"]
        m = {
            "pipeline.plan_s": traced_medians(records, None, "pipeline.plan_s"),
            "scan.s": traced_medians(tq, None, "scan.s"),
            "scan.bytes": traced_medians(tq, None, "scan.bytes"),
            "scan.rows": traced_medians(tq, None, "scan.rows"),
            "crop.codegen_s": traced_medians(
                [r for r in records if r.plan.get("crop") == "codegen"], None, "crop.s"),
            "crop.arrow_s": traced_medians(
                [r for r in records if r.plan.get("crop") == "arrow"], None, "crop.s"),
            "crop.rows_in": traced_medians(records, None, "crop.rows_in"),
            "crop.rows_out": traced_medians(records, None, "crop.rows_out"),
            "crop.path.codegen": sum(r.plan.get("crop") == "codegen" for r in records),
            "crop.path.arrow": sum(r.plan.get("crop") == "arrow" for r in records),
            "splitter.s": traced_medians(tq, None, "splitter.s"),
            "splitter.rows_out_per_in": traced_medians(records, None, "splitter.rows_out_per_in"),
            "tile_query.layer_share": traced_medians(tq, None, "layer_share"),
            "poly_query.scan_s": traced_medians(pq, None, "scan.s"),
            "poly_query.scan_bytes": traced_medians(pq, None, "scan.bytes"),
        }
        m.update(counter_medians(records))
        return m


def _scan_columns(df) -> list[str]:
    """Columns the op's parquet scan reads, from its physical plan."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    cols: list[str] = []
    for i in range(leaves.size()):
        out = leaves.apply(i).output()
        cols.extend(out.apply(j).name() for j in range(out.size()))
    return cols
