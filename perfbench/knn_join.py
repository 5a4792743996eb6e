"""knn_join: k=8 self-join over stored geocoded points.

Ops alternate knn (uniform points) and knn_skew (the same points with a
share relocated into one hot cell by synth.with_skew, sized so an op
costs about as much as a uniform one). The work is exchange, window and
salting; crop, splitter and catalog do none of it.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np
from pyspark.sql import functions as F

from common import OpSpec, TraceCtx, Workload, counter_medians, timed_ingest, traced_medians
from harness import OpRecord, median, plan_nodes, plan_string

N_POINTS = 25_000
K = 8
# mean 3x3 neighbourhood of ~31 points at this density, so every point
# has at least K candidates besides itself
CELL = 3.0
HOT_PCT = 2
SAMPLE = 64


class KnnJoin(Workload):
    name = "knn_join"
    kinds = ("knn", "knn_skew")
    op1, op2 = "knn", "knn_skew"
    rate_mix = {"knn": 1, "knn_skew": 1}

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)
        self.paths = {"knn": os.path.join(work, "points"),
                      "knn_skew": os.path.join(work, "points_skew")}
        self.rng = random.Random(seed)

    def ingest(self, trace: bool) -> dict:
        from pdal_spark import synth

        raw = synth.synth_pages(self.spark, N_POINTS)
        coded = synth.with_coords(raw).select("page_id", "x", "y")

        def write(df):
            df.write.mode("overwrite").parquet(self.paths["knn"])
            synth.with_skew(self.spark.read.parquet(self.paths["knn"]),
                            hot_frac_pct=HOT_PCT).write.mode("overwrite").parquet(
                self.paths["knn_skew"])

        return timed_ingest(raw, coded, write, trace)

    def _join(self, kind: str):
        from pdal_spark.operators import knn

        d = self.spark.read.parquet(self.paths[kind])
        return knn.knn_join(d.withColumnRenamed("page_id", "src_id"),
                            d.withColumnRenamed("page_id", "cand_id"),
                            k=K, cell_size=CELL, exclude_self=True)

    @staticmethod
    def _action(out, sample: list[int]):
        """One job over the whole join: row count plus the sampled rows."""
        keep = F.col("src_id").isin(sample)
        row = F.struct("src_id", "cand_id", "dist", "rank")
        res = out.agg(F.count(F.lit(1)).alias("n"),
                      F.collect_list(F.when(keep, row)).alias("rows"))
        return res, res.collect()[0]

    def warm(self) -> None:
        for kind in self.kinds:
            self._action(self._join(kind), [0])

    def schedule(self):
        while True:
            for kind in self.kinds:
                yield OpSpec(kind, {"sample": self.rng.sample(range(N_POINTS), SAMPLE)})

    def run_op(self, spec: OpSpec, op: int, ctx: TraceCtx | None) -> OpRecord:
        tr: dict = {}
        if ctx is None:
            t0 = time.perf_counter()
            res, row = self._action(self._join(spec.kind), spec.args["sample"])
            seconds = time.perf_counter() - t0
        else:
            sp = ctx.tracer.span
            with sp("op", op) as whole:
                with sp("knn.plan", op, "op") as s:
                    out = self._join(spec.kind)
                tr["knn.plan_s"] = s.seconds
                g = ctx.counters.begin(op)
                with sp("execute", op, "op"):
                    res, row = self._action(out, spec.args["sample"])
                ctx.counters.end()
            seconds = whole.seconds
            tr["counters"] = ctx.counters.collect(g)
        # plan shape and row counts from the executed plan, after the clock
        nodes = plan_nodes(res)
        plan = plan_string(res)
        rec = OpRecord(op, spec.kind, seconds, N_POINTS, plan={
            "knn": "cogroup" if "FlatMapCoGroupsInPandas" in plan else "pairwise",
            "salted": any("BroadcastExchange" in name and "_nsalt" in cols
                          and m.get("numOutputRows", 0) > 0 for name, cols, m in nodes),
            "pair_rows": max((m.get("numOutputRows", 0) for name, _, m in nodes
                              if "Join" in name), default=0)})
        rec.trace = tr
        rec.args = spec.args
        rec.result = (row["n"], [tuple(r) for r in row["rows"]])
        return rec

    # -- oracle -------------------------------------------------------------

    def prepare_oracle(self) -> None:
        import pyarrow.parquet as pq

        self.points = {}
        for kind, path in self.paths.items():
            t = pq.read_table(path, columns=["page_id", "x", "y"])
            ids = t.column("page_id").to_numpy()
            x = t.column("x").to_numpy()
            y = t.column("y").to_numpy()
            cx = np.floor(x / CELL).astype(np.int64)
            cy = np.floor(y / CELL).astype(np.int64)
            cells: dict[tuple[int, int], list[int]] = {}
            for i, c in enumerate(zip(cx.tolist(), cy.tolist())):
                cells.setdefault(c, []).append(i)
            cells = {c: np.array(v) for c, v in cells.items()}
            nb = np.array([
                sum(len(cells.get((a + dx, b + dy), ())) for dx in (-1, 0, 1) for dy in (-1, 0, 1))
                for a, b in zip(cx.tolist(), cy.tolist())])
            order = np.argsort(ids)
            self.points[kind] = {
                "ids": ids, "x": x, "y": y, "cx": cx, "cy": cy, "cells": cells,
                "pos": dict(zip(ids[order].tolist(), order.tolist())),
                "total": int(np.minimum(K, nb - 1).sum()),
            }

    def _expected(self, kind: str, src: int) -> list[tuple]:
        """Brute force over the src's 3x3 cell neighbourhood: the k nearest
        other points by (distance, cand_id)."""
        p = self.points[kind]
        i = p["pos"][src]
        a, b = int(p["cx"][i]), int(p["cy"][i])
        cand = np.concatenate([p["cells"].get((a + dx, b + dy), np.empty(0, np.int64))
                               for dx in (-1, 0, 1) for dy in (-1, 0, 1)]).astype(np.int64)
        cand = cand[p["ids"][cand] != src]
        dx = p["x"][i] - p["x"][cand]
        dy = p["y"][i] - p["y"][cand]
        d2 = dx * dx + dy * dy
        order = np.lexsort((p["ids"][cand], d2))[:K]
        return [(src, int(p["ids"][cand][j]), float(np.sqrt(d2[j])), r + 1)
                for r, j in enumerate(order)]

    def verify(self, records: list[OpRecord]) -> dict:
        for r in records:
            if r.error is not None:
                continue
            n, rows = r.result
            got: dict[int, list] = {}
            for s, c, d, k in rows:
                got.setdefault(s, []).append((s, c, d, k))
            ok = n == self.points[r.kind]["total"]
            for src in r.args["sample"]:
                exp = self._expected(r.kind, src)
                have = sorted(got.get(src, []), key=lambda t: t[3])
                ok = ok and len(have) == len(exp) and all(
                    h[1] == e[1] and h[3] == e[3] and abs(h[2] - e[2]) <= 1e-9 * max(e[2], 1e-300)
                    for h, e in zip(have, exp))
            r.ok = ok
        return {"checked_ops": sum(r.ok is not None for r in records)}

    def layer_metrics(self, records: list[OpRecord]) -> dict:
        skew = counter_medians(records, ("knn_skew",))
        m = {
            "knn.plan_s": traced_medians(records, None, "knn.plan_s"),
            "knn.plan.pairwise": sum(r.plan.get("knn") == "pairwise" for r in records),
            "knn.plan.cogroup": sum(r.plan.get("knn") == "cogroup" for r in records),
            "knn.salted": sum(bool(r.plan.get("salted")) for r in records),
            "knn.pair_rows": _median_plan(records, "knn", "pair_rows"),
            "knn_skew.pair_rows": _median_plan(records, "knn_skew", "pair_rows"),
            "knn_skew.tasks.max_over_median": skew["tasks.max_over_median"],
        }
        m.update(counter_medians(records))
        return m


def _median_plan(records: list[OpRecord], kind: str, key: str) -> float:
    vals = [r.plan[key] for r in records if r.kind == kind and key in r.plan]
    return median(vals) if vals else 0.0
