"""Resumable batch execution with a per-partition lineage/metrics ledger.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". The production design is Iceberg snapshot commits
per partition-batch; this module implements the same protocol on plain
parquet (the sandbox has no Iceberg runtime — the interface is
catalog-agnostic):

  * work is split into named batches (e.g. tile ids, input splits);
  * each batch writes its output under ``out/batch=<id>/`` (overwrite —
    idempotent on retry), THEN appends a ledger row
    (batch_id, n_rows, wall_s, finished_at) as its commit record;
  * a restart reads the ledger and skips every committed batch — a crash
    between data write and ledger append simply re-runs that batch and
    overwrites its output (write-then-commit, at-least-once write +
    exactly-once commit).

The ledger doubles as the metrics sidecar: per-batch row counts and
wall times are queryable as a table (``ledger()``).
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdal_spark.parquet import read_parquet

LEDGER_SCHEMA = "batch_id string, n_rows long, wall_s double, finished_at double"


class ResumableJob:
    def __init__(self, spark: SparkSession, output_dir: str):
        self.spark = spark
        self.output_dir = output_dir
        self.ledger_dir = os.path.join(output_dir, "_ledger")

    # -- ledger ------------------------------------------------------------

    def ledger(self) -> DataFrame:
        """The lineage/metrics sidecar table (empty if nothing committed)."""
        try:
            return self.spark.read.schema(LEDGER_SCHEMA).parquet(self.ledger_dir)
        except Exception:
            return self.spark.createDataFrame([], LEDGER_SCHEMA)

    def committed_ids(self) -> set[str]:
        return {r.batch_id for r in self.ledger().select("batch_id").collect()}

    def _commit(self, batch_id: str, n_rows: int, wall_s: float) -> None:
        row = self.spark.createDataFrame(
            [(batch_id, n_rows, wall_s, time.time())], LEDGER_SCHEMA
        )
        # unique file per commit: append-only, no coordination needed
        row.coalesce(1).write.mode("append").parquet(self.ledger_dir)

    # -- execution ---------------------------------------------------------

    def run(self, batch_ids: list[str], process_fn) -> dict[str, float]:
        """Process every uncommitted batch; returns {batch_id: wall_s}.

        process_fn(spark, batch_id) -> DataFrame — the batch's output.
        Restart-safe: committed batches are skipped; a batch that crashed
        mid-write is overwritten on retry before its commit record lands.
        """
        done = self.committed_ids()
        timings: dict[str, float] = {}
        for bid in batch_ids:
            if bid in done:
                continue
            t0 = time.time()
            out = process_fn(self.spark, bid)
            path = os.path.join(self.output_dir, f"batch={bid}")
            out.write.mode("overwrite").parquet(path)
            n = read_parquet(self.spark, [path]).count()
            wall = time.time() - t0
            self._commit(bid, n, wall)
            timings[bid] = wall
        return timings

    def output(self) -> DataFrame:
        """Union of all committed batch outputs (uncommitted batch dirs
        are excluded — only the ledger defines visibility)."""
        done = sorted(self.committed_ids())
        if not done:
            raise ValueError("no committed batches")
        paths = [os.path.join(self.output_dir, f"batch={b}") for b in done]
        return read_parquet(self.spark, paths)
