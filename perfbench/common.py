"""Workload interface and the pieces every workload shares."""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from harness import OpRecord, StatusCounters, Tracer, median


@dataclass
class OpSpec:
    kind: str
    args: dict = field(default_factory=dict)


@dataclass
class TraceCtx:
    tracer: Tracer
    counters: StatusCounters


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def ingest_prefixes(synth_df, coded_df) -> dict:
    """Self time of synth and geocode by prefix materialisation: the synth
    columns the ingest keeps, then the geocode inputs alone and the
    coordinates alone (the coordinates need only url and warc_ts, not the
    page bodies)."""
    keep = [c for c in synth_df.columns if c in coded_df.columns or c in ("url", "warc_ts")]
    t = time.perf_counter()
    noop(synth_df.select(*keep))
    synth_s = time.perf_counter() - t
    t = time.perf_counter()
    noop(synth_df.select("url", "warc_ts"))
    keys_s = time.perf_counter() - t
    t = time.perf_counter()
    noop(coded_df.select("x", "y"))
    return {"synth_s": synth_s, "geocode_s": max(time.perf_counter() - t - keys_s, 0.0)}


def timed_ingest(synth_df, coded_df, write, trace: bool) -> dict:
    """Run one fixture ingest; traced, split it into synth, geocode and
    write (the write's self time is the rest of the ingest)."""
    out = ingest_prefixes(synth_df, coded_df) if trace else {}
    t = time.perf_counter()
    write(coded_df)
    out["total_s"] = time.perf_counter() - t
    if trace:
        out["write_s"] = max(out["total_s"] - out["synth_s"] - out["geocode_s"], 0.0)
    return out


class Workload:
    """One benchmark workload.

    ``ingest`` builds the fixtures (called several times; the median is
    the reported set-up), ``warm`` runs untimed ops so JIT and code
    generation settle, ``prepare_oracle`` builds reference state outside
    every timed region, ``schedule`` yields the seeded op list,
    ``run_op`` executes one op (traced when ``ctx`` is given) and
    ``verify`` checks every recorded op after the timed loop.
    """

    name = ""
    kinds: tuple[str, ...] = ()
    #: end-to-end slots: op1/op2 map to these op kinds
    op1 = ""
    op2 = ""
    #: op kinds that count toward rows_per_s, with their ops per schedule
    #: pass: throughput is taken at the schedule's mix from per-kind
    #: medians, so it does not swing with where the deadline cuts a pass
    rate_mix: dict[str, int] = {}

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def ingest(self, trace: bool) -> dict:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def prepare_oracle(self) -> None:
        pass

    def schedule(self):
        raise NotImplementedError

    def run_op(self, spec: OpSpec, op: int, ctx: TraceCtx | None) -> OpRecord:
        raise NotImplementedError

    def verify(self, records: list[OpRecord]) -> dict:
        raise NotImplementedError

    def layer_metrics(self, records: list[OpRecord]) -> dict:
        return {}

    def close(self) -> None:
        pass


def traced_medians(records: list[OpRecord], kind: str | None, key: str) -> float:
    vals = [r.trace[key] for r in records
            if r.trace and key in r.trace and (kind is None or r.kind == kind)]
    return median(vals) if vals else 0.0


def counter_medians(records: list[OpRecord], kinds: tuple[str, ...] | None = None) -> dict:
    """Median per op of each status-store counter over traced ops."""
    keys = ("shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes",
            "tasks.executor_run_s", "tasks.gc_s", "spark.jobs",
            "tasks.max_over_median")
    rows = [r.trace["counters"] for r in records
            if r.trace and "counters" in r.trace
            and (kinds is None or r.kind in kinds)]
    return {k: (median([c[k] for c in rows]) if rows else 0.0) for k in keys}
