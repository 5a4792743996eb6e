"""Repository benchmark: one seeded workload, closed loop, one client.

    python3 perfbench/run.py --workload tile_scan --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout. Starts the engine's Spark session on
local[nproc], builds the workload's fixtures from the seed, runs ops back
to back for --seconds (the next op starts when the previous one ends),
checks every op's output against an oracle computed outside the timed
region, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 the per-layer ones.
The line before it is a JSON run record: environment, set-up, every
op's time and plan shape, the end-to-end metrics under their per-op
names and, when traced, the per-layer metrics and the spans.

All scratch files live in .perfbench_tmp/ under the checkout and are
removed on exit, on failure and on SIGTERM/SIGINT.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
from common import TraceCtx  # noqa: E402

#: fixture ingests per run; set-up reports their median
SETUP_REPS = 3


def workload_class(name: str):
    if name == "tile_scan":
        from tile_scan import TileScan
        return TileScan
    if name == "knn_join":
        from knn_join import KnnJoin
        return KnnJoin
    if name == "catalog_mix":
        from catalog_mix import CatalogMix
        return CatalogMix
    raise SystemExit(f"unknown workload {name!r}")


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _on_signal(signum, frame):
    raise SystemExit(128 + signum)


def run(args):
    cls = workload_class(args.workload)
    work = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    sampler = harness.TreeSampler().start()
    spark = wl = None
    try:
        log("starting session")
        load_before = harness.loadavg_1m()
        t = time.perf_counter()
        spark = harness.start_session(ROOT, work)
        session_s = time.perf_counter() - t

        log("session up")
        wl = cls(spark, work, args.seed)
        trace = bool(args.trace)
        # the first ingest also pays the JVM's first-job warm-up; the
        # median leaves it out. Traced, the last ingest is split into layers.
        ingests = [wl.ingest(trace and i == SETUP_REPS - 1) for i in range(SETUP_REPS)]
        t = time.perf_counter()
        wl.warm()
        warm_ops_s = time.perf_counter() - t
        ingest_s = harness.median([i["total_s"] for i in ingests])
        setup_s = session_s + ingest_s + warm_ops_s

        log("set-up done")
        t = time.perf_counter()
        wl.prepare_oracle()
        oracle_s = time.perf_counter() - t
        records, tracer, loop_s, steal = _loop(spark, wl, args.seconds, trace)
        log("loop done")
        t = time.perf_counter()
        checks = wl.verify(records)
        verify_s = time.perf_counter() - t
        for r in records:
            r.result = None
        env = harness.env_record(spark, args.seed)
        env.update(load_1m_before=load_before, load_1m_after=harness.loadavg_1m(),
                   cpu_steal_frac=steal, loop_s=loop_s, oracle_s=oracle_s,
                   verify_s=verify_s)
        setup = {"setup_s": setup_s, "session.start_s": session_s,
                 "ingest_s": ingest_s,
                 "warm_ops_s": warm_ops_s, "ingest_reps": ingests}
        record = _record(wl, records, setup, env, checks, tracer if trace else None)
        record["peak_rss_mb"] = sampler.peak_kb / 1024.0
        return record, wl
    finally:
        log("tearing down")
        if wl is not None:
            wl.close()
        if spark is not None:
            harness.stop_session(spark)
        sampler.stop()
        sampler.wait_descendants_gone()
        shutil.rmtree(work, ignore_errors=True)
        log("torn down")
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _loop(spark, wl, seconds: float, trace: bool):
    """Closed loop. Traced runs time their first third untraced, so the
    tracing overhead is measured in the same run, and go on past the
    deadline until every op kind has been traced once."""
    tracer = harness.Tracer()
    ctx = TraceCtx(tracer, harness.StatusCounters(spark)) if trace else None
    records = []
    steal0, total0 = harness.cpu_times()
    start = time.perf_counter()
    traced_from = start + seconds / 3 if trace else float("inf")
    for op, spec in enumerate(wl.schedule()):
        now = time.perf_counter()
        if now - start >= seconds and (not trace or _all_traced(records, wl.kinds)):
            break
        try:
            rec = wl.run_op(spec, op, ctx if now >= traced_from else None)
        except Exception as e:  # an op that raises is a failed op, not a failed run
            rec = harness.OpRecord(op, spec.kind, time.perf_counter() - now,
                                   0, ok=False, error=f"{type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
        records.append(rec)
    loop_s = time.perf_counter() - start
    steal1, total1 = harness.cpu_times()
    steal = (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0
    return records, tracer, loop_s, steal


def _all_traced(records, kinds) -> bool:
    return {r.kind for r in records if r.trace} >= set(kinds)


def _record(wl, records, setup, env, checks, tracer) -> dict:
    plain = [r for r in records if not r.trace]
    attempted = len(records)
    failed = sum(r.ok is not True for r in records)
    ops = {}
    for kind in wl.kinds:
        lat = [r.seconds for r in plain if r.kind == kind and r.ok]
        if lat:
            t = harness.tail(lat)
            ops[kind] = {"p50_s": harness.median(lat), "tail_s": t["value"],
                         "tail_pct": t["pct"], "n": t["n"], "beyond": t["beyond"]}
    rows = {r.kind: r.rows for r in plain if r.ok}
    done = [k for k in wl.rate_mix if k in ops]
    timed = sum(wl.rate_mix[k] * ops[k]["p50_s"] for k in done)
    rec = {
        "workload": wl.name, "env": env, "setup": setup, "checks": checks,
        "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted if attempted else 1.0,
        "ops": ops,
        "rows_per_s": sum(wl.rate_mix[k] * rows[k] for k in done) / timed if timed else 0.0,
        "op_log": [dict(op=r.op, kind=r.kind, seconds=r.seconds, traced=bool(r.trace), **r.plan)
                   for r in records],
        "errors": [dict(op=r.op, kind=r.kind, error=r.error) for r in records if r.error],
    }
    if tracer is not None:
        layers = wl.layer_metrics(records)
        traced = [r for r in records if r.trace]
        over = []
        for kind in wl.kinds:
            a = [r.seconds for r in plain if r.kind == kind]
            b = [r.seconds for r in traced if r.kind == kind]
            if a and b:
                over.append(harness.median(b) / harness.median(a) - 1.0)
        layers["trace.overhead_frac"] = harness.median(over) if over else 0.0
        layers["trace.ops"] = len(traced)
        layers["session.start_s"] = setup["session.start_s"]
        last = setup["ingest_reps"][-1]
        for k in ("synth_s", "geocode_s", "write_s"):
            layers.setdefault(f"ingest.{k}", last.get(k, 0.0))
        rec["layers"] = layers
        rec["spans"] = tracer.dump()
    return rec


def _issue_metrics(wl, rec: dict) -> dict:
    """The workload's end-to-end metrics under their per-op names, with
    units: every one the run measured, declared in BENCHMARK.json or not."""
    out = {
        "setup_s": (rec["setup"]["setup_s"], "s"),
        "rows_per_s": (rec["rows_per_s"], "rows/s"),
        "failed_frac": (rec["failed_frac"], "fraction"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }
    for kind, o in rec["ops"].items():
        out[f"{kind}_p50_s"] = (o["p50_s"], "s")
        out[f"{kind}_tail_s"] = (o["tail_s"], f"s@p{o['tail_pct']},n={o['n']}")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def _metrics(wl, record: dict, bench: dict, trace: bool) -> dict:
    """The metrics BENCHMARK.json declares. End-to-end ones map op1/op2
    to the workload's two headline op kinds; a per-layer metric of a layer
    the workload never calls reads 0."""
    if trace:
        src = record["layers"]
        return {m["name"]: {"value": float(src.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in bench["per_layer"]}
    src = {"setup_s": record["setup"]["setup_s"], "rows_per_s": record["rows_per_s"],
           "peak_rss_mb": record["peak_rss_mb"]}
    for slot, kind in (("op1", wl.op1), ("op2", wl.op2)):
        if kind in record["ops"]:
            src[f"{slot}_p50_s"] = record["ops"][kind]["p50_s"]
    out = {}
    for m in bench["end_to_end"]:
        if m["name"] not in src:
            raise RuntimeError(f"metric {m['name']} was not measured")
        out[m["name"]] = {"value": float(src[m["name"]]), "unit": m["unit"]}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path.insert(0, ROOT)
    try:
        import pdal_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    record, wl = run(args)
    record["end_to_end"] = _issue_metrics(wl, record)
    metrics = _metrics(wl, record, bench, bool(args.trace))
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": record["failed"] == 0 and record["checks"].get("ok", True),
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
