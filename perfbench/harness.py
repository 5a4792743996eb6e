"""Measurement plumbing shared by every workload.

Nothing here knows about a workload: it starts the engine's Spark
session, samples memory and CPU steal, keeps per-op latencies, holds
trace spans in memory, and reads per-op counters from the Spark status
store and the executed plan.
"""

from __future__ import annotations

import math
import os
import platform
import signal
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------


def tail(values: list[float]) -> dict:
    """Highest whole percentile with at least ten samples beyond it.

    Nearest-rank: percentile p reads sorted[ceil(p*n/100) - 1], which has
    n - ceil(p*n/100) samples above it. With ten or fewer samples no
    percentile qualifies and the maximum is reported as p100.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return {"value": xs[-1], "pct": 100, "n": n, "beyond": 0}
    p = (100 * (n - 10)) // n
    rank = max(1, math.ceil(p * n / 100))
    return {"value": xs[rank - 1], "pct": p, "n": n, "beyond": n - rank}


def median(values: list[float]) -> float:
    return statistics.median(values)


# ---------------------------------------------------------------------------
# Host state: load, CPU steal, process-tree RSS
# ---------------------------------------------------------------------------


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # guest and guest_nice are already counted in user and nice
    total = sum(vals[:8])
    steal = vals[7] if len(vals) > 7 else 0
    return steal, total


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeSampler:
    """Background sampler of the summed RSS of this process and every
    descendant (the JVM and its Python workers). Also remembers every pid
    it saw, so the caller can wait for all of them to end."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        pids = process_tree(os.getpid())
        self.seen.update(pids)
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def wait_descendants_gone(self, timeout_s: float = 20.0) -> list[int]:
        """Wait for every pid seen (except ours) to exit; kill stragglers.
        Returns the pids that had to be killed."""
        others = self.seen - {os.getpid()}
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            alive = [p for p in others if _alive(p)]
            if not alive:
                return []
            time.sleep(0.1)
        killed = []
        for p in others:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                    killed.append(p)
                except OSError:
                    pass
        return killed


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state not in ("Z", "X")


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(root: str, work: str):
    """The engine's own session factory, at its defaults, on local[nproc].

    Only placement is set: scratch and temp files go under ``work``, and
    Python workers import the engine from ``root``.
    """
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    local = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = local
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp

    from pdal_spark.session import get_spark

    jopt = f"-Djava.io.tmpdir={tmp}"
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": jopt,
            "spark.executor.extraJavaOptions": jopt,
        },
    )
    return spark


def stop_session(spark) -> None:
    """Stop Spark, shut the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        if proc is not None:
            try:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None


def env_record(spark, seed: int) -> dict:
    sc = spark.sparkContext
    return {
        "nproc": nproc(),
        "master": sc.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "seed": seed,
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


# ---------------------------------------------------------------------------
# Ops, spans, counters
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    op: int


@dataclass
class Tracer:
    """In-memory spans; the run prints them when it ends."""

    spans: list[Span] = field(default_factory=list)
    t0: float = field(default_factory=time.perf_counter)

    def span(self, name: str, op: int, parent: str | None = None):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.start = time.perf_counter()
                return self

            def __exit__(self, *exc):
                end = time.perf_counter()
                tracer.spans.append(Span(name, self.start - tracer.t0,
                                         end - tracer.t0, parent, op))
                self.seconds = end - self.start
                return False

        return _Ctx()

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": round(s.start, 6), "end": round(s.end, 6),
             "parent": s.parent, "op": s.op}
            for s in self.spans
        ]


@dataclass
class OpRecord:
    op: int
    kind: str
    seconds: float
    rows: int
    ok: bool | None = None
    error: str | None = None
    plan: dict = field(default_factory=dict)
    trace: dict = field(default_factory=dict)
    args: dict = field(default_factory=dict)
    #: the op's output, kept for the after-loop check
    result: object = None


class StatusCounters:
    """Per-op counters from the status store Spark already keeps.

    Each op runs under its own job group; after the op, the listener bus
    is drained and the group's stages are summed.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        gw = self.sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def begin(self, op: int) -> str:
        group = f"perfbench-op-{op}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self) -> None:
        self.sc._jsc.clearJobGroup()

    def collect(self, group: str) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        jobs_wall_ms = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
            data = self.store.job(j)
            if data.submissionTime().isDefined() and data.completionTime().isDefined():
                jobs_wall_ms += (data.completionTime().get().getTime()
                                 - data.submissionTime().get().getTime())
        c = {"spark.jobs": len(jobs), "jobs.wall_s": 0.0, "shuffle.write_bytes": 0,
             "shuffle.read_bytes": 0, "spill.bytes": 0,
             "tasks.executor_run_s": 0.0, "tasks.gc_s": 0.0,
             "input.bytes": 0, "input.rows": 0, "tasks.max_over_median": 1.0}
        c["jobs.wall_s"] = jobs_wall_ms / 1000.0
        heaviest = (-1.0, None)
        for sid in sorted(stage_ids):
            seq = self.store.stageData(sid, False, self._no_status, False,
                                       self._no_quantiles)
            for i in range(seq.size()):
                st = seq.apply(i)
                if str(st.status()) == "SKIPPED":
                    continue
                run_ms = st.executorRunTime()
                c["shuffle.write_bytes"] += st.shuffleWriteBytes()
                c["shuffle.read_bytes"] += st.shuffleReadBytes()
                c["spill.bytes"] += st.diskBytesSpilled() + st.memoryBytesSpilled()
                c["tasks.executor_run_s"] += run_ms / 1000.0
                c["tasks.gc_s"] += st.jvmGcTime() / 1000.0
                c["input.bytes"] += st.inputBytes()
                c["input.rows"] += st.inputRecords()
                if run_ms > heaviest[0]:
                    heaviest = (run_ms, (sid, st.attemptId(), st.numTasks()))
        if heaviest[1] is not None:
            sid, att, ntasks = heaviest[1]
            tasks = self.store.taskList(sid, att, max(ntasks, 1))
            durs = []
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    durs.append(float(d.get()))
            if durs and median(durs) > 0:
                c["tasks.max_over_median"] = max(durs) / median(durs)
        return c


def plan_nodes(df) -> list[tuple[str, list[str], dict]]:
    """(node name, output column names, selected SQL metric values) for
    every node of the executed plan, descending through adaptive query
    stages. Call after the DataFrame's action has run."""
    out = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        cols = []
        attrs = node.output()
        for i in range(attrs.size()):
            cols.append(attrs.apply(i).name())
        metrics = {}
        opt = node.metrics().get("numOutputRows")
        if opt.isDefined():
            metrics["numOutputRows"] = int(opt.get().value())
        out.append((name, cols, metrics))
        kids = node.children()
        for i in range(kids.size()):
            todo.append(kids.apply(i))
    return out


def plan_string(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()
