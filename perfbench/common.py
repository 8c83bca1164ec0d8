"""Shared benchmark machinery: the run context (session, work dir,
process cleanup), the peak-RSS sampler, the span tracer, the
outside-in Spark counters, and small statistics helpers.

Nothing here changes the program: sessions come from the engine's own
``hbase_gis_spark.session.make_session``, and every counter is read
from the outside (status tracker, executed plan, persisted RDDs).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import shutil
import statistics
import sys
import threading
import time
from collections import defaultdict

def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def median_time(fn, reps: int = 3) -> float:
    """Median wall time of ``reps`` calls of ``fn``."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


def noop_write(df) -> None:
    """Run ``df`` to completion without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a sample."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# --- processes and memory ------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(b")") + 2:].split()[1])
        kids[ppid].append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    JVM, the Python daemon and its workers), sampled from /proc."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in process_tree(me))
            self.peak = max(self.peak, total)
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# --- run context ---------------------------------------------------------------


class Context:
    """One benchmark process: checkout root, private work dir, the
    current SparkSession, the tracer and the result bookkeeping."""

    def __init__(self, root: str, seed: int, seconds: float, trace: bool):
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(enabled=trace)
        self.cores = len(os.sched_getaffinity(0))
        base = os.path.join(root, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.work = os.path.join(base, f"run-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        # covers_udf and friends import the package inside Python workers
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self):
        """(Re)build the session through the engine's factory; returns
        (make_session seconds, first job seconds)."""
        from hbase_gis_spark.session import make_session

        self.stop_session()
        tmp = self.path("tmp")
        t0 = time.perf_counter()
        self.spark = make_session(
            app="perfbench",
            master=f"local[{self.cores}]",
            driver_mem="2g",
            extra={
                "spark.ui.enabled": "false",
                "spark.local.dir": self.path("spark-local"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.spark.range(1).count()
        return t1 - t0, time.perf_counter() - t1

    def stop_session(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self):
        """Stop Spark, end the JVM process and wait for it, remove the
        work dir."""
        from pyspark import SparkContext

        try:
            self.stop_session()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                with contextlib.suppress(Exception):
                    gw.shutdown()
                if proc is not None:
                    with contextlib.suppress(Exception):
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except Exception:  # noqa: BLE001 - must not leave it
                        proc.kill()
                        proc.wait(timeout=30)
                SparkContext._gateway = None
                SparkContext._jvm = None
            shutil.rmtree(self.work, ignore_errors=True)

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; a mismatch counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)


# --- tracing -------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, op id) and counts
    recorded at the boundaries the benchmark calls. Disabled, every
    call is a no-op context."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = defaultdict(list)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {"name": name, "op": op if op is not None else
               (parent["op"] if parent else None),
               "parent": parent["id"] if parent else None,
               "start": time.perf_counter()}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name].append(value)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and "end" in s]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of
        it covered by child spans."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if "end" not in s:
                continue
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], ())):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts,
                       "self_time_s": self.self_times()}, f)


# --- outside-in Spark counters ---------------------------------------------------


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _plan_nodes(plan):
    """Every physical node, looking through AQE wrappers and query
    stages into the plan that actually ran."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            todo.append(node.executedPlan())
            continue
        out.append(node)
        if "QueryStage" in name:
            todo.append(node.plan())
        todo.extend(_seq(node.children()))
    return out


def _metric(node, key: str) -> int:
    opt = node.metrics().get(key)
    return int(opt.get().value()) if opt.isDefined() else 0


def plan_counts(df) -> dict[str, int]:
    """Scan, exchange and Arrow-UDF counts from the executed plan of a
    DataFrame that has already run an action."""
    nodes = _plan_nodes(df._jdf.queryExecution().executedPlan())
    c = dict(files_read=0, partitions_read=0, rows_read=0, exchanges=0,
             python_evals=0)
    for n in nodes:
        name = n.nodeName()
        if "Scan" in name and ("parquet" in name.lower() or "csv" in name.lower()
                               or name.startswith("FileScan")):
            c["files_read"] += _metric(n, "numFiles")
            c["partitions_read"] += _metric(n, "numPartitions")
            c["rows_read"] += _metric(n, "numOutputRows")
        elif "Exchange" in name and not name.startswith("Reused"):
            c["exchanges"] += 1
        elif "ArrowEvalPython" in name:
            c["python_evals"] += 1
    return c


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) run under one job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks


def cached_rdds(sc) -> int:
    return int(sc._jsc.sc().getPersistentRDDs().size())


class OpCounter:
    """Traced-run wrapper around one operation: tags its Spark jobs
    with a private job group and records job/task, plan and
    persisted-RDD counts under ``spark.*``."""

    _ids = itertools.count()  # one process-wide sequence: groups never repeat

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.group = f"perfbench-op-{next(self._ids)}"

    def __enter__(self):
        if self.ctx.tracer.enabled:
            self.ctx.spark.sparkContext.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        return False

    def record(self, df=None) -> int:
        """Record the counts; returns the op's job count (0 untraced)."""
        tr = self.ctx.tracer
        if not tr.enabled:
            return 0
        sc = self.ctx.spark.sparkContext
        jobs, tasks = job_counts(sc, self.group)
        tr.count("spark.jobs_per_op", jobs)
        tr.count("spark.tasks_per_op", tasks)
        if df is not None:
            for k, v in plan_counts(df).items():
                group = "scan" if k.endswith("_read") else "plan"
                tr.count(f"spark.{group}.{k}", v)
        tr.count("spark.cached_rdds_left", cached_rdds(sc))
        return jobs
