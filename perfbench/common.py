"""Shared plumbing for the benchmark workloads: run environment, Spark
session lifetime, timing, memory sampling, spans and event-log parsing.

Everything here observes the program from outside: it sets launch-time
environment, calls public entry points and reads what Spark writes.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A driver heap that fits the host: a quarter of physical memory,
    capped at 2 GiB (the session builder's own default is 24g)."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(1024, min(2048, total_mb // 4))}m"


def prepare_env(work: str, trace: bool) -> dict:
    """Launch-time settings, applied before the JVM starts. Returns the
    settings so the run can record them."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    heap = driver_memory()
    # a fixed heap (initial = maximum) keeps the JVM's resident size from
    # depending on when the heap happened to grow
    submit = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{heap}'"]
    event_dir = None
    if trace:
        event_dir = os.path.join(work, "eventlog")
        os.makedirs(event_dir, exist_ok=True)
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.eventLog.dir=file://{event_dir}",
        ]
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_DRIVER_MEMORY": heap,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Python workers import the package by name in mapInPandas UDFs
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    }
    os.environ.update(settings)
    return {**settings, "event_log_dir": event_dir}


class Session:
    """Owns the SparkSession and the JVM process behind it, so that the
    run can stop both and wait for them to end."""

    def __init__(self, app: str):
        from geospatial_etl_pipeline_spark.session import get_spark

        self.spark = get_spark(app)
        self.spark.sparkContext.setLogLevel("ERROR")
        self._proc = getattr(self.spark.sparkContext._gateway, "proc", None)

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if self._proc is not None:
            if self._proc.stdin:
                self._proc.stdin.close()
            try:
                self._proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait(timeout=10)


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters (user, nice, system, idle,
    iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_sentinel() -> float:
    """Host note: the median wall of a fixed pure-Python loop. Neighbours
    on a shared host change it by a third within minutes without any
    steal showing, and every figure of a run moves with it."""
    walls = []
    for _ in range(3):
        t = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i * i
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(path: str) -> int:
    n = 0
    for base, _, files in os.walk(path):
        for f in files:
            n += os.path.getsize(os.path.join(base, f))
    return n


# ------------------------------------------------------ memory and CPU


def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def _name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            args = f.read().split(b"\0")
    except OSError:
        return "?"
    return " ".join(os.path.basename(a.decode(errors="replace")) for a in args[:3])[:60]


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_tree() -> list[tuple[int, str]]:
    """(pid, name) of this process and its descendants: the driver, the
    JVM and the Python workers."""
    todo, seen, out = [(os.getpid(), "")], set(), []
    while todo:
        pid, parent = todo.pop()
        name = _name(pid)
        # a JVM child still named java is a fork caught before its exec
        # (process spawning): it reports the JVM's own pages and ticks
        if pid in seen or (name.startswith("java") and parent.startswith("java")):
            continue
        seen.add(pid)
        out.append((pid, name))
        todo += [(c, name) for c in _children(pid)]
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree, reaped children
    included (a worker that exits moves its time to its parent)."""
    ticks = 0
    for pid, _ in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the summed VmHWM of this process and every descendant
    (the JVM and the Python workers) and keeps the largest sum seen."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_kb = 0
        self.peak_parts: list[tuple[int, str]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        parts = [(_hwm_kb(pid), name) for pid, name in process_tree()]
        total = sum(kb for kb, _ in parts)
        if total > self.peak_kb:
            self.peak_kb = total
            self.peak_parts = sorted(parts, reverse=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None


@dataclass
class Tracer:
    """In-memory span recorder; written out once when the run ends.
    Disabled tracers record nothing and cost one attribute check."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str, request: int | None = None):
        return _SpanCtx(self, name, request)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s.__dict__}) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, request: int | None):
        self.tracer, self.name, self.request = tracer, name, request

    def __enter__(self):
        self.t0 = time.perf_counter()
        if self.tracer.enabled:
            self.idx = len(self.tracer.spans)
            parent = self.tracer._stack[-1] if self.tracer._stack else None
            self.tracer.spans.append(Span(self.name, self.t0, self.t0, parent, self.request))
            self.tracer._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.elapsed = time.perf_counter() - self.t0
        if self.tracer.enabled:
            self.tracer._stack.pop()
            self.tracer.spans[self.idx].end = self.t0 + self.elapsed
        return False


# ---------------------------------------------------------- event log

SPARK_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.task_busy_s", "spark.cpu_util", "spark.driver_gap_s",
    "spark.shuffle_write_mb", "spark.spill_mb", "spark.gc_s",
)


def event_log_metrics(event_dir: str | None, t0: float, t1: float, cores: int) -> dict:
    """``spark.*`` metrics for the jobs submitted in the wall-clock
    window [t0, t1] (epoch seconds), parsed from Spark's JSON event log."""
    out = {k: 0.0 for k in SPARK_METRICS}
    if not event_dir:
        return out
    files = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    lo, hi = t0 * 1000, t1 * 1000
    stages, jobs, busy = [], 0, 0.0
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if lo <= ev.get("Submission Time", 0) <= hi:
                        jobs += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sub, done = info.get("Submission Time"), info.get("Completion Time")
                    if sub is not None and done is not None and lo <= sub <= hi:
                        stages.append((sub, done))
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    if not lo <= info.get("Launch Time", 0) <= hi:
                        continue
                    out["spark.tasks"] += 1
                    if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") not in (None, "Success"):
                        out["spark.failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    run_s = m.get("Executor Run Time", 0) / 1000.0
                    busy += run_s
                    out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    out["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    out["spark.spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
    out["spark.jobs"] = float(jobs)
    out["spark.stages"] = float(len(stages))
    out["spark.task_busy_s"] = busy
    wall = max(t1 - t0, 1e-9)
    out["spark.cpu_util"] = busy / (wall * cores)
    # wall time in the window covered by no running stage
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in stages):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    out["spark.driver_gap_s"] = max(0.0, wall - covered / 1000.0)
    return out


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
