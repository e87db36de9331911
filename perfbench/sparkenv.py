"""Spark session sized to the machine, and Spark-layer counters read
from the application status store.

Sizing: cores = min(usable CPUs, 4); shuffle partitions = cores; driver
memory = a quarter of the memory available now, between 1 and 4 GiB.
The UI and the console progress bar are off. AQE and Arrow are set as
``bench.py`` sets them, and codegen follows ``bench.interpret_small_input``.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import tempfile

from py4j.protocol import Py4JJavaError

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_CORES = 4
# Spark-layer totals that SparkCounters.read reports for a job group
SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "gc_ms", "driver_gap_ms",
)


def usable_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - not Linux
        return os.cpu_count() or 1


def available_mib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def machine() -> dict:
    """Cores, load and the machine's CPU tick counters (``steal`` is time
    the host gave to other guests), recorded at the start and end of every
    run."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"cpus": usable_cores(), "loadavg": round(os.getloadavg()[0], 2),
            "ticks": sum(cpu), "steal_ticks": cpu[7] if len(cpu) > 7 else 0,
            "idle_ticks": cpu[3]}


class CpuMeter:
    """CPU seconds used by this process and its descendants (the JVM and
    its Python workers), without the JVM's JIT compiler threads.

    Host steal is not counted, so the figure holds still when other
    guests load the machine; compilation is left out because when it runs
    depends on the JVM's age, not on the work measured. The count adds
    each process's growth since the last reading, so a process that ends
    takes back nothing: PySpark's worker daemon ignores SIGCHLD, and the
    time of a worker it stops never reaches its ``cutime``. Children a
    parent in the tree does reap count through that ``cutime``.
    """

    JIT = ("C1 CompilerThre", "C2 CompilerThre")  # comm is cut to 15 chars

    def __init__(self, spark):
        self.me = os.getpid()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        task = f"/proc/{jvm_pid}/task"
        self.jit = [
            f"{task}/{tid}/stat" for tid in os.listdir(task)
            if _read(f"{task}/{tid}/comm").startswith(self.JIT)
        ]
        self.last: dict[int, int] = {}
        self.total = 0

    def seconds(self) -> float:
        parent, ticks = {}, {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    fields = _read(f"/proc/{pid}/stat").rsplit(")", 1)[1].split()
                except OSError:  # the process ended while we looked
                    continue
                parent[int(pid)] = int(fields[1])
                ticks[int(pid)] = sum(int(x) for x in fields[11:15])
        mine = {}
        for pid, t in ticks.items():
            p = pid
            while p > 1 and p != self.me:
                p = parent.get(p, 0)
            if p == self.me:
                mine[pid] = t
                self.total += t - self.last.get(pid, 0)
        self.last = mine
        jit = 0
        for path in self.jit:
            fields = _read(path).rsplit(")", 1)[1].split()
            jit += int(fields[11]) + int(fields[12])
        return (self.total - jit) / os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def start_spark(app: str):
    """Start the JVM and return ``(spark, cores)``."""
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    # Python workers import dust_spark kernels by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH", "")) if p
    )
    from pyspark.sql import SparkSession

    # keep Spark, JVM and Python scratch files inside the repository
    scratch = os.path.join(REPO, "perfbench", ".cache", "tmp")
    os.makedirs(scratch, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = scratch
    tempfile.tempdir = scratch
    cores = min(usable_cores(), MAX_CORES)
    driver_mib = max(1024, min(4096, available_mib() // 4))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", f"{driver_mib}m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # a fixed set of JIT compiler threads, so CpuMeter can leave them
        # out; no hsperfdata file in /tmp
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={scratch} -XX:-UseDynamicNumberOfCompilerThreads"
                " -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM (and its Python workers) exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class SparkCounters:
    """Per-job-group totals from the status store.

    A job group is set by the caller around each request or query
    (``SparkContext.setJobGroup`` applies to the calling thread); after
    the work ends, ``read(group)`` sums the group's stages.
    """

    # SQL metrics of the Python-exec operators (ArrowEvalPython,
    # MapInPandas, FlatMapGroupsInPandas, ...)
    ARROW = {
        "data sent to Python workers": "arrow_bytes_sent",
        "data returned from Python workers": "arrow_bytes_received",
    }

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = self.sc.statusTracker()

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def read(self, group: str, wall: tuple[float, float]) -> dict:
        """Totals for one job group. ``wall`` is the (start, end) epoch
        seconds of the work; the time in it not covered by a running
        stage is reported as ``driver_gap_ms``."""
        self.drain()
        out = dict.fromkeys((*SPARK_KEYS, *self.ARROW.values()), 0.0)
        spans: list[tuple[float, float]] = []
        stage_ids: set[int] = set()
        job_ids = set(self._tracker.getJobIdsForGroup(group))
        for jid in job_ids:
            out["jobs"] += 1
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        self._arrow(job_ids, out)
        for sid in stage_ids:
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # NoSuchElementException: no attempt recorded
                continue
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_ms"] += s.executorRunTime()
            out["executor_cpu_ms"] += s.executorCpuTime() / 1e6
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["gc_ms"] += s.jvmGcTime()
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        out["driver_gap_ms"] = 1e3 * max(0.0, (wall[1] - wall[0]) - _covered(spans, wall))
        return out

    def _arrow(self, job_ids: set[int], out: dict, recent: int = 16) -> None:
        """Add the Arrow-boundary bytes of the SQL executions that ran
        ``job_ids`` (searched among the ``recent`` latest executions)."""
        if not job_ids:
            return
        n = self._sql.executionsCount()
        execs = self._sql.executionsList(max(0, n - recent), recent)
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs = ex.jobs().keySet()
            if not any(jobs.contains(j) for j in job_ids):
                continue
            wanted = {}
            plan_metrics = ex.metrics()
            for k in range(plan_metrics.size()):
                pm = plan_metrics.apply(k)
                if pm.name() in self.ARROW:
                    wanted[pm.accumulatorId()] = self.ARROW[pm.name()]
            if not wanted:
                continue
            it = self._sql.executionMetrics(ex.executionId()).iterator()
            while it.hasNext():
                kv = it.next()  # (accumulator id, formatted value)
                key = wanted.get(kv._1())
                if key is not None:
                    out[key] += _size_bytes(kv._2())

    def cached(self) -> tuple[int, float]:
        """(number of cached RDDs, MiB they hold in memory and on disk)."""
        self.drain()
        rdds = self._store.rddList(True)
        n = rdds.size()
        used = sum(rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed() for i in range(n))
        return n, used / 2**20


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _size_bytes(text: str) -> float:
    """The total of a formatted size metric: "12.3 KiB" or, over several
    tasks, "total (min, med, max ...)\n12.3 KiB (...)"."""
    m = re.search(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)", text.replace(",", ""))
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


def _covered(spans: list[tuple[float, float]], wall: tuple[float, float]) -> float:
    """Length of the union of ``spans`` clipped to ``wall``."""
    total, end = 0.0, wall[0]
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, wall[1])
        if b > a:
            total += b - a
            end = b
    return total
