"""Outside-in measurement: Spark status-store counters, process-tree
RSS and CPU from ``/proc``, host state, and in-memory spans.

Nothing here changes the program under test.  Counters come from the
two status stores Spark keeps whether or not its UI runs: the app store
(per-stage task run time, CPU, GC, input, shuffle and spill bytes,
failed tasks) and the SQL store (per-operator metrics such as the Python
worker timings and byte counts).
"""

from __future__ import annotations

import os
import platform
import threading
import time
from dataclasses import dataclass, field

_SCALE = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
}

# task counters summed over finished stages
CUMULATIVE = ("run_s", "cpu_s", "gc_s", "input_bytes", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "failed_tasks")

# SQL metrics summed per query, by display name -> counter key
SQL_COUNTERS = {
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
    "number of output rows": "output_rows",
    "size of files read": "files_read_bytes",
    "number of files read": "files_read",
}


def parse_metric(text: str) -> float:
    """A SQL metric's display string -> bytes, seconds or a count.
    Aggregated metrics read ``total (min, med, max ...)\\n4.6 MiB (...)``;
    the total is the first figure of the last line."""
    figure = text.strip().splitlines()[-1].split(" (")[0].split()
    value = float(figure[0].replace(",", ""))
    return value * _SCALE[figure[1]] if len(figure) > 1 else value


class SparkCounters:
    """Cumulative counters of one SparkSession, read between actions."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_queries = 0
        self._last_stage = -1
        self._totals = dict.fromkeys(CUMULATIVE, 0.0)
        self._jvm = spark.sparkContext._jvm
        self._no_quantiles = spark.sparkContext._gateway.new_array(self._jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the stores reflect all finished actions."""
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def stages(self) -> dict[str, float]:
        """Task counters summed over every stage finished so far (the
        list is newest first; stages already counted are skipped)."""
        listed = self._sc.statusStore().stageList(None, False, False, self._no_quantiles, None)
        newest = self._last_stage
        for i in range(listed.size()):
            st = listed.apply(i)
            if st.stageId() <= self._last_stage:
                break
            newest = max(newest, st.stageId())
            t = self._totals
            t["run_s"] += st.executorRunTime() / 1000.0
            t["cpu_s"] += st.executorCpuTime() / 1e9
            t["gc_s"] += st.jvmGcTime() / 1000.0
            t["input_bytes"] += st.inputBytes()
            t["shuffle_write_bytes"] += st.shuffleWriteBytes()
            t["shuffle_read_bytes"] += st.shuffleReadBytes()
            t["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            t["failed_tasks"] += st.numFailedTasks()
        self._last_stage = newest
        return dict(self._totals)

    def new_queries(self) -> dict[str, float]:
        """SQL counters summed over the queries finished since the last
        call, plus their count and summed duration (``job_s``)."""
        total = self._sql.executionsCount()
        out = dict.fromkeys(SQL_COUNTERS.values(), 0.0)
        out["queries"] = float(total - self._seen_queries)
        out["job_s"] = 0.0
        if total > self._seen_queries:
            execs = self._sql.executionsList(self._seen_queries, total - self._seen_queries)
            for i in range(execs.size()):
                e = execs.apply(i)
                done = e.completionTime()
                if done.isDefined():
                    out["job_s"] += (done.get().getTime() - e.submissionTime()) / 1000.0
                names = {}
                metrics = e.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    if m.name() in SQL_COUNTERS:
                        names[m.accumulatorId()] = SQL_COUNTERS[m.name()]
                values = self._sql.executionMetrics(e.executionId())
                for acc, key in names.items():
                    v = values.get(acc)
                    if v.isDefined():
                        out[key] += parse_metric(v.get())
        self._seen_queries = total
        return out

    def snapshot(self) -> dict[str, float]:
        self.drain()
        return {**self.stages(), **self.new_queries()}

    def task_cpu_s(self) -> float:
        """CPU seconds of every task finished so far (Spark's
        ``executorCpuTime``): the executor threads only, not the JVM's
        compiler, GC or driver threads."""
        self.drain()
        return self.stages()["cpu_s"]

    def heap_committed_bytes(self) -> int:
        """Heap the JVM has committed.  The session starts the JVM with
        ``-Xms`` equal to ``-Xmx`` and pre-touched, so this much of its
        RSS is heap from the start."""
        return int(self._jvm.java.lang.management.ManagementFactory
                   .getMemoryMXBean().getHeapMemoryUsage().getCommitted())


def delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    """Stage counters are cumulative; query counters already are
    per-interval (``new_queries`` resets on each call)."""
    return {k: v - before.get(k, 0.0) if k in CUMULATIVE else v for k, v in after.items()}


# -- processes ---------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds, rss bytes) for every visible process.
    CPU counts the process's own time and that of its children it has
    reaped, so Python workers that exited are still counted."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        out[int(name)] = (int(fields[1]),
                          sum(map(int, fields[11:15])) / _TICK,
                          int(fields[21]) * _PAGE)
    return out


def tree(root: int) -> dict[int, tuple[int, float, int]]:
    """``root`` and all its descendants."""
    table = _proc_table()
    keep, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in table and pid not in keep:
            keep[pid] = table[pid]
            frontier.extend(p for p, row in table.items() if row[0] == pid)
    return keep


def cpu_seconds(pid: int) -> float:
    """CPU seconds of one process (and its reaped children)."""
    row = _proc_table().get(pid)
    return row[1] if row else 0.0


def tree_cpu_seconds(root: int) -> float:
    """CPU seconds of ``root`` and all its descendants: for the driver
    JVM, the JVM itself and the Python workers it forks."""
    return sum(row[1] for row in tree(root).values())


def worker_cpu_seconds(jvm: int) -> float:
    """CPU seconds of the Python workers the driver JVM forks: its
    descendants, without the JVM itself."""
    return sum(row[1] for pid, row in tree(jvm).items() if pid != jvm)


class RssSampler:
    """Samples, on a background thread, the RSS of the driver JVM and of
    the Python workers it forks (its descendants); keeps the peaks of
    the JVM alone, of the workers together, and of their sum."""

    def __init__(self, jvm: int, interval_s: float = 0.2):
        self.jvm = jvm
        self.interval_s = interval_s
        self.peak = {"total": 0, "jvm": 0, "workers": 0}
        self.peak_processes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            procs = tree(self.jvm)
            jvm = procs[self.jvm][2] if self.jvm in procs else 0
            total = sum(row[2] for row in procs.values())
            if total > self.peak["total"]:
                self.peak["total"], self.peak_processes = total, len(procs)
            self.peak["jvm"] = max(self.peak["jvm"], jvm)
            self.peak["workers"] = max(self.peak["workers"], total - jvm)
            self.samples += 1
            self._stop.wait(self.interval_s)

    def mb(self) -> dict[str, float]:
        return {k: v / 2 ** 20 for k, v in self.peak.items()}

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) * 1024 for line in f
                    if line.startswith("MemTotal:"))


def host_state(spark=None) -> dict:
    """Load, memory and versions, recorded beside a run (not a metric)."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, val = line.split(":", 1)
            if key in ("MemTotal", "MemAvailable"):
                mem[key] = int(val.split()[0]) * 1024
    out = {"loadavg": load, "nproc": os.cpu_count(), "mem_bytes": mem,
           "python": platform.python_version()}
    if spark is not None:
        out["spark"] = spark.version
        out["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    return out


# -- spans (kept in memory, written with the run record) ----------------------

@dataclass
class Span:
    name: str
    trace: int               # the execution the span belongs to
    parent: str | None
    start: float
    end: float
    counters: dict[str, float] = field(default_factory=dict)
    estimate: bool = False   # self time derived from plan prefixes

    def record(self) -> dict:
        return {**self.__dict__, "duration_s": self.end - self.start}


now = time.perf_counter
