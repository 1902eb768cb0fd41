"""Spark session lifecycle and the process-tree CPU and memory monitor.

Everything the session writes (shuffle scratch, JVM temp files, the
warehouse, the event log) goes under the run directory, which lives inside
the checkout the benchmark runs from.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def _warm_fn(batches):
    # import the package's kernels in every Python worker so the first timed
    # crossing does not pay the worker start and the numpy/pandas imports
    import geojson_vt_spark.plans.pyramid  # noqa: F401

    yield from batches


def start_session(run_dir: str, trace: bool, driver_memory: str = "2g"):
    """local[nproc] session confined to run_dir. Returns (spark, event_log_dir)."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    events = os.path.join(run_dir, "eventlog")
    for d in (tmp, events, os.path.join(run_dir, "local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    cpus = cpu_count()
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(run_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        )
    )
    if trace:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", events)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, events


def warm_workers(spark) -> None:
    n = cpu_count()
    spark.range(8 * n, numPartitions=n).mapInPandas(_warm_fn, "id long").collect()


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _tree(root_pid: int) -> list:
    """(pid, stat fields after the command, statm fields) of root_pid and
    its descendants."""
    children: dict = {}
    procs: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{entry}/statm") as f:
                statm = f.read().split()
        except (OSError, IndexError):
            continue  # process exited between listdir and read
        pid = int(entry)
        children.setdefault(int(stat[1]), []).append(pid)
        procs[pid] = (stat, statm)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append((pid, *procs[pid]))
        todo.extend(children.get(pid, ()))
    return out


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot (0 where the kernel does not report it)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    steal = int(fields[8]) if len(fields) > 8 else 0
    return steal / os.sysconf("SC_CLK_TCK")


class TreeMonitor:
    """Peak resident memory and CPU time of this process and all its
    descendants (the JVM and the Python workers), read from /proc by a
    sampling thread and on every cpu_s() call.

    CPU is the sum, over every process ever seen in the tree, of its own
    user + system time when last read. A process that exits keeps what it
    was last seen with: Spark's Python worker daemon does not wait for the
    workers it replaces, so their time never reaches a parent's child-time
    fields, and a tree total read only from live processes would drop a
    worker's whole lifetime of CPU from the op it exits in. What is missed
    is a process's last `interval` seconds before it exits, and processes
    shorter than that. Time the hypervisor stole from the guest is not in it."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._cpu: dict = {}  # (pid, start time) -> CPU seconds at last read
        self._lock = threading.Lock()
        self._tick = os.sysconf("SC_CLK_TCK")
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        procs = _tree(os.getpid())
        with self._lock:
            rss = 0
            for pid, stat, statm in procs:
                # after the command: utime, stime at 11-12, start time at 19
                self._cpu[(pid, stat[19])] = (int(stat[11]) + int(stat[12])) / self._tick
                rss += int(statm[1]) * self._page_kb
            self.peak_kb = max(self.peak_kb, rss)

    def cpu_s(self) -> float:
        self._sample()
        with self._lock:
            return sum(self._cpu.values())

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "TreeMonitor":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
