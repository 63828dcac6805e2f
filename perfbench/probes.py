"""Measuring instruments the benchmark runs beside the engine: the Spark
session it drives, the process-tree memory sampler, the SQL status-store
reader for per-node metrics, and the host facts of the detail line."""
from __future__ import annotations

import os
import re
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# fixed driver heap: -Xms = -Xmx, so heap resizing adds no drift or noise
DRIVER_HEAP = "1g"


def task_slots() -> int:
    """Spark gets at most half of the CPUs this process may run on."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def start_spark(work: str):
    """A local session through the engine's own ``get_spark``, with every
    scratch path (Spark local dirs, JVM and Python temp files) inside
    ``work`` and a fixed driver heap sized for the small inputs used
    here."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the engine by module path
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    from docext_spark.session import get_spark
    return get_spark(
        app_name="docext_spark_perfbench", master=f"local[{task_slots()}]",
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_HEAP} "
                "-XX:+AlwaysPreTouch -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })


def stop_spark(spark, timeout_s: float = 60.0):
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()   # the launcher exits when its stdin closes
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile (p90 of 100 samples leaves 10 above it)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s))) - 1))]


# -- memory -----------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command field may hold spaces; ppid follows its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants (the
    benchmark, the JVM and the Python workers)."""
    kids = _children_map()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the process tree's resident memory on a thread. The peak is
    taken over the median of three consecutive samples, so a one-sample
    spike does not set it: a process caught while it is being spawned can
    report its parent's pages (one run read 3.2 GB against ~2.0 GB)."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        last: list[int] = []
        while not self._stop.is_set():
            last = (last + [tree_rss_bytes(os.getpid())])[-3:]
            self.peak = max(self.peak, sorted(last)[len(last) // 2])
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# -- SQL status store ---------------------------------------------------------

_UNITS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
          "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10,
          "TiB": 2**20}
_QTY = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")


def metric_total(text: str) -> float:
    """The total of a formatted SQL metric, times in ms and sizes in MiB:
    ``'total (min, med, max ...)\\n5.7 s (2.8 s, ...)'`` reads 5700.0."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _QTY.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class StatusStore:
    """Per-node metrics of finished SQL executions (the store keeps them
    with the UI disabled)."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()

    def count(self) -> int:
        return self._store.executionsCount()

    def metrics_since(self, start: int) -> list[dict[str, float]]:
        """One {metric name: total} per execution from index ``start``;
        a metric shared by several plan nodes is summed once per node."""
        n = self.count()
        out = []
        lst = self._store.executionsList(start, n - start)
        for i in range(lst.size()):
            eid = lst.apply(i).executionId()
            values = self._store.executionMetrics(eid)
            sums: dict[str, float] = {}
            seen = set()
            nodes = self._store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                ms = nodes.apply(j).metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    acc = m.accumulatorId()
                    v = values.get(acc)
                    if acc in seen or not v.isDefined():
                        continue
                    seen.add(acc)
                    sums[m.name()] = sums.get(m.name(), 0.0) + \
                        metric_total(v.get())
            out.append(sums)
        return out


def summed(execs: list[dict[str, float]], name: str) -> float:
    return sum(e.get(name, 0.0) for e in execs)


# -- host facts ---------------------------------------------------------------

def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_facts() -> dict:
    from bench import read_load, read_psi_cpu
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": os.cpu_count(),
            "affinity": sorted(os.sched_getaffinity(0)),
            "mem_total_mb": mem_kb // 1024,
            "load5": read_load()[1],
            "psi_cpu_avg60": read_psi_cpu(),
            "task_slots": task_slots()}


def wait_until(pred, timeout_s: float, poll_s: float = 0.02) -> bool:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if pred():
            return True
        time.sleep(poll_s)
    return pred()
