"""Host fitting and host-condition sampling for the benchmark.

The engine's session defaults target a 32-core / 125 GiB machine
(``spark.driver.memory`` 48g). The benchmark sizes Spark to the host it
runs on instead, through the engine's own environment overrides, so the
same settings apply to both sides of every comparison on one host.
"""

from __future__ import annotations

import os
import threading
import time

# Share of the host's memory given to the driver heap. The host is shared;
# the workloads fit in well under this.
_HEAP_SHARE = 8
_HEAP_CAP_MB = 8192


def _mem_limit_bytes() -> int:
    with open("/proc/meminfo") as fh:
        total = next(int(line.split()[1]) * 1024 for line in fh
                     if line.startswith("MemTotal:"))
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            raw = fh.read().strip()
        if raw != "max":
            total = min(total, int(raw))
    except (OSError, ValueError):
        pass
    return total


def fit_host(work_dir: str) -> dict:
    """Set the engine's resource overrides from this host and keep every
    temporary file inside ``work_dir``. Returns the chosen settings."""
    cores = len(os.sched_getaffinity(0))
    mem = _mem_limit_bytes()
    heap_mb = min(mem // (1024 * 1024) // _HEAP_SHARE, _HEAP_CAP_MB)
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        # JVM scratch (hsperfdata, java.io.tmpdir) stays in the checkout
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_SUBMIT_ARGS=("--conf spark.ui.showConsoleProgress=false "
                             f"--conf spark.sql.warehouse.dir={work_dir}/warehouse "
                             "pyspark-shell"),
    )
    return {"cores": cores, "mem_mb": mem // (1024 * 1024),
            "driver_heap_mb": heap_mb}


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process it
    started, counting children that have exited and been waited for."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def conditions(since: tuple[int, int]) -> dict:
    """CPU steal since ``since`` (a ``cpu_times()`` reading) and the load
    average: what else the host was doing during the run."""
    steal1, total1 = cpu_times()
    steal0, total0 = since
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {"steal_pct": round(100.0 * (steal1 - steal0)
                               / max(total1 - total0, 1), 3),
            "loadavg": load, "at": time.time()}


class RssSampler:
    """Background sampler of the summed RSS of every process this one
    started: the driver JVM and its Python workers."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            rss = sum(_rss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, rss)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, then wait for every
    process this one started (the JVM and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
