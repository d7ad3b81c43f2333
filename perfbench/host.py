"""Fitting the run to the host, and what the run records about it."""

from __future__ import annotations

import os
import threading

# BLAS/OpenMP pools pinned to one thread: Spark already runs one task per
# core, and a pool per Python worker would oversubscribe the host
BLAS_THREAD_VARS = (
    "OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS",
)
DRIVER_MEM_CAP_MB = 2048


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb() -> int:
    """A third of RAM, at most 2 GiB: the driver JVM holds the whole local
    executor, and the Python workers need the rest."""
    return min(DRIVER_MEM_CAP_MB, mem_total_mb() // 3)


def worker_env(base: dict[str, str]) -> dict[str, str]:
    env = dict(base)
    for var in BLAS_THREAD_VARS:
        env[var] = "1"
    return env


def spark_conf(state: str, event_log: str | None) -> dict[str, str]:
    """Session settings beyond the package's defaults: host-sized memory,
    every scratch file inside the benchmark's state directory, no console
    progress bar, and (traced runs only) an uncompressed event log."""
    tmp = os.path.join(state, "tmp")
    mem = driver_mem_mb()
    conf = {
        # a fixed-size heap: no heap-growth decisions that differ run to run
        "spark.driver.memory": f"{mem}m",
        "spark.local.dir": os.path.join(state, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(state, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{mem}m -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    return conf


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def versions() -> dict[str, str]:
    import platform

    import numpy
    import pyarrow
    import pyspark

    return {"python": platform.python_version(), "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__}


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared by the forked Python workers are
    split between them instead of counted once per process."""
    with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory_bytes(root: int) -> int:
    """Memory of ``root`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except (OSError, ValueError):
            continue  # the process ended between the listing and the read
    return total


class PeakRss:
    """Samples the process tree's memory on a background thread;
    ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
