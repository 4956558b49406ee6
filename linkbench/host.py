"""Fit the Spark session to the host from the benchmark side, and sample
the memory of the benchmark's process tree.

The library's session factory reads its sizing from the environment
(`SPARK_GRAFT_CPUS`, `SPARK_DRIVER_MEM`, `SPARK_GC_XMN`); without them it
assumes a large host (24g heap).  `fit_host` derives them from the cores
this process may run on and from MemTotal, and points every scratch
directory (Spark local dirs, the event log, Python and JVM temp files)
under the benchmark's work directory.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

# heap = MemTotal / HEAP_SHARE, within [HEAP_MIN_MB, HEAP_MAX_MB]: the
# host is shared, and the pipeline at benchmark sizes needs ~1-2 GB
HEAP_SHARE = 5
HEAP_MIN_MB = 1024
HEAP_MAX_MB = 8192


@dataclass(frozen=True)
class Host:
    cores: int
    mem_total_mb: int
    driver_mem_mb: int
    young_gen_mb: int
    work_dir: str
    local_dir: str
    python_path: str

    def describe(self) -> dict:
        return {
            "cores": self.cores,
            "mem_total_mb": self.mem_total_mb,
            "SPARK_DRIVER_MEM": f"{self.driver_mem_mb}m",
            "SPARK_GC_XMN": f"{self.young_gen_mb}m",
            "SPARK_LOCAL_DIRS": self.local_dir,
            "PYTHONPATH": self.python_path,
        }


def mem_total_mb(meminfo: str = "/proc/meminfo") -> int:
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"no MemTotal in {meminfo}")


def fit_host(root: str, work_dir: str) -> Host:
    """Resolve the session sizing and export it (plus scratch dirs and
    PYTHONPATH) into this process's environment, which the JVM and its
    Python workers inherit.  Call before the session starts."""
    cores = len(os.sched_getaffinity(0))
    total = mem_total_mb()
    heap = max(HEAP_MIN_MB, min(HEAP_MAX_MB, total // HEAP_SHARE))
    # the session's default young gen (2g) assumes a big heap; keep the
    # same shape (young gen well under the heap) at any size
    young = heap // 3
    local_dir = os.path.join(work_dir, "spark-local")
    tmp_dir = os.path.join(work_dir, "tmp")
    for d in (local_dir, tmp_dir):
        os.makedirs(d, exist_ok=True)
    python_path = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_DRIVER_MEM": f"{heap}m",
            "SPARK_GC_XMN": f"{young}m",
            "SPARK_LOCAL_DIRS": local_dir,
            "TMPDIR": tmp_dir,
            # the JVM's temp files, and no hsperfdata file in /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
            # Python workers import the pipeline's UDF modules by name
            "PYTHONPATH": python_path,
        }
    )
    return Host(cores, total, heap, young, work_dir, local_dir, python_path)


def _children(pid: int) -> list[int]:
    # each thread lists the children it forked (the JVM starts the
    # Python worker daemon from a non-main thread)
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _rss_pss_kb(pid: int) -> tuple[int, int]:
    rss = pss = 0
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Rss:"):
                rss = int(line.split()[1])
            elif line.startswith("Pss:"):
                pss = int(line.split()[1])
    return rss, pss


def tree_pss_mb(root_pid: int) -> float:
    """Summed proportional set size (PSS) of a process and all its
    descendants.  PSS splits each shared page among the processes that
    map it, so the copy-on-write pages the forked Python workers share
    with their daemon count once, not once per worker as summed RSS
    would count them.  A child that still shares its parent's address
    space (a vfork child before exec, as the JVM spawns helpers) reads
    the parent's figures and is skipped; a forked child never does, as
    its PSS is at most half its parent's at the fork."""
    total, stack = 0, [(root_pid, (0, 0))]
    while stack:
        pid, (p_rss, p_pss) = stack.pop()
        try:
            rss, pss = _rss_pss_kb(pid)
        except OSError:
            continue  # exited between listing and reading
        if not (abs(rss - p_rss) <= 0.02 * p_rss and abs(pss - p_pss) <= 0.02 * p_pss):
            total += pss
        stack.extend((c, (rss, pss)) for c in _children(pid))
    return total / 1024


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of a process and all its descendants,
    including exited children they have reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                # fields after the parenthesised command name; utime is
                # field 14 of stat(5), so index 11 here
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited between listing and reading
        total += sum(int(x) for x in fields[11:15])
        stack.extend(_children(pid))
    return total / tick


class MemSampler:
    """Background sampler of `tree_pss_mb(os.getpid())`; `peak_mb` is the
    highest sample between `start()` and `stop()`."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_pss_mb(pid))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "MemSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb
