"""Host stamp and process-tree memory sampling.

A result is only comparable with another taken on the same kind of host
with the same software; ``IDENTITY_KEYS`` names the stamp fields that must
match (compare.py refuses otherwise). Load average and revision are
recorded but are not identity: the revision is what a comparison varies.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import threading
from pathlib import Path

IDENTITY_KEYS = (
    "nproc", "mem_total_kb", "python", "pyspark", "java", "udf_tasks", "env",
)
_ENV_KEYS = (
    "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
    "MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_", "MALLOC_TOP_PAD_",
)


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of all CPUs since boot, from /proc/stat. On a
    virtual machine, steal is time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def source_rev(root: Path) -> dict:
    """The git revision when the tree is a checkout, and always a hash of
    the engine and benchmark sources (an exported tree has no .git)."""
    h = hashlib.sha256()
    for sub in ("dedup_spark", "perfbench"):
        for p in sorted((root / sub).rglob("*.py")):
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    rev = None
    if (root / ".git").exists():
        try:
            rev = subprocess.run(
                ["git", "-C", str(root), "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            rev = None
    return {"git_rev": rev, "source_sha256": h.hexdigest()[:16]}


def host_stamp(spark, root: Path) -> dict:
    """Everything a reader needs to tell two hosts or setups apart. Taken
    after the session started, so the env shows the pinning it applied."""
    import pyspark

    from dedup_spark.session import py_parallelism

    return {
        "nproc": os.cpu_count(),
        "mem_total_kb": mem_total_kb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "udf_tasks": py_parallelism(spark),
        "env": {k: os.environ.get(k) for k in _ENV_KEYS},
        **source_rev(root),
    }


def _tree_rss_kb(root_pid: int) -> int:
    """Summed VmRSS of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = pages
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0) * page_kb
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the benchmark's process tree (Python driver, JVM, Python UDF
    workers) every ``interval`` seconds on a daemon thread; ``peak_mb()``
    returns the largest sum seen since the last ``reset()``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self._peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.interval):
            kb = _tree_rss_kb(pid)
            with self._lock:
                self._peak_kb = max(self._peak_kb, kb)

    def reset(self) -> None:
        with self._lock:
            self._peak_kb = _tree_rss_kb(os.getpid())

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak_kb / 1024

