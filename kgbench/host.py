"""Host facts, result keys, the calibration loop and the memory sampler."""

from __future__ import annotations

import hashlib
import os
import platform
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
#: The trees whose source decides a result: the program and this benchmark.
CODE_DIRS = ("rdf_rdfxml_spark", "kgbench")


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def check_cores(cores: int) -> None:
    """Refuse a core count the process cannot actually run on."""
    have = usable_cpus()
    if cores < 1 or cores > have:
        raise SystemExit(f"kgbench: --cores {cores} but this process may use "
                         f"{have} CPUs (sched_getaffinity); refusing to run")


def meminfo_kb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, value = line.split(":", 1)
            out[key] = int(value.split()[0])
    return out


def driver_memory_mb() -> int:
    """A quarter of physical memory, between 1 and 8 GiB."""
    total_mb = meminfo_kb()["MemTotal"] // 1024
    return max(1024, min(8192, total_mb // 4))


def code_hash(root: Path = ROOT) -> str:
    """sha256 over repo-relative paths and contents of the Python sources,
    so the same tree gives the same hash wherever it is checked out."""
    h = hashlib.sha256()
    for top in CODE_DIRS:
        for p in sorted((root / top).rglob("*.py")):
            if "__pycache__" in p.parts:
                continue
            h.update(p.relative_to(root).as_posix().encode() + b"\0")
            h.update(p.read_bytes() + b"\0")
    return h.hexdigest()


def result_key(workload: str, seed: int, cores: int) -> str:
    return f"{code_hash()[:16]}/{workload}/seed{seed}/cores{cores}"


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class StealMeter:
    """Share of CPU time stolen by the hypervisor between start and read."""

    def __init__(self):
        self.start = _cpu_times()

    def share(self) -> float:
        d = [b - a for a, b in zip(self.start, _cpu_times())]
        total = sum(d[:8])
        return d[7] / total if total else 0.0


def facts(cores: int) -> dict:
    import pyarrow
    import pyspark
    return {
        "nproc": os.cpu_count(),
        "usable_cpus": usable_cpus(),
        "cores": cores,
        "loadavg": os.getloadavg(),
        "mem_total_mb": meminfo_kb()["MemTotal"] // 1024,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "kernel": platform.release(),
    }


def calib_ms(n: int = 200_000) -> float:
    """One short single-thread loop; a host-speed probe, never a divisor."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i % 7
    return (time.perf_counter() - t) * 1e3


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry.name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _rss_mb(pids: list[int]) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * page / 2 ** 20


class MemorySampler:
    """Summed RSS of the JVM and its Python workers, sampled every
    ``period`` seconds; the process tree is re-read once a second."""

    def __init__(self, jvm_pid: int, period: float = 0.1):
        self.jvm_pid = jvm_pid
        self.period = period
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def lap(self) -> float:
        """The peak since the previous lap."""
        with self._lock:
            peak, self._peak = self._peak, 0.0
        return peak

    def _run(self):
        pids, refreshed = [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - refreshed >= 1.0:
                pids, refreshed = _descendants(self.jvm_pid), now
            rss = _rss_mb(pids)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


class HeapPeak:
    """Peak JVM heap in use between ``reset`` and ``read_mb``: the sum of
    the peak usage of the heap pools that hold what survives a collection.
    The eden pool is left out: its peak is the collector's current nursery
    size, which it resizes from run to run, not data the program holds."""

    def __init__(self, jvm):
        self.jvm = jvm
        mf = jvm.java.lang.management.ManagementFactory
        self.pools = [p for p in mf.getMemoryPoolMXBeans()
                      if str(p.getType().toString()) == "Heap memory"
                      and "Eden" not in str(p.getName())]

    def collect(self):
        """Two full collections: the second settles the heap's size."""
        self.jvm.java.lang.System.gc()
        self.jvm.java.lang.System.gc()

    def reset(self):
        for p in self.pools:
            p.resetPeakUsage()

    def read_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self.pools) / 2 ** 20
