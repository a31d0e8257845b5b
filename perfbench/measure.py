"""Statistics, memory and host-stamp helpers shared by the benchmark
and its tools. Stdlib only, so the self-tests run without Spark."""

from __future__ import annotations

import glob
import math
import os
import platform
import re
import statistics
import subprocess
import sys
import threading
import time

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

# The highest percentile a timing may be reported at must leave at
# least this many samples above it.
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile (0 < p < 100) of ``values``.

    Refuses a percentile with fewer than ``MIN_BEYOND`` samples above
    it: a p90 needs at least 100 samples, a p50 at least 20."""
    if not 0 < p < 100:
        raise ValueError(f"percentile must be in (0, 100), got {p}")
    n = len(values)
    beyond = math.floor(n * (100 - p) / 100)
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{p:g} of {n} samples leaves {beyond} beyond it; "
            f"needs at least {MIN_BEYOND}"
        )
    ordered = sorted(values)
    return ordered[max(0, math.ceil(n * p / 100) - 1)]


def highest_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest tail percentile (p99/p95/p90/p75)
    that ``percentile`` accepts for this many samples, or None."""
    for p in (99, 95, 90, 75):
        try:
            return p, percentile(values, p)
        except ValueError:
            continue
    return None


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


# -- host ------------------------------------------------------------------


def cpu_times() -> tuple[int, int]:
    """(all jiffies, steal jiffies) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    vals = [int(x) for x in fields]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float | None:
    total, steal = end[0] - start[0], end[1] - start[1]
    return round(100.0 * steal / total, 3) if total > 0 else None


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _parents() -> dict[int, int]:
    """pid -> parent pid for every process visible in /proc."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    # the command name may hold spaces; ppid follows ')'
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
                continue
    return parent


def process_tree(pid: int | None = None, parent: dict[int, int] | None = None) -> list[int]:
    """``pid`` (default: this process) and all its live descendants."""
    parent = _parents() if parent is None else parent
    tree, todo = [], [pid or os.getpid()]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo += [c for c, pp in parent.items() if pp == p]
    return tree


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except (FileNotFoundError, ProcessLookupError):
        return ""


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def resident_kb() -> int:
    """Resident memory of this process, the JVM it launched and the
    PySpark worker processes. Workers are forks of one daemon and share
    pages with it, so they count by proportional set size (Pss); other
    short-lived children (a JVM forking a shell) are left out, since
    until they exec they show the whole JVM as resident."""
    me = os.getpid()
    parent = _parents()
    total = _status_kb(me, "VmRSS")
    for p in process_tree(me, parent)[1:]:
        cmd = _cmdline(p)
        if parent.get(p) == me and cmd.split(" ", 1)[0].endswith("java"):
            total += _status_kb(p, "VmRSS")
        elif "pyspark.daemon" in cmd:
            total += _pss_kb(p)
    return total


class RssSampler:
    """Peak of ``resident_kb()`` (the driver Python, the JVM and its
    Python workers together), sampled every ``interval`` seconds by a
    daemon thread between ``start()`` and ``stop()``. Python workers
    come and go, so a sum read once at the end would count whichever
    happen to be alive."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, resident_kb())

    def _run(self) -> None:
        while not self._done.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; the peak in MB."""
        self._done.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


_CALIBRATION_LOOP = """
import time
def loop():
    total = 0
    for i in range(1_000_000):
        total += i
t0 = time.perf_counter()
loop()
print((time.perf_counter() - t0) * 1000.0)
"""


def cpu_calibration_ms(cpus: int) -> float:
    """Milliseconds the slowest of ``cpus`` processes takes to run a
    fixed pure-Python loop, all at once: how much CPU the host really
    gives this run (a co-tenant on the same cores or a CPU quota), which
    steal does not always show. Recorded only."""
    procs = [subprocess.Popen([sys.executable, "-c", _CALIBRATION_LOOP],
                              stdout=subprocess.PIPE, text=True) for _ in range(cpus)]
    return round(max(float(p.communicate(timeout=60)[0]) for p in procs), 2)


def git_sha(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def newest_mtime(data_dir: str) -> str:
    mtimes = [
        os.stat(p).st_mtime
        for p in glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
    ]
    if not mtimes:
        return "none"
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(max(mtimes)))


def host_stamp(root: str, seed: int, cpus: int, steal: float | None, calibration_ms: float,
               data_dir: str, spark_version: str) -> dict:
    return {
        "cpus": cpus,
        "steal_pct": steal,
        "cpu_calibration_ms": calibration_ms,
        "git_sha": git_sha(root),
        "spark_version": spark_version,
        "python_version": platform.python_version(),
        "testdata_generation": newest_mtime(data_dir),
        "seed": seed,
    }


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``; (0, 0) when it does not exist."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
                files += 1
            except FileNotFoundError:
                continue
    return total, files
