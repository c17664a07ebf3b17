"""Process-tree resource sampling, host labels and the percentile rule.

Everything here reads ``/proc`` directly (psutil is not a dependency of the
engine), so the benchmark can count the JVM and the Python workers that
Spark forks as part of the cost of the process it measures.
"""

from __future__ import annotations

import math
import os
import platform
import subprocess
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def percentile_with_tail(values: list[float], q: float, min_beyond: int = 10) -> float | None:
    """The ``q`` quantile (0 < q < 1) of ``values``, or None when fewer than
    ``min_beyond`` samples lie beyond it.

    A high percentile is only reported when at least ten samples sit above
    it; with 120 samples the p95 rests on six points and is withheld.
    Nearest-rank on the sorted samples: rank ``ceil(q * n)``.
    """
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def _read_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant, found through the ppid field."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _read_stat(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the process tree, including children
    that already exited and were reaped (``cutime``/``cstime``)."""
    ticks = 0
    for pid in process_tree(root or os.getpid()):
        fields = _read_stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def tree_rss_mb(root: int | None = None, min_age_s: float = 1.0) -> float:
    """Resident MiB of the process tree, leaving out processes younger than
    ``min_age_s``. The JVM starts helpers (``chmod``, ``ls``) through a
    vfork-style spawn; until the helper execs, its RSS reads as the whole
    JVM's, and counting it would double the JVM."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    pages = 0
    for pid in process_tree(root or os.getpid()):
        fields = _read_stat(pid)
        # starttime (field 22) in clock ticks since boot; rss is field 24
        if fields is not None and uptime - int(fields[19]) / _CLK_TCK >= min_age_s:
            pages += int(fields[21])
    return pages * _PAGE / 2**20


class RssSampler:
    """Background thread keeping the peak process-tree RSS."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total else 0.0


def host_labels() -> dict:
    """What a reader needs to judge a run made on a shared box."""
    import pyspark

    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
        # skip the JVM's "Picked up JAVA_TOOL_OPTIONS" notice
        java = next(
            line for line in (out.stderr or out.stdout).splitlines()
            if not line.startswith("Picked up")
        )
    except (OSError, subprocess.SubprocessError, StopIteration):
        java = "unknown"
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
    }


class HostWindow:
    """Loadavg and CPU steal over a stretch of the run."""

    def __enter__(self) -> "HostWindow":
        self.load_before = os.getloadavg()
        self.cpu_before = cpu_times()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.load_after = os.getloadavg()
        self.cpu_after = cpu_times()
        self.wall_s = time.perf_counter() - self.t0

    def labels(self) -> dict:
        return {
            "host.loadavg_1m": [round(self.load_before[0], 2), round(self.load_after[0], 2)],
            "host.steal_pct": round(steal_pct(self.cpu_before, self.cpu_after), 2),
        }
