"""Host-side measurements taken around the timed iterations: host
contention (steal, load average against the cores this process may use)
and the resident memory of the Spark JVM plus its Python workers."""

from __future__ import annotations

import os
import threading


def nproc() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def cpu_counters() -> "list[int] | None":
    """Cumulative cpu jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal ..."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def contention(cpu0: "list[int] | None", ncpu: int) -> dict:
    """Steal and idle shares over the interval since ``cpu0`` was taken,
    the load average, and a ``contended`` flag when steal exceeds 1% or
    the 1-minute load exceeds 1.5 runnable threads per core (a run alone
    keeps the load near one per core)."""
    out: dict = {"ncpu": ncpu}
    try:
        with open("/proc/loadavg") as f:
            out["loadavg"] = [float(x) for x in f.read().split()[:3]]
    except OSError:
        out["loadavg"] = [0.0, 0.0, 0.0]
    cpu1 = cpu_counters()
    steal = 0.0
    if cpu0 and cpu1:
        d = [b - a for a, b in zip(cpu0, cpu1)]
        total = sum(d) or 1
        steal = 100 * d[7] / total if len(d) > 7 else 0.0
        out["cpu_pct"] = {"idle": round(100 * d[3] / total, 1),
                          "iowait": round(100 * d[4] / total, 1),
                          "steal": round(steal, 1)}
    out["contended"] = bool(steal > 1.0 or out["loadavg"][0] > 1.5 * ncpu)
    return out


def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return kids


def _status_kb(pid: int, field: str, name: str = "status") -> int:
    try:
        with open(f"/proc/{pid}/{name}") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith("python")
    except OSError:
        return False


def tree_rss_mb(root_pid: int) -> tuple[float, float]:
    """Resident MB of the JVM ``root_pid`` alone, and of it plus the Python
    processes below it (the workers). A worker's share is its proportional
    set size: forked from one daemon, the workers share most of their
    pages, which plain RSS would count once per worker. Other children
    (the JVM's short-lived spawn helpers share its address space while
    they start) are not counted."""
    own = _status_kb(root_pid, "VmRSS:")
    total, stack = own, _children(root_pid)
    while stack:
        pid = stack.pop()
        if _is_python(pid):
            total += _status_kb(pid, "Pss:", "smaps_rollup")
        stack.extend(_children(pid))
    return own / 1024.0, total / 1024.0


class RssSampler:
    """Samples the JVM process tree's RSS every ``interval`` seconds.
    ``take_peak`` returns the high-water marks since the last call: of the
    whole tree, and of the JVM alone."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid = root_pid
        self.interval = interval
        self._lock = threading.Lock()
        self._peak = (0.0, 0.0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            own, total = tree_rss_mb(self.root_pid)
            with self._lock:
                self._peak = (max(self._peak[0], total), max(self._peak[1], own))

    def take_peak(self) -> tuple[float, float]:
        with self._lock:
            peak, self._peak = self._peak, (0.0, 0.0)
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
