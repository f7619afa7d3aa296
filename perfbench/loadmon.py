"""Load context of a measurement window, measured the way ``bench.py``'s
``LoadMonitor`` does it (copied so the benchmark stands on its own).

Machine-wide busy CPU over the window is split into this benchmark's own
use (the Spark JVM plus this Python process) and everything else.
``cotenant_cores`` above ~1 core or ``steal_cores`` above ~0.4 means the
window ran under external load.
"""

from __future__ import annotations

import os

#: thresholds above which a window counts as loaded (bench.py's values)
STEAL_THRESHOLD = 0.4
COTENANT_THRESHOLD = 1.0


def _read_proc_stat() -> tuple[float, float, float]:
    """(total, busy, steal) jiffies machine-wide, from /proc/stat line 1."""
    with open("/proc/stat") as fh:
        vals = [float(x) for x in fh.readline().split()[1:]]
    total = sum(vals)
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0.0)  # idle + iowait
    steal = vals[7] if len(vals) > 7 else 0.0
    return total, total - idle, steal


def _read_pid_jiffies(pid: int) -> float:
    """utime+stime jiffies of one process, its threads included."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            parts = fh.read().rsplit(")", 1)[1].split()
        return float(parts[11]) + float(parts[12])
    except OSError:
        return 0.0


class LoadMonitor:
    def __init__(self, pids: list[int]) -> None:
        self._pids = [p for p in pids if p]
        self._ncpu = os.cpu_count() or 1

    def start(self) -> tuple:
        total, busy, steal = _read_proc_stat()
        return (total, busy, steal, sum(_read_pid_jiffies(p) for p in self._pids))

    def finish(self, token: tuple) -> dict:
        t0, b0, st0, s0 = token
        total, busy, steal = _read_proc_stat()
        self_j = sum(_read_pid_jiffies(p) for p in self._pids)
        dt = max(total - t0, 1e-9) / self._ncpu  # jiffies -> per-cpu ticks
        busy_cores = (busy - b0) / dt
        self_cores = (self_j - s0) / dt
        ctx = {
            "load1": round(os.getloadavg()[0], 2),
            "busy_cores": round(busy_cores, 2),
            "self_cores": round(self_cores, 2),
            "cotenant_cores": round(max(busy_cores - self_cores, 0.0), 2),
            "steal_cores": round((steal - st0) / dt, 2),
        }
        ctx["loaded"] = (
            ctx["steal_cores"] > STEAL_THRESHOLD
            or ctx["cotenant_cores"] > COTENANT_THRESHOLD
        )
        return ctx


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise OSError(f"no VmHWM for pid {pid}")
