"""Raw host controls recorded beside every run, never used to normalize.

* ``sha256_probe``: single-thread sha256 over a fixed buffer (pure CPU, no
  engine code) — how fast this host's core was during the run.
* ``CpuSteal``: share of CPU time the hypervisor stole, from /proc/stat.
* ``peak_rss_mb``: high-water resident set of the driver JVM + this Python
  process, from /proc/<pid>/status (VmHWM).
"""

from __future__ import annotations

import hashlib
import os
import time

PROBE_MB = 64


def sha256_probe() -> float:
    buf = b"\xa5" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(PROBE_MB):
        h.update(buf)
    h.digest()
    return time.perf_counter() - t0


def _cpu_times() -> list[int] | None:
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
    except OSError:
        return None
    return [int(x) for x in parts[1:]]


class CpuSteal:
    """Steal share between construction and ``pct()``."""

    def __init__(self) -> None:
        self.start = _cpu_times()

    def pct(self) -> float:
        end = _cpu_times()
        if not self.start or not end or len(end) < 8:
            return 0.0
        delta = [b - a for a, b in zip(self.start, end)]
        total = sum(delta[:8])  # user..steal; guest time is inside user
        return 100.0 * delta[7] / total if total > 0 else 0.0


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    kb = _vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by this process and every live descendant: the driver JVM, the Python
    worker daemon and its workers. Time the hypervisor steals is not
    charged to processes, so this stays put when the host is contended."""
    stats: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                tail = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after "(comm)": state ppid ... utime(12) stime(13) cutime(14) cstime(15)
        stats[int(name)] = (int(tail[1]), sum(int(x) for x in tail[11:15]) / _TICK)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0.0))[1]
        todo.extend(children.get(pid, []))
    return total
