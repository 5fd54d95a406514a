"""Host record and process memory, read from /proc."""

from __future__ import annotations

import os


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor took between two `cpu_jiffies`
    readings, in percent."""
    return 100.0 * (after[0] - before[0]) / max(1, after[1] - before[1])


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise OSError(f"no VmHWM for pid {pid}")


def process_age_s() -> float:
    """Seconds since this process started (from /proc/self/stat)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat.rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class HostRecord:
    """Records nproc, memory, load and steal share over a run."""

    def __init__(self) -> None:
        self.load_before = os.getloadavg()
        self._jiffies = cpu_jiffies()

    def finish(self, **extra) -> dict:
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": round(_meminfo_kb("MemTotal") / 1024),
            "steal_pct": round(steal_pct(self._jiffies, cpu_jiffies()), 3),
            "load_before": [round(x, 2) for x in self.load_before],
            "load_after": [round(x, 2) for x in os.getloadavg()],
            **extra,
        }
