"""Host attribution from ``/proc``: CPU steal and iowait shares between two
samples, a process's peak RSS, and how long this process has existed."""

from __future__ import annotations

import os
from typing import Dict

# an op whose interval saw more than this share of steal or iowait is
# flagged in the run record; it is kept, never dropped or retried
BURST_FRAC = 0.05


def cpu_times() -> Dict[str, int]:
    """Aggregate CPU jiffies from the ``cpu`` line of ``/proc/stat``."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    vals = [int(v) for v in parts[1:1 + len(names)]]
    return dict(zip(names, vals))


def shares(before: Dict[str, int], after: Dict[str, int]) -> Dict[str, float]:
    delta = {k: after[k] - before[k] for k in before}
    total = sum(delta.values())
    if total <= 0:
        return {"steal_frac": 0.0, "iowait_frac": 0.0}
    return {"steal_frac": delta["steal"] / total, "iowait_frac": delta["iowait"] / total}


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def process_age_s() -> float:
    """Seconds since this process was started, from ``/proc`` clock ticks."""
    with open("/proc/self/stat") as fh:
        # field 22 (starttime); split after the parenthesised command name
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
