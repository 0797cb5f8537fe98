"""Host readings that stamp a run: load average, hypervisor steal and
peak resident memory.

Steal is read the way ``bench.py`` reads it (the 8th counter of the
aggregate ``cpu`` line of ``/proc/stat`` as a share of all ticks over a
window), but nothing is gated on it: the stamps only let drift between two
sets of runs be adjudicated afterwards.
"""

from __future__ import annotations

import os


def cpu_ticks() -> list[int] | None:
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_pct(t0: list[int] | None, t1: list[int] | None) -> float | None:
    if not t0 or not t1 or len(t0) < 8 or len(t1) < 8:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d)
    return round(100.0 * d[7] / total, 3) if total > 0 else None


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Stamp:
    """Load average and steal over one run's window."""

    def __init__(self) -> None:
        self.load_start = os.getloadavg()
        self._ticks = cpu_ticks()

    def finish(self) -> dict:
        return {
            "loadavg_start": [round(x, 2) for x in self.load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "steal_pct": steal_pct(self._ticks, cpu_ticks()),
        }
