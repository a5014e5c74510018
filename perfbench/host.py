"""Host weather and process memory, read from /proc.

Steal and idle shares are computed the way ``bench.py`` computes them:
the cpu line of /proc/stat sampled at both ends of a window. A high
steal share marks a window where the host, not the code, set the time.
"""

from __future__ import annotations

from pathlib import Path


def cpu_counters() -> list[int]:
    return [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]


def weather(c0: list[int], c1: list[int]) -> dict:
    """{steal_pct, idle_pct} between two ``cpu_counters`` snapshots."""
    d = [b - a for a, b in zip(c0, c1)]
    tot = sum(d) or 1
    return {"steal_pct": 100.0 * d[7] / tot, "idle_pct": 100.0 * d[3] / tot}


def peak_rss_mb(pid: int) -> float:
    """High-water resident set (VmHWM) of a live process, in MiB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
