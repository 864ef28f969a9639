"""Host sizing and process accounting for the benchmark.

Everything is read from the host at hand: the core count sets
`local[N]`, `MemAvailable` sets the driver heap, and the peak resident
set of the JVM and its Python workers is the kernel's own `VmHWM`.
"""
from __future__ import annotations

import os


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_available_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_memory_gib(avail_gib: float) -> int:
    """A quarter of the available memory in whole GiB, between 1 and 2:
    the heap is sized for the host and never pre-touched. Both workloads
    keep their driver-side data well under 2 GiB, and the cap leaves the
    rest of the memory to the host's other tenants."""
    return max(1, min(2, int(avail_gib / 4)))


def _status(pid: int) -> dict[str, str]:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                out[k] = v.strip()
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    """`pid` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        ppid = _status(int(name)).get("PPid")
        if ppid is not None:
            children.setdefault(int(ppid), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb(pid: int) -> list[float]:
    """VmHWM in MiB of `pid` and of each live process below it."""
    out = []
    for p in descendants(pid):
        hwm = _status(p).get("VmHWM")
        if hwm:
            out.append(int(hwm.split()[0]) / 1024)
    return out
