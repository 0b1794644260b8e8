"""Host sizing, CPU ticks, process memory and the JVM log."""

from __future__ import annotations

import os

WARN_MARK = "Constructing trivially true equals predicate"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A quarter of RAM, between 1 GiB and 2 GiB: the machine is shared."""
    return max(1024, min(2048, mem_total_bytes() // 4 // (1 << 20)))


# per-worker loop length of the host-drift control
# (``scaling_bench.cpu_control`` with one worker per CPU), a fraction of a second
CONTROL_LOOPS = 1_000_000


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> float:
    """VmHWM of the driver JVM plus that of the largest Python worker.

    The JVM is this process's ``java`` child; Python workers are the
    ``python*`` processes below it.
    """
    kids = _children()
    jvms = [p for p in kids.get(os.getpid(), []) if _comm(p) == "java"]
    jvm_kb = max((_status_kb(p, "VmHWM") for p in jvms), default=0)
    worker_kb = 0
    todo = list(jvms)
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            todo.append(c)
            if _comm(c).startswith("python"):
                worker_kb = max(worker_kb, _status_kb(c, "VmHWM"))
    return (jvm_kb + worker_kb) / 1024.0


def count_warns(log_path: str) -> int:
    try:
        with open(log_path, errors="replace") as f:
            return sum(WARN_MARK in line for line in f)
    except FileNotFoundError:
        return 0
