"""Process probes read from ``/proc`` at phase boundaries; no sampler thread.

CPU is utime + stime + cutime + cstime, summed over the benchmark
process, the Spark JVM and every live descendant of the JVM (its Python
workers). A child's own times move into its parent's cutime/cstime when
it is reaped, so the sum only grows and a delta between two boundaries
counts short-lived workers too. The JVM is a live child of this process
for the whole run, so this process's cutime never includes it.
"""

from __future__ import annotations

import os

__all__ = [
    "descendants", "tree_cpu_s", "peak_rss_mb", "process_start_s", "steal_s", "machine_context",
]

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            text = fh.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return text[text.rindex(")") + 2:].split()


def _cpu_ticks(fields: list[str]) -> int:
    # utime, stime, cutime, cstime are fields 14-17 of stat(5)
    return sum(int(v) for v in fields[11:15])


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(jvm_pid: int) -> float:
    ticks = 0
    for pid in [os.getpid(), *descendants(jvm_pid)]:
        fields = _stat(pid)
        if fields is not None:
            ticks += _cpu_ticks(fields)
    return ticks / _CLK


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of the JVM plus this process, in MB (10^6 bytes)."""
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) * 1024 / 1e6


def process_start_s() -> float:
    """Seconds since this process started, from its stat start time."""
    start_ticks = int(_stat(os.getpid())[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _CLK


def steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over all CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK


def machine_context() -> dict:
    with open("/proc/loadavg") as fh:
        load = [float(v) for v in fh.read().split()[:3]]
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            key, value = line.split(":")
            mem[key] = int(value.split()[0])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": load,
        "buff_cache_mb": round((mem.get("Buffers", 0) + mem.get("Cached", 0)) / 1024, 1),
        "mem_available_mb": round(mem.get("MemAvailable", 0) / 1024, 1),
    }
