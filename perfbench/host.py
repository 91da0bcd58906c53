"""Host-side readings from ``/proc``: CPU-seconds of the benchmark's
process tree, the JVM's peak resident set, CPU steal, and a fixed
single-core probe that shows how fast the host ran Python during a run."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended while we walked /proc
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s(root: int) -> float:
    """User+system CPU-seconds of ``root`` and every live descendant,
    including children they have already reaped (driver, JVM, Python
    workers)."""
    parent = {}
    cpu = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is None:
            continue
        parent[int(name)] = int(fields[1])
        # utime stime cutime cstime
        cpu[int(name)] = sum(int(x) for x in fields[11:15])
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += cpu.get(pid, 0)
        stack.extend(p for p, pp in parent.items() if pp == pid)
    return total / _TICK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_s() -> float:
    """Host-wide CPU steal so far, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def python_probe_s(n: int = 2_000_000) -> float:
    """Time of a fixed single-core Python loop."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i % 7
    return time.perf_counter() - t
