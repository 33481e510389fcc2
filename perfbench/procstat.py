"""Process-tree readings from /proc: CPU split and peak memory.

The benchmark's process tree is the driver (this Python process), the
Spark JVM it launches, and the JVM's Python worker daemon and workers.
CPU is split by those three roles so a change that moves work between
Py4J plan building, JVM execution and Python UDF workers shows which
side paid for it.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except (OSError, ValueError):
        pass
    return out


def tree(root: int | None = None) -> list[tuple[int, str]]:
    """(pid, role) for ``root`` and every live descendant; role is
    "driver" for ``root``, "jvm" for java processes and "pyworker" for
    everything else (the JVM's Python daemon and its workers)."""
    root = os.getpid() if root is None else root
    out: list[tuple[int, str]] = []
    stack, seen = [root], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        role = "driver" if pid == root else "jvm" if comm == "java" else "pyworker"
        out.append((pid, role))
        stack.extend(_children(pid))
    return out


def cpu_seconds() -> dict[str, float]:
    """CPU seconds used so far by each role. Python workers also count
    their reaped children (cutime/cstime), because the daemon forks and
    reaps workers during a run."""
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, role in tree():
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                rest = f.read().rsplit(b") ", 1)[1].split()
        except (OSError, IndexError):
            continue
        # rest[0] is field 3 (state): utime/stime are fields 14/15,
        # cutime/cstime 16/17
        ticks = int(rest[11]) + int(rest[12])
        if role == "pyworker":
            ticks += int(rest[13]) + int(rest[14])
        out[role] += ticks / TICK
    return out


def peak_rss_mb() -> dict[str, float]:
    """VmHWM (peak resident set) in MB, summed per role over the live
    process tree."""
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, role in tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[role] += int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return out


def reset_peak_rss() -> None:
    """Reset this process's VmHWM to its current RSS, so memory used
    before the session starts (oracle computation) is not reported."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass
