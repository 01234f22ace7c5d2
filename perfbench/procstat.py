"""CPU and memory of a process tree, read from ``/proc``.

psutil is not installed, so this parses ``/proc/<pid>/stat`` and
``/proc/<pid>/status`` directly. The tree is the benchmark process,
the Spark JVM it launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import time
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")
_PROC = Path("/proc")


def parse_stat(text: str) -> tuple[int, float]:
    """``(ppid, cpu_s)`` from one ``/proc/<pid>/stat`` line.

    ``cpu_s`` is utime + stime of the process and cutime + cstime of
    the children it has reaped; live children are not included, so a
    sum over a whole tree counts every process once. The command name
    may hold spaces and parentheses, so fields are split after its last
    ``)``.
    """
    fields = text.rpartition(")")[2].split()
    # fields[0] is the state; man proc numbers ppid 4 and utime..cstime 14-17
    ppid = int(fields[1])
    ticks = sum(int(f) for f in fields[11:15])
    return ppid, ticks / CLK_TCK


def _read(pid: int, name: str) -> str | None:
    try:
        return (_PROC / str(pid) / name).read_text()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None  # the process ended while the tree was read


def descendants(root: int) -> list[int]:
    """Every live process below ``root``, found through parent links."""
    children: dict[int, list[int]] = {}
    for entry in _PROC.iterdir():
        if not entry.name.isdigit():
            continue
        text = _read(int(entry.name), "stat")
        if text is not None:
            children.setdefault(parse_stat(text)[0], []).append(int(entry.name))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of ``root`` and all its descendants,
    including children they have already reaped."""
    root = os.getpid() if root is None else root
    total = 0.0
    for pid in [root, *descendants(root)]:
        text = _read(pid, "stat")
        if text is not None:
            total += parse_stat(text)[1]
    return total


def age_s(pid: int) -> float:
    """Seconds since ``pid`` started (``starttime``, field 22 of
    ``/proc/<pid>/stat``, counts clock ticks since boot)."""
    fields = (_read(pid, "stat") or "").rpartition(")")[2].split()
    return time.clock_gettime(time.CLOCK_BOOTTIME) - int(fields[19]) / CLK_TCK


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests since boot, summed
    over the CPUs of the machine (``steal``, the 8th value of ``/proc/stat``'s
    ``cpu`` line)."""
    fields = (_PROC / "stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (``VmHWM``) of one process, in MiB."""
    text = _read(pid, "status") or ""
    for line in text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    text = _read(pid, "stat")
    return text is not None and text.rpartition(")")[2].split()[0] not in "ZX"


def comm(pid: int) -> str:
    return (_read(pid, "comm") or "").strip()
