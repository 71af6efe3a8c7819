"""CPU time and peak memory of the Spark engine, read from ``/proc``.

The engine is every process below the measuring Python process: the
JVM that spark-submit starts, and the Python daemon and workers the JVM
forks for UDFs and Python data sources. The measuring process itself
(the Spark driver's Python side) is not counted.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:
        return None
    return text[text.rindex(")") + 2:].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out: list[int] = []
    todo = list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def engine_cpu(root: int) -> tuple[float, float]:
    """(all engine processes, Python workers only) CPU seconds so far.

    Each process counts its own user and system time plus that of its
    children it has already reaped, so a worker that exits between two
    readings still counts, through the process that reaped it.
    """
    total = python = 0.0
    for pid in descendants(root):
        fields = stat_fields(pid)
        if fields is None:
            continue
        ticks = sum(int(x) for x in fields[11:15])
        total += ticks
        if _comm(pid).startswith("python"):
            python += ticks
    return total / _TICK, python / _TICK


def engine_peak_rss_mb(root: int) -> float:
    """Sum of the peak resident set (VmHWM) of the live engine processes."""
    kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0
