"""CPU time and memory of this process tree, read from ``/proc``.

The tree is the benchmark's Python driver, the JVM that PySpark launches
under it and the Python workers the JVM forks. A process's ``cutime`` and
``cstime`` hold the CPU of children it has already reaped, so summing
``utime + stime + cutime + cstime`` over the live tree counts every
process once, ended ones included.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            raw = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as fh:
                out.extend(int(c) for c in fh.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def descendants(pid: int | None = None) -> list[int]:
    """``pid`` (default: this process) and every live descendant."""
    todo = [pid or os.getpid()]
    seen = []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def tree_cpu_s(pid: int | None = None) -> float:
    total = 0
    for p in descendants(pid):
        fields = _stat(p)
        if fields is not None:
            # utime, stime, cutime, cstime: fields 14-17 of proc(5)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii") as fh:
            return fh.read().strip()
    except (FileNotFoundError, ProcessLookupError):
        return ""


def jvm_pid() -> int | None:
    for p in descendants():
        if _comm(p) == "java":
            return p
    return None


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def process_start_time() -> float:
    """Epoch seconds at which this process started."""
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    started_after_boot = int(_stat(os.getpid())[19]) / _TICK
    return time.time() - (uptime - started_after_boot)


def wait_gone(pids, timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; return those still alive."""
    deadline = time.time() + timeout_s
    alive = list(pids)
    while alive and time.time() < deadline:
        alive = [p for p in alive if (st := _stat(p)) is not None and st[0] != "Z"]
        if alive:
            time.sleep(0.1)
    return alive
