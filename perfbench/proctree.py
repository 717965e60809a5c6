"""CPU time and peak RSS of a process tree, read from ``/proc``.

``psutil`` is not installed. The tree is the benchmark process and all
its descendants: the JVM launched by PySpark and the Python workers the
JVM forks. CPU time of a process sums its own utime+stime and the
cutime+cstime of children it has reaped, so a worker that exits during a
measured window still counts once, through its parent.
"""

from __future__ import annotations

import os
import signal
import time
from dataclasses import dataclass


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    cpu_ticks: int  # utime + stime + cutime + cstime
    hwm_kb: int  # VmHWM, 0 if unreadable (kernel threads, zombies)


def _read_proc(proc_root: str, pid: int) -> Proc | None:
    try:
        with open(f"{proc_root}/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None  # exited between listing and reading
    # comm sits in parentheses and may contain spaces
    rest = stat[stat.rindex(")") + 2 :].split()
    ppid = int(rest[1])
    cpu = sum(int(x) for x in rest[11:15])
    hwm = 0
    try:
        with open(f"{proc_root}/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    hwm = int(line.split()[1])
                    break
    except OSError:
        pass
    return Proc(pid, ppid, cpu, hwm)


def tree(root_pid: int, proc_root: str = "/proc") -> list[Proc]:
    """``root_pid`` and every live descendant."""
    procs = {}
    for name in os.listdir(proc_root):
        if name.isdigit():
            p = _read_proc(proc_root, int(name))
            if p is not None:
                procs[p.pid] = p
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
            todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root_pid: int, proc_root: str = "/proc", ticks: int | None = None) -> float:
    ticks = ticks or os.sysconf("SC_CLK_TCK")
    return sum(p.cpu_ticks for p in tree(root_pid, proc_root)) / ticks


def peak_rss_mb(root_pid: int, proc_root: str = "/proc") -> float:
    """Sum of VmHWM over the tree, in MB (10^6 bytes)."""
    return sum(p.hwm_kb for p in tree(root_pid, proc_root)) * 1024 / 1e6


def wait_gone(pids: list[int], timeout: float, proc_root: str = "/proc") -> list[int]:
    """Wait until none of ``pids`` exists; SIGKILL and return those still
    there after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    left = list(pids)
    while True:
        left = [p for p in left if os.path.exists(f"{proc_root}/{p}")]
        if not left or time.monotonic() >= deadline:
            break
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return left


def process_start_epoch(pid: int | str = "self") -> float:
    """Wall-clock start time of ``pid`` (10 ms resolution)."""
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
