"""CPU and memory of this process and everything it started, read from
/proc: the benchmark's Python, the Spark JVM it launches, and the
Python workers that JVM forks for Arrow/pandas stages."""

from __future__ import annotations

import os
import signal
import time
from dataclasses import dataclass

TICK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class _Proc:
    pid: int
    ppid: int
    comm: str
    own: float  # utime + stime, seconds
    reaped: float  # cutime + cstime: children it waited for


def _read(pid: int) -> _Proc | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    head, tail = raw.rsplit(")", 1)
    parts = tail.split()
    return _Proc(
        pid=pid,
        ppid=int(parts[1]),
        comm=head.split("(", 1)[1],
        own=(int(parts[11]) + int(parts[12])) / TICK,
        reaped=(int(parts[13]) + int(parts[14])) / TICK,
    )


def _tree(root: int) -> list[_Proc]:
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _read(int(name))
            if p is not None:
                procs[p.pid] = p
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
        todo.extend(children.get(pid, []))
    return out


@dataclass
class CpuSample:
    total: float  # whole tree, reaped children included
    jvm: float  # the JVM's own threads (driver + local executors)
    pyworker: float  # Python processes under the JVM, reaped ones included


def cpu() -> CpuSample:
    """Cumulative CPU seconds of the process tree rooted here. A worker
    that exits between two samples leaves /proc, but its CPU reappears
    in its parent's reaped counters, so the totals only grow."""
    me = os.getpid()
    procs = _tree(me)
    total = jvm = pyworker = 0.0
    jvm_pids = {p.pid for p in procs if p.comm == "java"}
    for p in procs:
        total += p.own + p.reaped
        if p.pid in jvm_pids:
            jvm += p.own
            pyworker += p.reaped  # the JVM's reaped children are its workers
        elif p.pid != me and p.comm.startswith("python"):
            pyworker += p.own + p.reaped
    return CpuSample(total, jvm, pyworker)


def peak_rss_mb() -> float:
    """Sum of each live process's peak resident set (VmHWM), in MB."""
    total_kb = 0
    for p in _tree(os.getpid()):
        try:
            with open(f"/proc/{p.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def steal_s() -> float:
    """Host CPU time stolen by the hypervisor since boot, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / TICK if len(fields) > 8 else 0.0


def descendants() -> list[int]:
    me = os.getpid()
    return [p.pid for p in _tree(me) if p.pid != me]


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for ``pids`` to exit; kill whatever is left at the deadline."""
    deadline = time.time() + timeout
    alive = list(pids)
    while alive and time.time() < deadline:
        alive = [pid for pid in alive if os.path.exists(f"/proc/{pid}")]
        time.sleep(0.05)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + 5
    while alive and time.time() < deadline:
        alive = [pid for pid in alive if os.path.exists(f"/proc/{pid}")]
        time.sleep(0.05)
