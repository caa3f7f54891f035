"""Memory and CPU of this process and everything it started (the driver
JVM and the Python workers the JVM forks), read from /proc."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # fields after the parenthesised command name, which may hold spaces
        return f.read().rsplit(")", 1)[1].split()


def descendants(pid: int) -> list[int]:
    """pid and every live descendant, from /proc parent links."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


# JIT compiler threads of a JVM (thread names are cut to 15 characters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads (0 for other processes).
    The JVM must keep its compiler threads alive
    (-XX:-UseDynamicNumberOfCompilerThreads), or an exited one's ticks
    would drop out of this sum while staying in the process total."""
    total = 0
    try:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() != "java":
                return 0
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(_JIT_THREADS):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError):
            continue
    return total


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process tree,
    including exited children that were waited for, minus the JVM's JIT
    compiler threads. Time the hypervisor steals from the machine is not
    charged to any process. JIT compilation is left out because in a
    run of about a minute it is warm-up work whose amount varies by tens
    of percent from run to run; the program's own work does not."""
    total = 0
    for pid in descendants(os.getpid()):
        try:
            f = _stat_fields(pid)
        except (OSError, IndexError):
            continue
        # utime, stime, cutime, cstime
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        total -= _jit_ticks(pid)
    return total / _TICK


def _memory_mb(pid: int) -> float:
    """Resident memory of one process. For the forked Python workers it is
    the proportional set size, so pages they share count once across
    them; for the JVM, which shares little, the plain RSS, because
    summing its smaps costs the sampler more CPU than the workers use."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            java = f.read().strip() == "java"
        path, key = ((f"/proc/{pid}/status", "VmRSS:") if java
                     else (f"/proc/{pid}/smaps_rollup", "Pss:"))
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class PeakMemory:
    """Samples the summed memory of the process tree on a background
    thread; `peak_mb` is the largest sum seen."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_memory_mb(p) for p in descendants(me))
            self.peak_mb = max(self.peak_mb, total)
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
