"""CPU seconds spent by the benchmark's process tree: this Python process,
the Spark JVM it launched and Spark's Python workers.

The JVM's JIT compiler threads are left out. How much compiling falls
into a measured window depends on when the compiler threads got a CPU,
not on the work the program does; the rest (Spark's task, scheduler,
streaming and driver threads, garbage collection, Python) is the work.

A process's time is read from its CPU clock (``clock_gettime`` on the
clock id Linux gives every process), in nanoseconds and with its exited
threads included; a compiler thread's from its
``/proc/<pid>/task/<tid>/schedstat``. A process or compiler thread that
has exited keeps the time last read for it, so the sum never goes back.

``run_delay_s`` is the time the tree's threads spent runnable but
waiting for a CPU. On a shared host it is the part of a wall time that
the host, not the program, adds.
"""

from __future__ import annotations

import os
import time


def _process_clock(pid: int) -> int:
    # MAKE_PROCESS_CPUCLOCK(pid, CPUCLOCK_SCHED) in the kernel's posix-timers
    return ((~pid) << 3) | 2


def _tree(root: int) -> list[int]:
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    # the command name may contain spaces; ppid follows it
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError):
                continue
    out = []
    for pid in parent:
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            out.append(pid)
    return out


def _schedstat(pid: int, tid: str) -> tuple[int, int]:
    with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
        run, delay = f.read().split()[:2]
    return int(run), int(delay)


class CpuClock:
    def __init__(self):
        self.root = os.getpid()
        self._proc: dict[int, int] = {}
        self._compiler: dict[tuple[int, int], int] = {}
        self._delay: dict[tuple[int, int], int] = {}
        self._names: dict[tuple[int, int], bool] = {}

    def _is_compiler(self, pid: int, tid: str) -> bool:
        key = (pid, int(tid))
        if key not in self._names:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                self._names[key] = "CompilerThre" in f.read()
        return self._names[key]

    def sample(self) -> tuple[float, float]:
        """(CPU seconds, seconds waiting for a CPU) of the tree."""
        for pid in _tree(self.root):
            try:
                self._proc[pid] = time.clock_gettime_ns(_process_clock(pid))
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    run, delay = _schedstat(pid, tid)
                    if self._is_compiler(pid, tid):
                        self._compiler[pid, int(tid)] = run
                except OSError:
                    continue
                self._delay[pid, int(tid)] = delay
        cpu = sum(self._proc.values()) - sum(self._compiler.values())
        return cpu / 1e9, sum(self._delay.values()) / 1e9

    def cpu_s(self) -> float:
        return self.sample()[0]
