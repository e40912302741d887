"""Times one operation (a pipeline stage or a query) at a time.

For each call it reads the wall time, the CPU time of the driver and the
JVM without the JVM's JIT compiler threads, the compiler threads' own
CPU time, and the CPU time the hypervisor gave to other guests of the
host (``/proc/stat`` steal).

CPU time is what the benchmark gates on: a guest is not charged CPU time
for the moments the hypervisor runs another guest, so it moves far less
with the host's load than wall time does. JIT compilation is counted
apart because its amount in a pass depends on how far the JVM got in
compiling the earlier passes' hot code; the JVM is started with a fixed
set of compiler threads (``-XX:-UseDynamicNumberOfCompilerThreads``) so
that their CPU time can be read.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def _stat_cpu_s(path: str) -> float:
    """User plus system CPU seconds from a ``/proc/.../stat`` file."""
    with open(path, encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def compiler_threads(pid: int) -> list[str]:
    """``/proc`` stat paths of the JVM's JIT compiler threads."""
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        with open(f"/proc/{pid}/task/{tid}/comm", encoding="ascii", errors="replace") as f:
            if "CompilerThre" in f.read():
                out.append(f"/proc/{pid}/task/{tid}/stat")
    return out


class OpClock:
    def __init__(self, pids: tuple[int, ...], jit_threads: list[str]):
        self.pids = pids
        self.jit_threads = jit_threads
        self.begin_pass()

    def begin_pass(self) -> None:
        self.cpu_s = 0.0
        self.jit_s = 0.0
        self.stolen_s = 0.0

    def _cpu(self) -> tuple[float, float]:
        """CPU seconds of the processes without their JIT threads, and of
        the JIT threads."""
        jit = sum(_stat_cpu_s(path) for path in self.jit_threads)
        return sum(_stat_cpu_s(f"/proc/{pid}/stat") for pid in self.pids) - jit, jit

    def measure(self, call) -> float:
        """Run ``call`` and return its wall seconds; its CPU, JIT and
        stolen seconds are added to the pass's. Exceptions propagate."""
        (cpu0, jit0), steal0, t0 = self._cpu(), steal_s(), time.perf_counter()
        call()
        wall = time.perf_counter() - t0
        stolen = steal_s() - steal0
        cpu, jit = self._cpu()
        self.cpu_s += cpu - cpu0
        self.jit_s += jit - jit0
        self.stolen_s += stolen
        return wall
