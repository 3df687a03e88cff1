"""CPU time the engine spends, read from the kernel's per-process and
per-thread CPU clocks.

The benchmark runs on a few cores of a shared virtual machine. When
neighbours are busy, the hypervisor takes the cores away and wall time
grows by that share; the kernel's CPU clocks exclude the stolen time.
``CpuClock.now()`` sums, in nanoseconds:

* this Python driver process (all its threads, py4j included);
* the Spark JVM, minus its JIT compiler, garbage-collector and VM
  threads, whose background work lands on whichever operation happens
  to be running;
* Spark's Python worker processes (descendants of the JVM).

A thread or worker that exits keeps the CPU time it had when last
read, so at most the time it spent since the previous reading is lost.
"""

from __future__ import annotations

import ctypes
import os
import time

_libc = ctypes.CDLL(None, use_errno=True)
# JVM threads whose CPU time is not charged to the operation running
_BACKGROUND = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ", "VM Thread", "VM Periodic")


def _process_clock(pid: int) -> int | None:
    """The CPU-time clock id of another process, or None once it exited."""
    clock = ctypes.c_int()
    if _libc.clock_getcpuclockid(pid, ctypes.byref(clock)) != 0:
        return None
    return clock.value


def _thread_ns(path: str) -> int:
    """A thread's CPU time from ``/proc/<pid>/task/<tid>/schedstat``."""
    with open(path) as f:
        return int(f.read().split()[0])


class CpuClock:
    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.jvm_clock = _process_clock(jvm_pid)
        # background thread id -> CPU ns when last read; the JVM's
        # process clock keeps an exited thread's time, so must this
        self.background: dict[str, int] = {}
        self.app_threads: set[str] = set()
        self.workers: dict[int, int] = {}  # worker pid -> clock id
        self.worker_ns: dict[int, int] = {}  # worker pid -> ns when last read

    def _scan_background(self) -> int:
        task_dir = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task_dir):
            if tid in self.app_threads:
                continue
            try:
                if tid not in self.background:
                    with open(f"{task_dir}/{tid}/comm") as f:
                        if not f.read().startswith(_BACKGROUND):
                            self.app_threads.add(tid)
                            continue
                self.background[tid] = _thread_ns(f"{task_dir}/{tid}/schedstat")
            except OSError:
                pass  # the thread exited
        return sum(self.background.values())

    def _scan_workers(self) -> int:
        parents = {self.jvm_pid, *self.workers}
        for entry in os.listdir("/proc"):
            if not entry.isdigit() or int(entry) in self.workers:
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            if ppid in parents:
                clock = _process_clock(int(entry))
                if clock is not None:
                    self.workers[int(entry)] = clock
                    parents.add(int(entry))
        for pid, clock in self.workers.items():
            try:
                self.worker_ns[pid] = time.clock_gettime_ns(clock)
            except OSError:
                pass  # the worker exited
        return sum(self.worker_ns.values())

    def now(self) -> float:
        """Seconds of CPU time charged to the engine so far."""
        ns = time.process_time_ns() + time.clock_gettime_ns(self.jvm_clock)
        ns -= self._scan_background()
        ns += self._scan_workers()
        return ns / 1e9
