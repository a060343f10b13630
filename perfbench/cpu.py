"""CPU time spent by the engine's processes, read from /proc.

The meter covers this Python process, the Spark JVM and the JVM's child
processes (the Python UDF workers), thread by thread, from each thread's
``schedstat`` run time in nanoseconds. That clock stops while the
hypervisor runs other guests, so host steal does not inflate it, and it
leaves out the JVM's JIT compiler threads, whose work is warm-up of the
JVM rather than work of the request.
"""

from __future__ import annotations

import os

JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _run_ns(task_dir: str) -> int:
    with open(os.path.join(task_dir, "schedstat")) as fh:
        return int(fh.read().split()[0])


def _children(root: int) -> list[int]:
    """Every descendant process of ``root``."""
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError):
            continue          # the process ended while we looked
    found, frontier = [], [root]
    while frontier:
        cur = frontier.pop()
        kids = [p for p, pp in parent.items() if pp == cur]
        found += kids
        frontier += kids
    return found


class CpuMeter:
    """``since(snapshot())`` gives the CPU seconds the processes used in
    between. A thread that ends in between loses the time it ran since the
    snapshot; one that starts in between counts in full."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._jit: dict[int, bool] = {}

    def _is_jit(self, tid: int) -> bool:
        got = self._jit.get(tid)
        if got is None:
            with open(f"/proc/{self.jvm_pid}/task/{tid}/comm") as fh:
                got = fh.read().strip().startswith(JIT_THREADS)
            self._jit[tid] = got
        return got

    def snapshot(self) -> dict[tuple[int, int], int]:
        snap = {}
        for pid in (os.getpid(), self.jvm_pid, *_children(self.jvm_pid)):
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for name in tids:
                tid = int(name)
                try:
                    if pid == self.jvm_pid and self._is_jit(tid):
                        continue
                    snap[(pid, tid)] = _run_ns(f"/proc/{pid}/task/{name}")
                except OSError:
                    continue  # the thread ended while we looked
        return snap

    def since(self, before: dict[tuple[int, int], int]) -> float:
        after = self.snapshot()
        return sum(ns - before.get(key, 0)
                   for key, ns in after.items()) / 1e9
