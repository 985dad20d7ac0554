"""CPU time of the engine's process tree, read from ``/proc``.

The tree is this Python process (the driver: plan build, py4j calls),
the JVM pyspark launched (Spark's driver and task threads, GC) and the
JVM's descendants (pyspark's daemon and Python workers), less the
HotSpot JIT compiler threads. The kernel accounts a task's CPU time
without the time the hypervisor stole from its vCPU
(``CONFIG_PARAVIRT_TIME_ACCOUNTING``) or the time it waited for a CPU,
so on a shared host the figure moves far less than wall time does. JIT
compilation is left out because it is warm-up work whose amount and
timing differ from run to run; the JVM must run with
``-XX:-UseDynamicNumberOfCompilerThreads`` so that compiler threads
never exit and take their CPU time out of the per-thread sum.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")
JVM_OPTIONS = "-XX:-UseDynamicNumberOfCompilerThreads"


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a ``/proc`` stat file, or None if gone."""
    try:
        with open(path) as fh:
            s = fh.read()
    except OSError:
        return None
    return s[s.index("(") + 1:s.rindex(")")], s[s.rindex(")") + 2:].split()


class EngineCpu:
    """``seconds()``: CPU seconds the engine's process tree has used so
    far, JIT compiler threads excepted. Processes that have exited count
    through their parent's ``cutime``/``cstime`` once reaped."""

    def __init__(self, jvm_pid: int):
        self.root = os.getpid()
        self.jvm = jvm_pid

    def _tree(self) -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit() and (st := _stat(f"/proc/{d}/stat")):
                kids.setdefault(int(st[1][1]), []).append(int(d))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo += kids.get(p, [])
        return out

    def seconds(self) -> float:
        ticks = 0
        for pid in self._tree():
            st = _stat(f"/proc/{pid}/stat")
            if st is None:
                continue
            # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in st[1][11:15])
            if pid == self.jvm:
                for tid in os.listdir(f"/proc/{pid}/task"):
                    th = _stat(f"/proc/{pid}/task/{tid}/stat")
                    if th and "CompilerThre" in th[0]:
                        ticks -= int(th[1][11]) + int(th[1][12])
        return ticks / TICK
