"""CPU time spent by the processes that run the engine, read from
``/proc`` (Linux).

The processes are the benchmark's own Python process (the PySpark
driver), the Spark JVM it launched, and everything the JVM started in
turn (the Python worker daemon and its UDF workers). A process that
ended and was reaped by one of them is still counted, through its
parent's ``cutime``/``cstime``.

The end-to-end metrics count CPU time rather than wall time: on a
shared virtual machine the wall time of the same operation swings by
half with the host's load (steal time), while the CPU the engine
spends on it moves by a few percent (see the README's *Steadiness*).
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


class EngineCpu:
    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def seconds(self) -> float:
        """CPU seconds (user plus system) used so far by the engine's
        processes."""
        parent: dict[int, int] = {}
        ticks: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue  # the process ended meanwhile
            # fields after the parenthesised command name, from field 3
            # (state): ppid is field 4, utime..cstime are fields 14-17
            fields = stat[stat.rindex(")") + 2:].split()
            pid = int(name)
            parent[pid] = int(fields[1])
            ticks[pid] = sum(int(x) for x in fields[11:15])
        tree, todo = set(), [self.jvm_pid]
        while todo:
            pid = todo.pop()
            tree.add(pid)
            todo.extend(p for p, pp in parent.items() if pp == pid and p not in tree)
        own = os.times()
        return sum(ticks.get(p, 0) for p in tree) / _TICK + own.user + own.system
