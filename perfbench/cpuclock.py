"""CPU time of this process and every process it started.

The Spark driver JVM and its Python workers are descendants of the
benchmark process, so the sum over the process tree is the CPU the
engine spent on the benchmark's behalf.  Unlike wall time it does not
grow while the host gives the machine fewer cores: a thread that waits
for a core accrues no CPU time.  Read from ``/proc`` (Linux), in clock
ticks; a process that has ended counts through its parent's
``cutime``/``cstime``.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, int] | None:
    """``(parent pid, CPU ticks of the process and its reaped children)``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended while the tree was read
        return None
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and
    all its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                pid = int(name)
                children.setdefault(st[0], []).append(pid)
                ticks[pid] = st[1]
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _TICK
