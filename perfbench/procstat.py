"""Process-tree CPU and memory from ``/proc``.

The tree is this benchmark process and every descendant: the Spark JVM
that py4j launches, the pyspark daemon it forks, and the daemon's Python
workers. CPU sums user+sys of live processes plus the user+sys their
already-reaped children left behind (``cutime``/``cstime``), so a worker
that exits between two samples is still counted, in its parent.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after its ')' splits cleanly
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+sys CPU seconds consumed so far by the tree."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_peak_rss_bytes(root: int | None = None) -> int:
    """Sum over the tree of each live process's RSS high-water mark
    (``VmHWM``): kernel-kept, so no sampling can miss a spike."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total
