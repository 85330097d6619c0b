"""Process-tree CPU and memory, and host steal, read from /proc.

The benchmark process starts the Spark JVM, which starts the Python
workers, so the "process tree" is this process and every descendant.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces: split after its closing paren
    return s[s.rindex(")") + 2:].split()


def tree_pids() -> list[str]:
    """This process and all its descendants."""
    root_pid = str(os.getpid())
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                children.setdefault(st[1], []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by the process tree,
    including children that ended and were reaped inside it."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak resident
    set (VmHWM), in MiB: an upper bound on the tree's joint peak."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all host CPU time between two ``cpu_times`` readings
    that the hypervisor stole (field 8 of the cpu line)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # guest time is already counted in user
    return d[7] / total if total > 0 else 0.0
