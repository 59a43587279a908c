"""Process-tree CPU and memory, and host load, read from /proc.

The tree is this process and every descendant: the JVM that PySpark
launches, the Python daemon it forks, and the Python workers.  CPU of a
tree member includes the children it has reaped (``cutime``/``cstime``),
so CPU spent by a worker that exited is still counted once.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """utime+stime+cutime+cstime over the tree, in seconds."""
    total = 0
    for pid in pids if pids is not None else tree_pids():
        st = _stat(pid)
        if st is not None:
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def _kind(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            argv0 = fh.read().split(b"\0", 1)[0]
    except OSError:
        return "gone"
    base = os.path.basename(argv0).decode(errors="replace")
    if base == "java":
        return "jvm"
    if base.startswith("python"):
        return "driver" if pid == os.getpid() else "py_worker"
    return "other"


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peaks(pids: list[int] | None = None) -> None:
    """Reset every tree member's peak RSS (VmHWM) to its current RSS."""
    for pid in pids if pids is not None else tree_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as fh:
                fh.write("5")
        except OSError:
            pass


class PeakRss:
    """Highest RSS per process kind since the last ``reset_peaks``.

    ``sample`` folds in the current peaks of live processes; call it at
    every operation boundary so a worker that exits later is not lost."""

    def __init__(self):
        self.mb = {"jvm": 0.0, "py_worker": 0.0, "driver": 0.0}

    def sample(self) -> None:
        for pid in tree_pids():
            kind = _kind(pid)
            if kind in self.mb:
                self.mb[kind] = max(self.mb[kind], _hwm_kb(pid) / 1024.0)


def host_load() -> dict:
    """loadavg and cumulative CPU steal ticks, recorded as context."""
    with open("/proc/loadavg", encoding="ascii") as fh:
        load = [float(v) for v in fh.read().split()[:3]]
    with open("/proc/stat", encoding="ascii") as fh:
        cpu = fh.readline().split()
    steal = int(cpu[8]) if len(cpu) > 8 else 0
    total = sum(int(v) for v in cpu[1:])
    return {"loadavg": load, "steal_ticks": steal, "cpu_ticks": total}


def steal_share(before: dict, after: dict) -> float:
    dt = after["cpu_ticks"] - before["cpu_ticks"]
    return (after["steal_ticks"] - before["steal_ticks"]) / dt if dt > 0 else 0.0
