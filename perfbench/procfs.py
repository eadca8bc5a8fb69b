"""Process-level readings from ``/proc``: the JVM and the PySpark workers."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the last ')'
    head, tail = raw.rsplit(")", 1)
    return [head.split("(", 1)[1]] + tail.split()


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[2]), []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def comm(pid: int) -> str:
    st = _stat(pid)
    return st[0] if st else ""


def cpu_s(pid: int, reaped_children: bool = False) -> float:
    """utime+stime of ``pid`` (plus its reaped children's, if asked)."""
    st = _stat(pid)
    if st is None:
        return 0.0
    ticks = int(st[12]) + int(st[13])
    if reaped_children:
        ticks += int(st[14]) + int(st[15])
    return ticks / _TICK


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid() -> int | None:
    for pid in descendants(os.getpid()):
        if comm(pid) == "java":
            return pid
    return None


def python_workers(jvm: int) -> list[int]:
    return [p for p in descendants(jvm) if comm(p).startswith("python")]
