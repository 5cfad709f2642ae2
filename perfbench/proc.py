"""Process-tree and VM counters read from /proc (Linux)."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree(pid: int) -> list[int]:
    """pid and all its live descendants."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        fields = _stat(d) if d.isdigit() else None
        if fields is not None and fields[0] != "Z":
            kids.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


def cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used by pid's live process tree,
    including the children each of them has already reaped."""
    ticks = 0
    for p in tree(pid):
        fields = _stat(p)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK
