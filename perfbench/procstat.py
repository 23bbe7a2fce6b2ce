"""Process-tree CPU and RSS from ``/proc``.

The tree is this benchmark process (the Spark driver's Python side), the JVM
it launches and the Python workers the JVM forks.  CPU of a live process is
``utime + stime`` plus ``cutime + cstime``, its reaped children, so workers
that exit inside a window still count through their parent.  Peak RSS is
summed per process; pages that forked workers share with their parent are
counted in each, as ``ps`` would.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                fields = f.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is state (stat field 3); utime..cstime are fields 14-17
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def total_ram_bytes() -> int:
    """Physical RAM, capped by a cgroup v2 memory limit when one is set."""
    ram = os.sysconf("SC_PHYS_PAGES") * _PAGE
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
    except OSError:
        return ram
    return min(ram, int(limit)) if limit.isdigit() else ram


def reset_peak_rss(pid: int) -> None:
    """Restart the kernel's RSS high-water mark (VmHWM) of ``pid``."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:  # exited
        pass


def peak_rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", "rb") as f:
            for line in f:
                if line.startswith(b"VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_share(since: tuple[int, int]) -> float:
    """Share of the machine's CPU time a hypervisor gave to other guests
    since ``since`` (a ``host_cpu_ticks()`` reading)."""
    steal, total = (b - a for a, b in zip(since, host_cpu_ticks()))
    return steal / total if total else 0.0


class Window:
    """Peak RSS of the process tree over a ``with`` block.

    The peak is the sum of each process's kernel high-water mark, reset at
    the start of the block: exact per process with no sampling, and an upper
    bound of the tree's simultaneous peak (the JVM heap and the workers'
    arenas rarely shrink, so the two are close)."""

    def __enter__(self) -> "Window":
        for pid in tree():
            reset_peak_rss(pid)
        return self

    def __exit__(self, *exc) -> None:
        self.peak_rss = sum(peak_rss_bytes(pid) for pid in tree())
