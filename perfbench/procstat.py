"""CPU time and resident memory of this process and all its descendants.

Read from /proc (psutil is not available): the benchmark's own Python
process, the Spark JVM it launched, and the Python workers the JVM forks.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may contain spaces; everything after the last ')' splits cleanly
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """`root` (default: this process) and every live descendant."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _read_stat(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """user+sys seconds of the live tree, plus children it has reaped.

    cutime/cstime of a live process cover only its waited-for dead
    children, which are no longer listed, so nothing is counted twice."""
    total = 0
    for pid in tree_pids(root):
        fields = _read_stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 (index 11-14 here)
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of the process tree over a measured interval.

    `reset()` clears each live process's high-water mark (clear_refs 5), so
    set-up peaks do not count; `sample()` after each operation keeps the
    highest VmHWM seen per pid, so workers that exit mid-run still count.
    The reported figure is the sum of per-process peaks."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self.peak_kb: dict[int, int] = {}

    def reset(self) -> None:
        self.peak_kb.clear()
        for pid in tree_pids(self.root):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass  # exited, or the kernel refuses: its HWM then spans set-up too

    def sample(self) -> None:
        for pid in tree_pids(self.root):
            hwm = _status_kb(pid, "VmHWM:")
            if hwm > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = hwm

    def mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)
