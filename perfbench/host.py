"""Host context read from /proc: CPU steal and idle shares, the CPU
seconds and peak resident memory of this process and every process it
started (the Spark JVM and its Python workers), the CPU seconds of the
JVM's JIT compiler threads, and bytes on disk.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
JIT_THREAD_NAMES = ("C1 CompilerThre", "C2 CompilerThre")


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in ticks: user nice
    system idle iowait irq softirq steal ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal and idle (idle + iowait) shares of all CPU time between
    two ``cpu_times`` readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    return {"steal": d[7] / total, "idle": (d[3] + d[4]) / total}


def _stat(pid: int, tid: int | None = None) -> list[str] | None:
    path = f"/proc/{pid}/stat" if tid is None else f"/proc/{pid}/task/{tid}/stat"
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # Fields after the parenthesised command name, which may hold spaces.
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (st := _stat(int(entry))) is not None:
            kids.setdefault(int(st[1]), []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, ()))
    return tree


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of the given processes, including
    children they have already reaped."""
    ticks = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # utime stime cutime cstime: fields 14-17 of proc(5).
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def jit_threads(pids: list[int]) -> list[tuple[int, int]]:
    """``(pid, tid)`` of every JVM JIT compiler thread of the given
    processes (the kernel keeps 15 characters of a thread's name)."""
    out = []
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    name = fh.read()
            except OSError:
                continue
            if name.startswith(JIT_THREAD_NAMES):
                out.append((pid, int(tid)))
    return out


def threads_cpu_s(threads: list[tuple[int, int]]) -> float:
    """User + system CPU seconds of the given ``(pid, tid)`` threads."""
    ticks = 0
    for pid, tid in threads:
        st = _stat(pid, tid)
        if st is not None:
            ticks += int(st[11]) + int(st[12])
    return ticks / _TICK


def tree_rss_peak_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                continue
    return total
