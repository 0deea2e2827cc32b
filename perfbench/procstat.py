"""Host figures from /proc: CPU seconds of a process tree, peak RSS, steal.

CPU is counted over a root process and all of its live descendants (the
PySpark driver, the Spark JVM it launched, and the JVM's Python daemon and
workers). Each live process contributes its own user+system time plus the
time of children it has already reaped, so a worker that exited is still
counted once, through its parent.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # comm (field 2) may contain spaces; everything after the last ')' splits cleanly
    return data[data.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                kids.setdefault(int(fields[1]), []).append(int(entry))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root`` and its live descendants.

    The root's own reaped-children time is left out: the root's children
    are themselves in the tree while they run."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if not fields:
            continue
        # fields[11..14] = utime, stime, cutime, cstime (stat fields 14..17)
        ticks += int(fields[11]) + int(fields[12])
        if pid != root:
            ticks += int(fields[13]) + int(fields[14])
    return ticks / _TICK


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def java_pid(root: int) -> int | None:
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])
