"""Process-tree CPU time and Python-worker peak RSS, read from /proc.

The extraction job spends its CPU in three kinds of process: the
driver (this Python process), the JVM it launches, and the Python
workers the JVM forks to run the Arrow UDF. ``tree_cpu_s`` sums user +
system time over the live process tree rooted at a pid. Each process
also contributes the CPU of children it has already reaped
(``cutime``/``cstime``), so a worker that exits between two snapshots
still counts, through its parent.

Linux only; psutil is not assumed to be installed.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PY_WORKER_MARKERS = (b"pyspark.daemon", b"pyspark.worker")


def _read(path: str) -> bytes | None:
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:  # the process exited while we walked the table
        return None


def _stat_fields(pid: int) -> list[bytes] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # comm (field 2) may hold spaces and parens: split after the last ')'
    return raw[raw.rindex(b")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def proc_cpu_s(pid: int) -> float:
    """utime + stime + cutime + cstime of one process, in seconds
    (0.0 if it has exited)."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # after the comm field: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    return sum(int(fields[i]) for i in (11, 12, 13, 14)) / _CLK_TCK


def tree_cpu_s(root: int | None = None) -> dict[int, float]:
    """CPU seconds per live process in the tree under ``root``
    (default: this process)."""
    root = os.getpid() if root is None else root
    return {pid: proc_cpu_s(pid) for pid in descendants(root)}


def is_python_worker(pid: int) -> bool:
    cmdline = _read(f"/proc/{pid}/cmdline") or b""
    return any(m in cmdline for m in _PY_WORKER_MARKERS)


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of one process, in MiB."""
    raw = _read(f"/proc/{pid}/status") or b""
    for line in raw.splitlines():
        if line.startswith(b"VmHWM:"):
            return int(line.split()[1]) / 1024.0  # reported in kB
    return 0.0


def py_worker_peak_rss_mb(root: int | None = None) -> float:
    """Largest VmHWM of any Spark Python worker under ``root``."""
    root = os.getpid() if root is None else root
    return max(
        (peak_rss_mb(p) for p in descendants(root) if is_python_worker(p)),
        default=0.0,
    )


def cpu_delta_s(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU spent by the tree between two ``tree_cpu_s`` snapshots.
    A process born in between counts in full. One that died in between
    has moved its whole total into its parent's cutime/cstime once
    reaped, so totals are differenced, not per-pid values."""
    return sum(after.values()) - sum(before.values())


def alive(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != b"Z"
