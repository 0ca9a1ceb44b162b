"""CPU, memory and host counters read from ``/proc``.

The measured process tree is the benchmark worker and everything it
starts: the driver Python, the Spark JVM and its Python workers.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_PR_SET_CHILD_SUBREAPER = 36


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """*root* and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def become_subreaper() -> None:
    """Make this process adopt every orphan among its descendants.

    The PySpark daemon moves itself into a process group of its own and
    outlives the JVM that started it by up to a second; as a child
    subreaper this process inherits it, and anything else whose parent
    ends first, so :func:`stop_descendants` can find and stop it.
    """
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(timeout_s: float = 30) -> list[int]:
    """SIGKILL every descendant of this process and reap each; the pids
    still present after *timeout_s* seconds (none when all have ended)."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while True:
        rest = [p for p in tree_pids(me) if p != me]
        if not rest or time.monotonic() > deadline:
            return rest
        for pid in rest:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        _reap()
        time.sleep(0.05)


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, reaped children included.

    A live process's ``cutime``/``cstime`` hold the CPU of children it has
    already reaped, so summing all four fields over the live tree counts
    every process once.
    """
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:
            total += int(fields[21]) * _PAGE
    return total


def host_cpu_s() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole host since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = ticks[:8]
    return (user + nice + system + irq + softirq) / _TICK, steal / _TICK
