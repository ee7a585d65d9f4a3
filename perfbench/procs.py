"""Process-tree helpers read from /proc (Linux only).

The JVM that PySpark launches and the python worker daemon it forks are
grandchildren the benchmark must still stop and wait for; the daemon
moves itself into its own process group, so a process-group kill does
not reach it.
"""

from __future__ import annotations

import os
import signal
import time


def _stat(pid: int) -> tuple[str, int] | None:
    """(state, ppid) of a live process, or None if it has gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            tail = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return tail[0], int(tail[1])


def descendants(root: int) -> list[int]:
    """Every live descendant of ``root``, parents before children."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[1], []).append(int(name))
    out: list[int] = []
    todo = [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] not in ("Z", "X")


def wait_gone(pids: list[int], grace_s: float) -> None:
    """Wait up to ``grace_s`` for ``pids`` to exit, then SIGKILL the rest
    and wait until they have ended."""
    deadline = time.monotonic() + grace_s
    while any(alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    left = [p for p in pids if alive(p)]
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(alive(p) for p in left):
        time.sleep(0.05)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids`` that are alive."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0
