"""Process-tree bookkeeping for the benchmark: the summed RSS of the tree
(driver Python, the gateway JVM and its Python workers), and shutting the
tree down so that no process the benchmark started outlives it.

Reads ``/proc`` directly; Linux only.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM's Python workers once the JVM
    exits), so they can be reaped and waited for here."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _stats() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, virtual size, resident pages) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parens: split after the last ')'
        fields = stat.rsplit(")", 1)[1].split()
        out[int(name)] = (int(fields[1]), int(fields[20]), int(fields[21]))
    return out


def _descendants(pid: int, stats: dict[int, tuple[int, int, int]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, (pp, _, _) in stats.items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def descendants(pid: int) -> list[int]:
    return _descendants(pid, _stats())


def tree_rss_bytes(pid: int) -> int:
    """Summed RSS of ``pid`` and its descendants.

    A child whose virtual size equals its parent's and whose RSS is within
    1% of it still runs in its parent's address space: the JVM spawns its
    helper processes with vfork, and until such a child execs it reports the
    JVM's whole RSS. Counting it would add the JVM a second time, so it is
    skipped."""
    stats = _stats()
    total = 0
    for p in [pid, *_descendants(pid, stats)]:
        if p not in stats:
            continue
        ppid, vsize, rss = stats[p]
        parent = stats.get(ppid)
        if parent and parent[1] == vsize and abs(parent[2] - rss) <= parent[2] // 100:
            continue
        total += rss * PAGE
    return total


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class PeakRss:
    """Samples the summed RSS of this process and its descendants every
    ``interval`` seconds between ``start()`` and ``stop()``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()


def reap_children(timeout: float) -> None:
    """Wait up to ``timeout`` s for every descendant to exit, reaping the
    ones that are (or become) our children; SIGKILL the rest and wait up to
    5 s more."""
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        _reap_zombies()
        left = [p for p in descendants(os.getpid()) if alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            if killed:  # already killed once: give up rather than spin
                return
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
