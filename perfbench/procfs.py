"""Process-tree CPU and resident memory, read from /proc.

The benchmark's process tree is this Python driver, the Spark JVM it
launches, and the Python workers that JVM forks. CPU counts every live
descendant's own time plus the time of children it has already reaped, so
workers that exit during a job are still charged to it.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:  # the process ended between listing and reading
        return None
    # the command name sits in parentheses and may itself hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all of its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system seconds of the tree, reaped children included."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat: utime, stime, cutime, cstime
            total += sum(int(v) for v in f[11:15])
    return total / _TICK


def tree_pss_bytes(root: int | None = None) -> int:
    """Proportional set size of the tree: resident pages, with pages
    shared between processes (forked Python workers) split among them
    instead of counted once per process."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def _running(pid: int) -> bool:
    """Alive and not a zombie."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait for ``pids`` to exit; kill whatever outlives ``timeout_s``."""
    import signal
    import time

    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


class PeakRss:
    """Samples the tree's resident memory (PSS) on a thread while the
    block runs."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, tree_pss_bytes())
