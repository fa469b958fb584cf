"""The benchmark's own process tree, read from /proc: peak resident
memory of the driver JVM plus its Python workers, and the check that
every process the run started has ended before it exits."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppids() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        out[int(d)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p, pp in _ppids().items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


def tree_rss_bytes(pid: int, exclude: frozenset[int] = frozenset()) -> int:
    return sum(_rss_bytes(p) for p in [pid, *descendants(pid)] if p not in exclude)


class PeakRss:
    """Samples the resident memory of a process tree on a background
    thread until ``stop()``; ``peak_mb`` is the largest sum seen. Pids
    added to ``exclude`` are left out of the sum."""

    def __init__(self, pid: int, interval: float = 0.2) -> None:
        self.pid = pid
        self.interval = interval
        self.peak_bytes = 0
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = tree_rss_bytes(self.pid, frozenset(self.exclude))
            self.peak_bytes = max(self.peak_bytes, rss)
            self._stop.wait(self.interval)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def reap_descendants(pid: int, timeout: float = 60.0) -> list[int]:
    """Wait for every descendant of ``pid`` to exit; kill what is left
    after ``timeout`` and return those pids."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        left = descendants(pid)
        if not left:
            return []
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)
    left = descendants(pid)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in left:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass
    return left
