"""The benchmark's process tree (Python driver, JVM, Python workers), read
from /proc because psutil is absent: peak-RSS sampling and clean-up."""

from __future__ import annotations

import os
import signal
import threading
import time


def _table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by parent pid, RSS in kB by pid) of every process."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{d}/statm") as fh:
                pages = int(fh.read().split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = pages * page_kb
    return children, rss


def descendants(root: int) -> list[int]:
    children, _ = _table()
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_kb(root: int) -> int:
    children, rss = _table()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


def reap(timeout_s: float = 30.0) -> None:
    """Wait for every descendant of this process to end; SIGKILL what is
    left after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()):
        if time.monotonic() >= deadline:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.2)
        try:  # collect exited direct children
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


class RssSampler:
    """Samples the RSS of this process and all its descendants while
    ``active`` is set."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval_s):
            if self.active.is_set():
                self.peak_kb = max(self.peak_kb, tree_rss_kb(me))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
