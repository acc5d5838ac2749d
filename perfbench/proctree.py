"""The benchmark's process tree from /proc: peak RSS and Python-worker CPU.

The tree is this process plus every descendant: the Spark JVM that
PySpark launches and the PySpark daemon and workers that the JVM forks.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields after it start at index 0 = state
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, ()):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pids) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_worker_cpu_s(root: int) -> float:
    """CPU seconds of the PySpark daemon and workers, including workers
    that exited and were reaped by the daemon (cutime/cstime)."""
    total = 0
    for pid in descendants(root):
        cmd = _cmdline(pid)
        if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            st = _stat(pid)
            if st:
                total += sum(int(x) for x in st[11:15])
    return total / _TICK


class RssSampler:
    """Samples the RSS of the whole tree in a background thread and keeps
    the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        pids = [os.getpid()] + descendants(os.getpid())
        self.peak = max(self.peak, rss_bytes(pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()
            self.sample()
