"""The PySpark Python workers, seen through /proc: their peak resident
memory, and waiting for every process of the session to end.

psutil is not a dependency, so the sampler walks ``/proc`` itself. The
workers are the ``pyspark.daemon`` process and the workers it forks;
both are descendants of this driver process (driver → JVM → daemon →
worker), so only descendants are counted and nothing else on the host
is.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended between listdir and open
        # the command name sits in parentheses and may hold spaces
        fields = stat[stat.rfind(b")") + 2 :].split()
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    kids = _children_map()
    out: list[int] = []
    todo = [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", "rb") as f:
            for line in f:
                if line.startswith(b"VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def worker_rss_mb() -> float:
    """Summed RSS (MB) of this process's PySpark Python workers now."""
    pids = [p for p in descendants(os.getpid()) if _is_python_worker(p)]
    return sum(_rss_kb(p) for p in pids) / 1024.0


def _alive(pid: int) -> bool:
    """Running, not a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(b")") + 2 :].split()[0] != b"Z"


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until none of ``pids`` runs; SIGKILL what still runs after
    ``timeout_s`` and wait for that too."""
    deadline = time.monotonic() + timeout_s
    killed = False
    while alive := [p for p in pids if _alive(p)]:
        if not killed and time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.05)


class PeakSampler:
    """Samples :func:`worker_rss_mb` on a thread until stopped; ``peak``
    is the largest sum seen. Use as a context manager around the timed
    region."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, worker_rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, worker_rss_mb())
