"""Peak RSS of the Spark JVM and its Python workers, read from /proc.

``psutil`` is not installed, so the reader walks ``/proc/<pid>/stat``
for the descendants of this process and keeps the largest ``VmHWM``
(the kernel's own peak-RSS mark) seen for the JVM and for any PySpark
Python worker.  Workers are reused and die only when the session stops,
so polling twice a second misses no worker's peak by much.
"""

from __future__ import annotations

import os
import threading
import time


def _ppid(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
            # comm may hold spaces or parentheses: split after the last ')'
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            ppid = _ppid(pid)
            if ppid is not None:
                children.setdefault(ppid, []).append(int(pid))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _kind_and_hwm_mb(pid: int) -> tuple[str | None, float]:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ")
        with open(f"/proc/{pid}/status", encoding="utf-8") as f:
            hwm = next((ln for ln in f if ln.startswith("VmHWM:")), None)
    except OSError:
        return None, 0.0
    if hwm is None:
        return None, 0.0
    mb = int(hwm.split()[1]) / 1024.0
    if os.path.basename(cmd.split(b" ", 1)[0]) == b"java":
        return "jvm", mb
    if b"pyspark.daemon" in cmd:  # the daemon and the workers it forks
        return "worker", mb
    return None, mb


class RssReader:
    """Background poller of peak RSS by process kind."""

    def __init__(self, interval: float = 0.5) -> None:
        self.peak_mb = {"worker": 0.0, "jvm": 0.0}
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-reader", daemon=True)

    def start(self) -> None:
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> None:
        for pid in descendants(os.getpid()):
            kind, mb = _kind_and_hwm_mb(pid)
            if kind is not None:
                self.peak_mb[kind] = max(self.peak_mb[kind], mb)

    def stop(self) -> None:
        """Stop polling and take one last sample from this thread."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)
        self.sample()


def cpu_steal_s() -> float:
    """CPU time the hypervisor has given to other guests since boot, summed
    over all CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat", encoding="utf-8") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def wait_for_descendants(timeout: float) -> list[int]:
    """Wait until every child process has exited; returns those left."""
    deadline = time.monotonic() + timeout
    left = descendants(os.getpid())
    while left and time.monotonic() < deadline:
        time.sleep(0.2)
        left = descendants(os.getpid())
    return left
