"""Process-tree accounting from /proc: CPU seconds, resident memory, and
waiting for every descendant (the JVM and its Python workers) to exit."""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, stack = [], list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def tree() -> list[int]:
    return [os.getpid()] + descendants()


def cpu_seconds(pids: list[int] | None = None) -> float:
    """User + system CPU of the live tree, children already reaped
    included (cutime/cstime)."""
    total = 0
    for pid in pids or tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def rss_mb(pids: list[int] | None = None) -> float:
    total = 0
    for pid in pids or tree():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 1e6


class RssSampler:
    """Background thread sampling the tree's summed RSS; `peak` is the
    largest sample since the last reset."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_mb())
            self._stop.wait(self.interval)

    def reset(self) -> None:
        self.peak = rss_mb()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host's CPUs since boot: the share
    stolen is the time a virtual CPU was ready but the hypervisor ran
    someone else, which slows every figure of a run alike."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def reap_all(timeout: float = 60.0) -> None:
    """Wait until every descendant has exited; terminate, then kill, what
    is left when the timeout runs out."""
    deadline = time.monotonic() + timeout
    sig = None
    while True:
        left = descendants()
        if not left:
            return
        for pid in left:
            try:  # reap direct children that already exited
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            for pid in descendants():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.1)
