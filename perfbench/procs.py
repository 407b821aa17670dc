"""The benchmark's process tree, read from /proc: CPU, RSS, bytes
written, and clean shutdown.

The benchmark's Python process makes itself a child subreaper, so the JVM's
Python daemon and workers stay its descendants even after the JVM
exits, and can be waited for before the run ends.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

PR_SET_CHILD_SUBREAPER = 36
CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name; index 0 is field 3
    return s[s.rindex(")") + 2:].split()


def descendants(root: int | None = None) -> list[int]:
    """Every live descendant of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")[:120]
    except OSError:
        return ""


def tree() -> list[int]:
    return [os.getpid()] + descendants()


def cpu_seconds(pids: list[int]) -> float:
    """user+sys of the processes plus their reaped children."""
    ticks = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


def write_bytes(pids: list[int]) -> int:
    """Bytes the processes caused to be written to storage."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    if line.startswith("write_bytes:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total


class Sampler:
    """Background sampler of the tree's summed RSS and the scratch
    directory's size; ``peaks()`` returns the maxima since the last
    ``reset()``."""

    def __init__(self, scratch: str, interval: float = 0.05, dir_every: int = 4):
        self.scratch = scratch
        self.interval = interval
        self.dir_every = dir_every
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._rss = 0
        self._dir = 0
        self._thread = threading.Thread(target=self._loop, name="perfbench-sampler", daemon=True)

    def start(self) -> "Sampler":
        self._thread.start()
        return self

    def _loop(self) -> None:
        pids = tree()
        i = 0
        while not self._stop.wait(self.interval):
            if i % 20 == 0:
                pids = tree()
            rss = rss_bytes(pids)
            d = dir_bytes(self.scratch) if i % self.dir_every == 0 else 0
            with self._lock:
                self._rss = max(self._rss, rss)
                self._dir = max(self._dir, d)
            i += 1

    def reset(self) -> None:
        with self._lock:
            self._rss = self._dir = 0

    def peaks(self) -> tuple[int, int]:
        with self._lock:
            return self._rss, self._dir

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def reap(timeout: float) -> list[int]:
    """Wait up to ``timeout`` for every descendant to exit, reaping them;
    SIGKILL what is left.  Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout
    killed: list[int] = []
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = descendants()
        if not left:
            return killed
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {left} survived SIGKILL")
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                    killed.append(pid)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)
