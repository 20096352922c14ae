"""CPU time and resident memory of a process tree, read from /proc.

The tree is the Spark driver JVM and everything under it: the Python driver
and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats() -> dict[int, list[str]]:
    """pid -> /proc/<pid>/stat fields after the command name."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # exited while we listed
            continue
        out[int(name)] = raw[raw.rindex(")") + 2:].split()
    return out


def _tree(root: int, stats: dict[int, list[str]]) -> list[list[str]]:
    kids: dict[int, list[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    todo, out = [root], []
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
            todo.extend(kids.get(pid, []))
    return out


def session_pids(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``."""
    return [pid for pid, f in _stats().items() if int(f[3]) == sid and f[0] != "Z"]


def end_session(proc: subprocess.Popen, timeout: float = 30.0) -> None:
    """Kills every process of the session ``proc`` leads (it was started
    with ``start_new_session``) and waits until none is left. Process
    groups are not enough: PySpark's worker daemon moves to a group of its
    own, and multiprocessing's resource tracker outlives its parent, but
    both stay in the session."""
    end = time.monotonic() + timeout
    while True:
        pids = session_pids(proc.pid)
        if not pids:
            break
        if time.monotonic() > end:
            raise RuntimeError(f"processes {pids} of session {proc.pid} survive SIGKILL")
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        proc.poll()  # reap the leader
        time.sleep(0.05)
    proc.wait()


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the live tree, plus what its reaped
    children used (cutime/cstime), so exited workers still count."""
    return sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
               for f in _tree(root, _stats())) / _TICK


def tree_rss_mb(root: int) -> float:
    return sum(int(f[21]) for f in _tree(root, _stats())) * _PAGE / 1e6


class RssSampler:
    """Samples the tree's summed RSS on a thread until stop(); returns the
    peak in MB."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root, self.interval = root, interval
        self.peak = 0.0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_mb(self.root))
            if self._done.wait(self.interval):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._done.set()
        self._thread.join(timeout=5)
        return max(self.peak, tree_rss_mb(self.root))
