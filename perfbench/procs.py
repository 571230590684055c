"""Process-tree helpers: peak resident memory and clean shutdown.

Peak memory counts the whole tree under the benchmark process: the
Python driver, the Spark JVM it launches, Spark's Python workers and,
for the dashboard, the server process and its own JVM. Each process
contributes its proportional set size (PSS), so pages shared between
processes, as between Spark's forked Python workers or a JVM and the
helper it spawns to run `chmod`, are counted once.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # Field 4 (ppid) follows the parenthesised command name.
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_pss_mb(root: int) -> float:
    total_kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class PeakPss:
    """Samples the tree's summed PSS on a background thread."""

    # One sample reads every process's smaps_rollup, about 10 ms for a
    # JVM with a 2 GB heap; sampling more often slows the JVM measurably.
    def __init__(self, root: int | None = None, interval: float = 0.5) -> None:
        self.root = root or os.getpid()
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakPss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))


def stop_tree(proc: subprocess.Popen, timeout: float = 20.0) -> None:
    """SIGTERM a child and let it exit first (a traced server writes its
    spans then), then stop whatever was running under it."""
    pids = descendants(proc.pid)
    proc.terminate()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        pass
    stop_processes(pids, timeout)


def stop_descendants(timeout: float = 20.0) -> None:
    """Stop every process this one started, directly or not (the Spark
    JVM and its Python workers)."""
    me = os.getpid()
    stop_processes([p for p in descendants(me) if p != me], timeout)


def stop_processes(pids: list[int], timeout: float = 20.0) -> None:
    """SIGTERM, then SIGKILL, each process still running, and return once
    all have ended: direct children reaped, others gone or defunct."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            if not _ended(pid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + timeout / 2
        while time.monotonic() < deadline:
            if all(_ended(p) for p in pids):
                return
            time.sleep(0.05)


def _ended(pid: int) -> bool:
    try:
        return os.waitpid(pid, os.WNOHANG)[0] == pid
    except ChildProcessError:  # not a child of this process, or reaped
        return not _alive(pid)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
