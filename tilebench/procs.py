"""The benchmark's process tree: finding, waiting for and ending the
processes a run starts (the server, the Spark JVM, its Python workers)."""

from __future__ import annotations

import ctypes
import glob
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def children(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out += [int(p) for p in f.read().split()]
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children(p)
    return out


def alive(pid: int) -> bool:
    """Running, or exited but not yet reaped by its parent."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def adopt_orphans() -> None:
    """Make this process the parent of any descendant whose own parent
    exits, so that ``end_all`` still finds it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_all(grace: float = 10.0) -> list[int]:
    """Terminate every process still below this one, kill what outlives
    ``grace`` seconds, and wait until all have exited and been reaped.
    Returns the pids found running."""
    found = left = [p for p in descendants(os.getpid()) if alive(p)]
    for sig, wait in ((signal.SIGTERM, grace), (signal.SIGKILL, 30.0)):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while True:
            _reap()
            still = [p for p in descendants(os.getpid()) if alive(p)]
            if not still or time.monotonic() >= deadline:
                break
            time.sleep(0.05)
        if not still:
            break
        left = still
    _reap()
    return found
