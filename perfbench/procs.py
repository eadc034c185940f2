"""Stopping every process a run started, on every path out of it.

PySpark launches the Spark JVM as a child and lets it exit on its own
once the interpreter's end closes the JVM's stdin; the JVM in turn forks
the Python worker daemon and its workers. Left alone, they outlive the
benchmark by seconds. ``adopt_orphans`` makes this process the reaper of
every orphaned descendant (Linux ``PR_SET_CHILD_SUBREAPER``), so
``stop_all`` can wait for each one, whoever its parent was.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Become the parent of orphaned descendants; a no-op off Linux."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1,
                                                0, 0, 0)
    except (OSError, AttributeError):
        pass


def descendants() -> list[int]:
    """Every live or unreaped process below this one."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # fields after the parenthesized command name: state, ppid, ...
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def stop_all(grace_s: float = 60.0) -> list[int]:
    """Stop the Spark session and its JVM, then wait until no descendant
    is left, killing those still alive after ``grace_s``. Returns the
    pids that had to be killed."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:
            pass
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        # the JVM exits when its stdin reaches end of file
        proc.stdin.close()
    killed: list[int] = []
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        left = descendants()
        if not left:
            return killed
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                    killed.append(pid)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + grace_s
        time.sleep(0.05)
