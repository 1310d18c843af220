"""Process hygiene for a run: every process the run starts (the Spark
JVM and the Python workers it forks) has ended before the run exits.

PySpark starts the JVM as a child that exits when its standard input
closes, which normally happens only as this interpreter exits, so the
JVM and its workers would outlive the run by however long their
shutdown takes. ``become_reaper`` makes orphaned descendants children of
this process; ``stop_all`` stops Spark, closes the JVM's standard input
and waits for every descendant, killing whatever outlives the grace
period."""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

PR_SET_CHILD_SUBREAPER = 36


def become_reaper() -> None:
    """Adopt orphaned descendants, so that they can be waited for. Call
    before anything starts a process."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process),
    read from ``/proc``."""
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # "pid (comm) state ppid ...": comm may hold spaces and ")".
                ppid = fh.read().rsplit(")", 1)[1].split()[1]
        except (OSError, ValueError):
            continue  # ended while we looked
        parent[int(entry)] = int(ppid)
    found: set[int] = set()
    frontier = {root}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - found
        found |= frontier
    return sorted(found)


def _reap() -> None:
    """Collect every child that has ended."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def wait_all(grace: float) -> list[int]:
    """Wait until no descendant is left. After ``grace`` seconds each
    one left is killed; returns the pids that had to be killed."""
    killed: list[int] = []
    deadline = time.monotonic() + grace
    _reap()
    while left := descendants():
        if time.monotonic() >= deadline:
            if killed:
                break  # killed, yet not gone within 10 s: nothing more to do
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                    killed.append(pid)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10.0
        time.sleep(0.02)
        _reap()
    return killed


def stop_all(grace: float) -> None:
    """Stop the Spark context if one is active, let the JVM exit, and
    wait for every process this run started."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            try:
                sc.stop()
            except Exception as exc:  # the JVM may be gone already
                print(f"spark stop: {exc!r}", file=sys.stderr)
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits at end of input
    killed = wait_all(grace)
    if killed:
        print(f"killed processes left after {grace} s: {killed}", file=sys.stderr)
