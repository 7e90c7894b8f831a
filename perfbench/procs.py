"""Stopping every process a run started: the Spark JVM that PySpark
launches and the Python workers that JVM forks. Left alone, the JVM
notices its parent is gone only after the parent has exited, so it
outlives the run for a moment; ``stop_all`` ends each one and waits."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first),
    or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name may hold spaces: fields follow the last ')'
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(root: int) -> dict[int, str]:
    """pid → start time of every live process below ``root``."""
    children: dict[int, list[int]] = {}
    started: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat(int(entry))
        if fields is None or fields[0] == "Z":
            continue
        children.setdefault(int(fields[1]), []).append(int(entry))
        started[int(entry)] = fields[19]
    out: dict[int, str] = {}
    todo = [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out[child] = started[child]
            todo.append(child)
    return out


def alive(pid: int, started: str) -> bool:
    """Whether ``pid`` is still the process that started at ``started``
    and has not exited (a zombie has)."""
    fields = _stat(pid)
    return fields is not None and fields[0] != "Z" and fields[19] == started


def _stop_spark(timeout: float) -> None:
    """Stop the active SparkContext and its JVM, and wait for the JVM."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:
            pass
    gateway = SparkContext._gateway
    if gateway is None:
        return
    try:
        gateway.shutdown()
    except Exception:
        pass
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the JVM exits when its stdin closes
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def stop_all(timeout: float = 30.0) -> None:
    """End every process below this one, Spark first and gently, and
    wait until each has exited."""
    found = descendants(os.getpid())
    _stop_spark(timeout)
    found.update(descendants(os.getpid()))
    terminate(found, timeout)


def terminate(found: dict[int, str], timeout: float = 30.0) -> None:
    """SIGTERM, then SIGKILL, each of ``found`` (pid → start time) that
    is still alive, and wait until it has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = {p: s for p, s in found.items() if alive(p, s)}
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + timeout / 2
        while left and time.monotonic() < deadline:
            for pid in left:
                # reap it if it is our child; others are reaped by their parent
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            left = {p: s for p, s in left.items() if alive(p, s)}
            if left:
                time.sleep(0.05)
        if not left:
            return
