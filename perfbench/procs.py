"""Ending every process a run starts before the run exits.

A run starts the Spark JVM (which starts the Python worker daemon and its
workers) and, on a checkout's first run, a pool of input renderers with
multiprocessing's resource tracker.  Left alone, the JVM and the tracker
exit only after the driver has exited, and a worker whose parent dies is
handed to the system's reaper.  ``adopt_orphans`` makes the driver that
reaper, and ``stop_processes`` ends and waits for every process below it.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time

from .rss import descendants

_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make processes orphaned below this one its children, so that it can
    wait for them too."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_jvm(grace_s: float) -> None:
    """Stop the SparkContext, if one is still running, and the JVM: it
    exits when the pipe on its standard input closes."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    # a run cut short may have broken the gateway's connection; the JVM
    # is stopped below either way
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway.shutdown()
    except Exception:  # noqa: BLE001
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=grace_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _stop_resource_tracker() -> None:
    """multiprocessing's resource tracker ignores SIGTERM; closing its
    pipe ends it."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()


def stop_processes(grace_s: float = 30.0) -> None:
    """End every process below this one and wait until each has ended.

    The JVM and the resource tracker are asked to exit; whatever is left
    after them gets SIGTERM, and SIGKILL once ``grace_s`` has passed.
    """
    try:
        _stop_jvm(grace_s)
    finally:
        _stop_resource_tracker()
        deadline = time.monotonic() + grace_s
        while True:
            _reap()
            left = descendants(os.getpid())
            if not left:
                return
            sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)
