"""Stopping every process a run starts."""

import os
import subprocess
import sys
import textwrap
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]

# A driver that starts an orphan (its parent exits at once), a child that
# ignores SIGTERM and multiprocessing's resource tracker, then stops them.
_DRIVER = textwrap.dedent("""
    import multiprocessing, os, signal, subprocess, sys, time
    from perfbench.procs import adopt_orphans, stop_processes
    from perfbench.rss import descendants

    adopt_orphans()
    py = sys.executable
    orphan = subprocess.run(
        [py, "-c", "import subprocess, sys; "
                   "print(subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)'], "
                   "stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).pid)"],
        capture_output=True, text=True, check=True).stdout.strip()
    stubborn = subprocess.Popen(
        [py, "-c", "import signal, time; signal.signal(signal.SIGTERM, signal.SIG_IGN); "
                   "print('ready', flush=True); time.sleep(60)"],
        stdout=subprocess.PIPE, text=True)
    assert stubborn.stdout.readline().strip() == "ready"
    multiprocessing.get_context("spawn").Lock()
    before = descendants(os.getpid())
    t0 = time.monotonic()
    stop_processes(grace_s=1.0)
    print(int(orphan) in before, len(before), len(descendants(os.getpid())),
          round(time.monotonic() - t0, 1))
""")


def test_stop_processes_ends_orphans_stubborn_children_and_the_tracker():
    out = subprocess.run([sys.executable, "-c", _DRIVER], cwd=ROOT, capture_output=True,
                         text=True, timeout=60, env={**os.environ, "PYTHONPATH": str(ROOT)})
    assert out.returncode == 0, out.stderr
    adopted, before, after, took = out.stdout.split()
    # the orphan, the stubborn child and the tracker were all below the driver
    assert adopted == "True" and int(before) == 3
    assert int(after) == 0
    assert float(took) < 10
