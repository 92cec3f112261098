"""The /proc RSS sampler."""

import os
import subprocess
import sys
import time

from perfbench.rss import RssSampler, descendants, rss_bytes, tree_rss_bytes

_HOLD = "import sys,time; b = bytearray(64 * 2**20); b[::4096] = b'x' * len(b[::4096]); " \
        "print('ready', flush=True); time.sleep(30)"


def test_own_rss_is_positive_and_dead_pid_reads_zero():
    assert rss_bytes(os.getpid()) > 0
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait(timeout=30)
    assert rss_bytes(p.pid) == 0


def test_sampler_sees_a_child_holding_memory():
    p = subprocess.Popen([sys.executable, "-c", _HOLD], stdout=subprocess.PIPE, text=True)
    try:
        assert p.stdout.readline().strip() == "ready"
        assert p.pid in descendants(os.getpid())
        jvm, other = tree_rss_bytes(os.getpid())
        assert jvm == 0 and other >= 64 * 2**20
        with RssSampler(os.getpid(), interval_s=0.01) as rss:
            time.sleep(0.05)
        assert len(rss.samples) >= 2
        assert rss.median_mb >= 64 and rss.peak_mb >= rss.median_mb
        assert rss.jvm_median_mb == 0 and rss.other_median_mb == rss.median_mb
    finally:
        p.kill()
        p.wait(timeout=30)
    assert p.pid not in descendants(os.getpid())
