"""Kill points inside ``sources/snapshot.py::commit_snapshot``.

A child process SIGKILLs itself at one step of a commit.  A rerun of the
same commit must bring the table to the chain and files of a run that
was never killed, and ``expire_snapshots`` must walk the chain from
``_current`` without tripping over what the dead commit left.  A run
id's ``_runs/`` marker stays inside ``_runs/`` whatever the id holds.
No Spark: the tables list a few one-byte files.
"""

import os
import signal
import subprocess
import sys
from pathlib import Path

import pytest

from red_seal_ocr_spark.sources.snapshot import (
    commit_snapshot,
    current_snapshot,
    expire_snapshots,
    find_committed_run,
    snapshot_chain,
)

ROOT = Path(__file__).resolve().parent.parent

# each kill point patches one step of the commit in the child; die() is
# the SIGKILL
KILL_POINTS = {
    # the lock is held, no manifest written yet
    "inside_lock_before_manifest": """
write = Path.write_text
def step(self, data, *a, **k):
    if self.name.startswith("snap-"):
        die()
    return write(self, data, *a, **k)
Path.write_text = step
""",
    # half the manifest's bytes are on disk
    "torn_manifest": """
write = Path.write_text
def step(self, data, *a, **k):
    if self.name.startswith("snap-"):
        write(self, data[: len(data) // 2])
        die()
    return write(self, data, *a, **k)
Path.write_text = step
""",
    # the manifest is complete, ``_current`` still names its parent
    "after_manifest_before_flip": """
rename = os.rename
def step(src, dst):
    if Path(dst).name == "_current":
        die()
    return rename(src, dst)
os.rename = step
""",
}

# ``_current`` names the new manifest, its ``_runs/`` marker is unwritten
AFTER_FLIP_BEFORE_MARKER = """
rename = os.rename
def step(src, dst):
    rename(src, dst)
    if Path(dst).name == "_current":
        die()
os.rename = step
"""

CHILD = """
import os, signal, sys
from pathlib import Path
from red_seal_ocr_spark.sources.snapshot import commit_snapshot
def die():
    os.kill(os.getpid(), signal.SIGKILL)
{patch}
commit_snapshot(sys.argv[1], [sys.argv[2]], [], "run-2")
"""


def _table(path):
    """Two committed snapshots and the file the third commit adds."""
    files = []
    for i in range(3):
        f = path / "data" / f"run-{i}-x" / "part-0.parquet"
        f.parent.mkdir(parents=True)
        f.write_bytes(b"x")
        files.append(str(f))
    for i in range(2):
        commit_snapshot(str(path), [files[i]], [], f"run-{i}")
    return str(path), files[2]


def _state(table):
    """The chain and every file under ``table``, paths relative to it."""
    def rel(f):
        return os.path.relpath(f, table)

    chain = [{**m, "data_files": [rel(f) for f in m["data_files"]]}
             for m in snapshot_chain(table)]
    files = sorted(rel(os.path.join(d, f))
                   for d, _, fs in os.walk(table) for f in fs)
    return chain, files


@pytest.mark.parametrize("point", sorted(KILL_POINTS))
def test_rerun_after_kill_converges_to_control(tmp_path, point):
    control, f2 = _table(tmp_path / "control")
    commit_snapshot(control, [f2], [], "run-2")

    table, f2 = _table(tmp_path / "killed")
    child = subprocess.run(
        [sys.executable, "-c", CHILD.format(patch=KILL_POINTS[point]),
         table, f2], cwd=ROOT, capture_output=True, text=True, timeout=60)
    assert child.returncode == -signal.SIGKILL, child.stderr
    assert [m["run_id"] for m in snapshot_chain(table)] == ["run-1", "run-0"]

    # the dead commit's lock is broken, its manifest (if any) dropped
    res = expire_snapshots(table, keep_last=2, lock_timeout_sec=5)
    assert res == {"expired": [], "deleted_files": 0, "kept": [0, 1]}

    commit_snapshot(table, [f2], [], "run-2", lock_timeout_sec=5)
    assert _state(table) == _state(control)
    for t in (control, table):
        res = expire_snapshots(t, keep_last=2)
        assert res["expired"] == [0] and res["kept"] == [1, 2]
    assert _state(table) == _state(control)


def test_rerun_after_kill_between_flip_and_marker_commits_nothing(tmp_path):
    """A commit killed after its ``_current`` flip has committed; the
    next commit writes the missing marker under the lock, so a rerun of
    the same run id returns snapshot 2, the table matches a run that was
    never killed (markers included), and the run still counts as
    committed once its snapshot has expired."""
    control, f2 = _table(tmp_path / "control")
    commit_snapshot(control, [f2], [], "run-2")

    table, f2 = _table(tmp_path / "killed")
    child = subprocess.run(
        [sys.executable, "-c", CHILD.format(patch=AFTER_FLIP_BEFORE_MARKER),
         table, f2], cwd=ROOT, capture_output=True, text=True, timeout=60)
    assert child.returncode == -signal.SIGKILL, child.stderr
    assert current_snapshot(table)["run_id"] == "run-2"
    assert not (Path(table) / "_runs" / "run-2.json").exists()

    m = commit_snapshot(table, [f2], [], "run-2", lock_timeout_sec=5,
                        once_per_run=True)
    assert m["snapshot_id"] == 2
    assert _state(table) == _state(control)

    for t in (control, table):
        commit_snapshot(t, [], [], "run-3")
        expire_snapshots(t, keep_last=1)
    m = commit_snapshot(table, [f2], [], "run-2", once_per_run=True)
    assert (m["snapshot_id"], m["run_id"]) == (2, "run-2")
    assert _state(table) == _state(control)


@pytest.mark.parametrize("run_id", ["a/../../b", "..", "."])
def test_run_marker_stays_inside_runs(tmp_path, run_id):
    """A run id is quoted into one file name under ``_runs/``: no ``/``
    or ``..`` in it reaches another directory."""
    table = str(tmp_path / "t")
    commit_snapshot(table, [], [], run_id)
    files = sorted(os.path.relpath(os.path.join(d, f), tmp_path)
                   for d, _, fs in os.walk(tmp_path) for f in fs)
    assert [f for f in files if not f.startswith("t/_runs/")] == [
        "t/_current", "t/_snapshots/snap-0.json"]
    assert len(os.listdir(os.path.join(table, "_runs"))) == 1
    assert find_committed_run(table, run_id)["snapshot_id"] == 0
