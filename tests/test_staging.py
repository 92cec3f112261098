"""One staging-and-commit path for snapshot tables
(``sources/snapshot.py::commit_run``): a retry of a run started while the
first attempt is still alive leaves a readable table holding the run
once, a compaction never drops an append that lands inside its commit,
and source checks that no other function commits a snapshot, overwrites
a snapshot table's files or keeps its own replay rule."""

import ast
import os
import shutil
from pathlib import Path

import pytest

import red_seal_ocr_spark.sources.snapshot as snapmod
from red_seal_ocr_spark.sources.snapshot import (
    current_snapshot,
    read_table,
    snapshot_chain,
)

ROOT = Path(__file__).resolve().parent.parent

# outputs that are plain directories a job replaces, not snapshot tables
OVERWRITE_OK = {
    "red_seal_ocr_spark/operators/sampling.py::write_training_shards",
    "jobs/json_sink.py::main",
    "jobs/rank_job.py::main",
}


def _retry_inside_first_commit(monkeypatch, retry):
    """Run ``retry`` (a second attempt at the same run) inside the first
    attempt's ``commit_snapshot``: the retry stages and commits while the
    first attempt's files are written but not yet committed."""
    real = snapmod.commit_snapshot
    calls = []

    def first_commit_runs_retry(*a, **k):
        if not calls:
            calls.append(1)
            retry()
        return real(*a, **k)

    monkeypatch.setattr(snapmod, "commit_snapshot", first_commit_runs_retry)


def _assert_current_files_exist(table):
    cur = current_snapshot(table)
    assert cur["data_files"]
    assert [f for f in cur["data_files"] if not os.path.exists(f)] == []


def _assert_committed_once(spark, table, run_id, n_rows):
    """``run_id`` is on the chain exactly once and its rows are not
    doubled."""
    assert [m["run_id"] for m in snapshot_chain(table)].count(run_id) == 1
    assert read_table(spark, table).count() == n_rows


def test_banded_corpus_retry_while_first_attempt_alive(spark, tmp_path, monkeypatch):
    from red_seal_ocr_spark.sources.snapshot import write_banded_corpus

    t = str(tmp_path / "banded")
    rows = spark.createDataFrame([(1, 0, 5), (2, 1, 7)],
                                 "doc_id bigint, band int, bucket long")
    params = {"num_hashes": 32, "bands": 8, "shingle_k": 3, "id_col": "doc_id"}
    _retry_inside_first_commit(
        monkeypatch, lambda: write_banded_corpus(rows, t, "run-1", params))
    write_banded_corpus(rows, t, "run-1", params)
    _assert_current_files_exist(t)
    assert {r.doc_id for r in read_table(spark, t).collect()} == {1, 2}
    _assert_committed_once(spark, t, "run-1", 2)


def test_tokenizer_retry_while_first_attempt_alive(spark, tmp_path, monkeypatch):
    from red_seal_ocr_spark.sources.snapshot import (
        read_tokenizer_merges,
        write_tokenizer_merges,
    )

    t = str(tmp_path / "tok")
    merges = [("a", "b"), ("ab", "c")]
    params = {"n_merges": 2}
    _retry_inside_first_commit(
        monkeypatch,
        lambda: write_tokenizer_merges(spark, merges, t, "train-1", params))
    write_tokenizer_merges(spark, merges, t, "train-1", params)
    _assert_current_files_exist(t)
    assert read_tokenizer_merges(spark, t, expect_params=params) == merges
    _assert_committed_once(spark, t, "train-1", 2)


def test_site_line_stats_retry_while_first_attempt_alive(spark, tmp_path,
                                                         monkeypatch):
    from red_seal_ocr_spark.streaming.curate_stream import update_site_line_stats

    stats = str(tmp_path / "stats")
    b = spark.createDataFrame(
        [("d1", "s", "shared\nown1"), ("d2", "s", "shared\nown2")],
        "doc_id string, source string, text string",
    )
    _retry_inside_first_commit(
        monkeypatch, lambda: update_site_line_stats(spark, b, stats, batch_id=0))
    update_site_line_stats(spark, b, stats, batch_id=0)
    _assert_current_files_exist(stats)
    st = {(r.site, r.line): r.cnt for r in read_table(spark, stats).collect()}
    assert st[("s", "shared")] == 2
    assert st[("s", None)] == 2
    # (s, shared), (s, own1), (s, own2) and the (s, NULL) doc-count row
    _assert_committed_once(spark, stats, "batch-0", 4)


def test_compaction_raises_when_an_append_lands_inside_its_commit(
        spark, tmp_path, monkeypatch):
    """A REPLACE publishes only the files it rewrote, so an append that
    lands between ``compact_table``'s read and its commit must make the
    compaction raise, not vanish from the table."""
    from red_seal_ocr_spark.sources.snapshot import commit_run, compact_table

    t = str(tmp_path / "t")

    def docs(*ids):
        return spark.createDataFrame([(i,) for i in ids], "doc_id bigint")

    commit_run(t, "a", docs(1))
    commit_run(t, "b", docs(2))
    _retry_inside_first_commit(monkeypatch, lambda: commit_run(t, "c", docs(3)))
    with pytest.raises(RuntimeError, match="REPLACE of snapshot 1"):
        compact_table(spark, t)
    assert sorted(r.doc_id for r in read_table(spark, t).collect()) == [1, 2, 3]
    assert [m["run_id"] for m in snapshot_chain(t)] == ["c", "b", "a"]


@pytest.mark.parametrize("n", [10, 1000])
def test_replay_check_reads_only_the_manifest_its_marker_names(
        tmp_path, monkeypatch, n):
    """The replay check is one ``_runs/`` marker read plus the manifest
    the marker names, however long the history: under the lock a commit
    reads its parent and nothing else of the chain."""
    t = str(tmp_path / "t")
    for i in range(n):
        snapmod.commit_snapshot(t, [], [], f"run-{i}")
    reads = []
    real = Path.read_text
    monkeypatch.setattr(Path, "read_text",
                        lambda self, *a, **k: reads.append(self.name)
                        or real(self, *a, **k))

    assert snapmod.find_committed_run(t, "run-3")["snapshot_id"] == 3
    assert reads == ["run-3.json", "snap-3.json"]
    reads.clear()
    assert snapmod.find_committed_run(t, "absent") is None
    assert reads == []
    # a replay under the lock: the parent, the marker, its manifest
    reads.clear()
    assert snapmod.commit_snapshot(t, [], [], "run-3",
                                   once_per_run=True)["snapshot_id"] == 3
    assert reads == ["_current", f"snap-{n - 1}.json", "run-3.json",
                     "snap-3.json"]


def test_commit_indexes_a_table_written_before_the_run_index(tmp_path):
    """A table whose commits left no ``_runs/`` markers gets them all on
    its next commit, so none of its run ids commits again."""
    t = str(tmp_path / "t")
    for i in range(3):
        snapmod.commit_snapshot(t, [], [], f"run-{i}")
    shutil.rmtree(Path(t) / "_runs")
    assert snapmod.commit_snapshot(t, [], [], "run-0",
                                   once_per_run=True)["snapshot_id"] == 0
    assert sorted(os.listdir(Path(t) / "_runs")) == [
        "run-0.json", "run-1.json", "run-2.json"]


def test_replay_after_expiry_returns_the_original_commit(spark, tmp_path):
    """A run id stays committed after ``expire_snapshots`` drops its
    snapshot: the replay gets the original snapshot id, run id and
    extra back and adds no rows."""
    from red_seal_ocr_spark.sources.snapshot import commit_run, expire_snapshots

    t = str(tmp_path / "t")
    for i in range(3):
        commit_run(t, f"r{i}", spark.createDataFrame([(i,)], "doc_id bigint"),
                   extra={"job": f"job-{i}"})
    assert expire_snapshots(t, keep_last=1)["expired"] == [0, 1]
    m = commit_run(t, "r0", spark.createDataFrame([(9,)], "doc_id bigint"),
                   extra={"job": "again"})
    assert (m["snapshot_id"], m["run_id"], m["job"]) == (0, "r0", "job-0")
    assert current_snapshot(t)["snapshot_id"] == 2
    assert sorted(r.doc_id for r in read_table(spark, t).collect()) == [0, 1, 2]


def test_params_race_commits_no_mixed_band_rows(spark, tmp_path, monkeypatch):
    """An ingest under other ``lsh_params`` that commits inside this
    ingest's commit makes this one raise under the lock: the table holds
    one hash family's band rows."""
    from red_seal_ocr_spark.sources.snapshot import write_banded_corpus

    t = str(tmp_path / "banded")
    rows = spark.createDataFrame([(1, 0, 5), (2, 1, 7)],
                                 "doc_id bigint, band int, bucket long")
    p32 = {"num_hashes": 32, "bands": 8, "shingle_k": 3, "id_col": "doc_id"}
    p16 = {**p32, "num_hashes": 16, "bands": 4}
    _retry_inside_first_commit(
        monkeypatch, lambda: write_banded_corpus(rows, t, "ingest-16", p16))
    with pytest.raises(ValueError, match="lsh_params .*refusing to append"):
        write_banded_corpus(rows, t, "ingest-32", p32)
    assert [m["run_id"] for m in snapshot_chain(t)] == ["ingest-16"]
    assert current_snapshot(t)["lsh_params"] == p16
    assert read_table(spark, t).count() == 2


def test_run_files_raises_once_the_parent_has_expired(tmp_path):
    """Without its parent a commit's own files are unknown: ``run_files``
    raises naming the expired snapshot instead of calling every file of
    the table the run's own."""
    t = str(tmp_path / "t")
    for i in range(3):
        snapmod.commit_snapshot(t, [f"{t}/f{i}a", f"{t}/f{i}b"], [],
                                f"run-{i}")
    snapmod.expire_snapshots(t, keep_last=1)
    with pytest.raises(ValueError, match="snapshot 1 has expired"):
        snapmod.run_files(t, current_snapshot(t))


def _calls(path):
    """``(top-level definition, call node)`` for every call in ``path``."""
    tree = ast.parse(path.read_text(), str(path))
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                yield owner, node


def _sources(tops=("red_seal_ocr_spark", "jobs")):
    for top in tops:
        for path in sorted((ROOT / top).rglob("*.py")):
            yield path, path.relative_to(ROOT).as_posix()


def test_only_the_snapshot_module_and_run_extract_commit():
    """Every snapshot writer commits through ``snapshot.commit_run``;
    ``run_extract`` keeps its own steps (its lineage is read back from
    the data files it writes, and the traced profiler patches them)."""
    offenders = []
    for path, rel in _sources():
        if rel == "red_seal_ocr_spark/sources/snapshot.py":
            continue
        for owner, call in _calls(path):
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            where = f"{rel}::{owner}"
            if name == "commit_snapshot" and where != (
                    "red_seal_ocr_spark/operators/extract.py::run_extract"):
                offenders.append(f"{where}:{call.lineno}")
    assert offenders == []


def test_no_overwrite_writes_outside_plain_outputs():
    """A ``mode("overwrite")`` write to a snapshot table deletes the files
    another live attempt of the same run is about to commit; only the
    listed plain outputs may overwrite."""
    offenders = []
    for path, rel in _sources():
        for owner, call in _calls(path):
            f = call.func
            if (isinstance(f, ast.Attribute) and f.attr == "mode" and call.args
                    and isinstance(call.args[0], ast.Constant)
                    and str(call.args[0].value).lower() == "overwrite"
                    and f"{rel}::{owner}" not in OVERWRITE_OK):
                offenders.append(f"{rel}::{owner}:{call.lineno}")
    assert offenders == []


def test_replay_rule_lives_in_the_snapshot_module():
    """"A run id commits once" is ``snapshot.commit_run``'s rule, checked
    under the commit lock: no other function calls ``find_committed_run``
    (``curate_job.main`` may, to skip starting Spark for a replay) and no
    code reads a ``last_batch_id`` manifest field."""
    offenders = []
    for path, rel in _sources(("red_seal_ocr_spark", "jobs", "tools")):
        tree = ast.parse(path.read_text(), str(path))
        for top in tree.body:
            where = f"{rel}::{getattr(top, 'name', '<module>')}"
            for node in ast.walk(top):
                name = (node.id if isinstance(node, ast.Name)
                        else getattr(node, "attr", None)
                        if isinstance(node, ast.Attribute)
                        else node.value if isinstance(node, ast.Constant)
                        else None)
                if name == "last_batch_id" or (
                        name == "find_committed_run"
                        and rel != "red_seal_ocr_spark/sources/snapshot.py"
                        and where != "jobs/curate_job.py::main"):
                    offenders.append(f"{where}:{node.lineno}")
    assert offenders == []
