"""One staging-and-commit path for snapshot tables
(``sources/snapshot.py::commit_run``): a retry of a run started while the
first attempt is still alive leaves a readable table, and a source check
that no other function commits a snapshot or overwrites a snapshot
table's files."""

import ast
import os
from pathlib import Path

import red_seal_ocr_spark.sources.snapshot as snapmod
from red_seal_ocr_spark.sources.snapshot import current_snapshot, read_table

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


def _calls(path):
    """``(top-level definition, call node)`` for every call in ``path``."""
    tree = ast.parse(path.read_text(), str(path))
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                yield owner, node


def _sources():
    for top in ("red_seal_ocr_spark", "jobs"):
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
