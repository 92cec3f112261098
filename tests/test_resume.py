"""Checkpoint / resume / idempotence property tests (SURVEY.md test #4)."""

import tempfile

import pytest

from red_seal_ocr_spark.operators.extract import run_extract
from red_seal_ocr_spark.sources.snapshot import (
    commit_snapshot,
    current_snapshot,
    read_table,
)
from red_seal_ocr_spark.sources.spark_tables import documents_df, media_df

N = 12


def test_partial_then_resume_then_idempotent(spark, tmp_path):
    table = str(tmp_path / "out")
    docs = documents_df(spark, N)
    media = media_df(spark, N)

    # simulated interrupted run: only half the input was committed
    half = docs.filter(f"doc_id < 'doc-{N//2:08d}'")
    m1 = run_extract(spark, half, media, table, run_id="r1")
    assert m1["snapshot_id"] == 0
    assert read_table(spark, table).count() == N // 2

    # resume with the full input: processes only the remainder
    m2 = run_extract(spark, docs, media, table, run_id="r2")
    t = read_table(spark, table)
    assert t.count() == N
    assert t.select("doc_id").distinct().count() == N  # no double-processing

    # full rerun is a no-op commit
    run_extract(spark, docs, media, table, run_id="r3")
    assert read_table(spark, table).count() == N

    # lineage carries per-partition metrics for both producing runs
    lin = read_table(spark, table, lineage=True)
    rows = lin.collect()
    assert {r.run_id for r in rows} == {"r1", "r2"}
    assert sum(r.docs for r in rows) == N
    assert all(r.partition_file for r in rows)


def test_resumed_result_equals_single_run(spark, tmp_path):
    """Kill-and-resume must yield byte-identical span sequences to one run."""
    docs = documents_df(spark, 8)
    media = media_df(spark, 8)

    t_split = str(tmp_path / "split")
    run_extract(spark, docs.filter("doc_id < 'doc-00000003'"), media, t_split, run_id="a")
    run_extract(spark, docs, media, t_split, run_id="b")

    t_single = str(tmp_path / "single")
    run_extract(spark, docs, media, t_single, run_id="c")

    def canon(table):
        return sorted(
            (r.doc_id, [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans])
            for r in read_table(spark, table).collect()
        )

    assert canon(t_split) == canon(t_single)


def test_aborted_run_files_invisible(spark, tmp_path):
    """Files from a run that never committed are not readable via the table."""
    table = str(tmp_path / "out")
    docs = documents_df(spark, 4)
    media = media_df(spark, 4)
    run_extract(spark, docs, media, table, run_id="ok")
    n = read_table(spark, table).count()
    # orphan write (simulates a crash after write, before commit)
    docs.limit(2).write.json(f"{table}/data/run-crashed")  # wrong format on purpose
    assert read_table(spark, table).count() == n  # manifest ignores orphans


def test_snapshot_pointer_atomicity(tmp_path):
    table = str(tmp_path / "t")
    m0 = commit_snapshot(table, ["f1"], [], "r0")
    m1 = commit_snapshot(table, ["f2"], [], "r1")
    cur = current_snapshot(table)
    assert cur["snapshot_id"] == 1
    assert cur["parent_snapshot_id"] == 0
    assert set(cur["data_files"]) == {"f1", "f2"}


def test_snapshot_time_travel(spark, tmp_path):
    """Historical snapshots stay readable and immutable as runs commit."""
    table = str(tmp_path / "tt")
    docs = documents_df(spark, 8)
    media = media_df(spark, 8)
    run_extract(spark, docs.filter("doc_id < 'doc-00000004'"), media, table, run_id="t1")
    run_extract(spark, docs, media, table, run_id="t2")
    assert read_table(spark, table).count() == 8                      # current
    assert read_table(spark, table, snapshot_id=0).count() == 4       # time travel
    assert read_table(spark, table, snapshot_id=1).count() == 8
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no snapshot 9"):
        read_table(spark, table, snapshot_id=9)


def test_concurrent_commits_no_lost_update(tmp_path):
    """Two committers racing: both snapshots land (mkdir lock serializes)."""
    import threading

    table = str(tmp_path / "race")
    errors = []

    def commit(i):
        try:
            commit_snapshot(table, [f"file-{i}"], [], f"run-{i}")
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=commit, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    cur = current_snapshot(table)
    assert cur["snapshot_id"] == 7
    assert set(cur["data_files"]) == {f"file-{i}" for i in range(8)}


def test_held_commit_lock_times_out(tmp_path):
    """While the commit lock is held, commit and expire both give up after
    lock_timeout_sec and leave the lock and the snapshot untouched."""
    from red_seal_ocr_spark.sources.snapshot import expire_snapshots

    table = str(tmp_path / "locked")
    commit_snapshot(table, ["file-0"], [], "run-0")
    lock = tmp_path / "locked" / "_commit.lock"
    lock.mkdir()
    with pytest.raises(TimeoutError, match="commit lock"):
        commit_snapshot(table, ["file-1"], [], "run-1", lock_timeout_sec=0.2)
    with pytest.raises(TimeoutError, match="commit lock"):
        expire_snapshots(table, keep_last=1, lock_timeout_sec=0.2)
    assert lock.is_dir()
    assert current_snapshot(table)["data_files"] == ["file-0"]
    lock.rmdir()
    assert commit_snapshot(table, ["file-1"], [], "run-1")["snapshot_id"] == 1


def test_dead_owner_commit_lock_is_broken(tmp_path):
    """A process SIGKILLed while it holds the commit lock leaves the lock
    behind with its owner record.  While the record names another host
    or a live pid the lock is waited out; once it names this host and
    the dead pid, the next commit breaks it and lands."""
    import json
    import os
    import signal
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    table = tmp_path / "killed"
    table.mkdir()
    code = ("import os, pathlib, signal, sys\n"
            "from red_seal_ocr_spark.sources.snapshot import _commit_lock\n"
            "with _commit_lock(pathlib.Path(sys.argv[1]), 5.0):\n"
            "    os.kill(os.getpid(), signal.SIGKILL)\n")
    env = {**os.environ, "PYTHONPATH": str(repo)}
    proc = subprocess.run([sys.executable, "-c", code, str(table)], env=env,
                          timeout=60)
    assert proc.returncode == -signal.SIGKILL
    lock = table / "_commit.lock"
    owner = json.loads(lock.read_text())
    assert {"host", "pid", "start"} <= set(owner)

    for live_or_foreign in ({**owner, "host": owner["host"] + "-elsewhere"},
                            {**owner, "pid": os.getpid()}):
        lock.write_text(json.dumps(live_or_foreign))
        with pytest.raises(TimeoutError, match="commit lock"):
            commit_snapshot(str(table), ["file-0"], [], "run-0",
                            lock_timeout_sec=0.2)

    lock.write_text(json.dumps(owner))
    m = commit_snapshot(str(table), ["file-0"], [], "run-0", lock_timeout_sec=0.2)
    assert m["snapshot_id"] == 0
    assert not lock.exists()
    assert sorted(p.name for p in table.iterdir()) == [
        "_current", "_runs", "_snapshots"]


def test_commit_lock_stress_with_owners_killed_inside(tmp_path):
    """Six processes (more than the cores) commit ten snapshots each to
    one table; three are SIGKILLed while holding the lock and stay
    unreaped until the end.  Every commit made lands exactly once (no
    lost update, no double break) and no waiter times out."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    table = tmp_path / "stress"
    table.mkdir()
    code = ("import os, pathlib, signal, sys\n"
            "from red_seal_ocr_spark.sources.snapshot import _commit_lock, commit_snapshot\n"
            "table, w = sys.argv[1], int(sys.argv[2])\n"
            "for i in range(10):\n"
            "    if i == {1: 2, 3: 5, 5: 8}.get(w):\n"
            "        with _commit_lock(pathlib.Path(table), 30.0):\n"
            "            os.kill(os.getpid(), signal.SIGKILL)\n"
            "    commit_snapshot(table, [f'w{w}-{i}'], [], f'r{w}-{i}',\n"
            "                    lock_timeout_sec=30.0)\n")
    env = {**os.environ, "PYTHONPATH": str(repo)}
    procs = [subprocess.Popen([sys.executable, "-c", code, str(table), str(w)],
                              env=env) for w in range(6)]
    codes = [p.wait(timeout=120) for p in procs]
    assert codes == [0, -9, 0, -9, 0, -9]
    expected = {f"w{w}-{i}" for w in range(6)
                for i in range({1: 2, 3: 5, 5: 8}.get(w, 10))}
    cur = current_snapshot(str(table))
    assert sorted(cur["data_files"]) == sorted(expected)
    assert cur["snapshot_id"] == len(expected) - 1
    assert {p.name for p in table.iterdir()} <= {
        "_current", "_runs", "_snapshots", "_commit.lock"}


def test_many_sequential_commits_and_time_travel(spark, tmp_path):
    """Snapshot chain stress: 12 runs, every historical snapshot readable
    with the exact cumulative doc count."""
    table = str(tmp_path / "chain")
    media = media_df(spark, 12).cache()
    media.count()
    all_docs = documents_df(spark, 12).cache()
    for i in range(12):
        batch = all_docs.filter(f"doc_id = 'doc-{i:08d}'")
        run_extract(spark, batch, media, table, run_id=f"c{i}")
    assert current_snapshot(table)["snapshot_id"] == 11
    for sid in (0, 5, 11):
        assert read_table(spark, table, snapshot_id=sid).count() == sid + 1
    lin = read_table(spark, table, lineage=True)
    assert lin.select("run_id").distinct().count() == 12


def test_curate_job_end_to_end(tmp_path):
    """jobs/curate_job.py: funnel + kept corpus land in an atomic snapshot
    (data = kept docs, lineage = funnel stages)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "jobs"))
    import curate_job

    from red_seal_ocr_spark.sources.snapshot import read_table

    src = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "curated")
    base = ("the quick brown fox jumps over the lazy dog and then the fox "
            "runs to the old barn near the river where the other animals wait")
    from red_seal_ocr_spark.session import get_spark

    spark = get_spark("curate-job-test", master="local[4]", shuffle_partitions=8)
    spark.createDataFrame(
        [(1, base), (2, base), (3, base + " extra"), (4, "short")],
        "doc_id bigint, text string",
    ).write.parquet(src)
    rc = curate_job.main([
        "--input", src, "--output", out,
        "--min-quality", "30", "--min-jaccard", "60",
    ])
    assert rc == 0
    kept = read_table(spark, out)
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [1, 4]  # 2 exact-dup dropped, 3 near-dup clustered with 1
    funnel = {r.stage: r.docs for r in read_table(spark, out, lineage=True).collect()}
    assert funnel["0_input"] == 4 and funnel["4_near_dedup"] == 2


def test_curate_job_rerun_with_pinned_run_id_writes_nothing(tmp_path):
    """A second curate_job run with the same --run-id on the same output
    finds the run committed and returns 0 without appending its kept
    documents again (same rows, same snapshots)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "jobs"))
    import curate_job

    from red_seal_ocr_spark.session import get_spark
    from red_seal_ocr_spark.sources.snapshot import _snap_dir, read_table

    spark = get_spark("curate-job-test", master="local[4]", shuffle_partitions=8)
    src = str(tmp_path / "docs.parquet")
    out = tmp_path / "curated"
    spark.createDataFrame(
        [(i, f"document number {i} says the fox runs to the barn by the river "
             f"where {i} other animals wait for it") for i in range(6)],
        "doc_id bigint, text string",
    ).write.parquet(src)
    argv = ["--input", src, "--output", str(out), "--min-quality", "0",
            "--run-id", "pinned"]
    counts = []
    for _ in range(2):
        assert curate_job.main(argv) == 0
        counts.append((read_table(spark, str(out)).count(),
                       len(list(_snap_dir(str(out)).iterdir())),
                       len(list((out / "data").iterdir()))))
    assert counts[0] == counts[1] and counts[0][0] > 0


def test_batched_resume_with_pinned_run_id(spark, tmp_path):
    """ADVICE r03: a caller-pinned --run-id must survive a crash-resume.
    Pre-fix, the second batched run reused the same data/run-<id>-bNNN
    staging directory and the default-mode parquet write failed."""
    from red_seal_ocr_spark.operators.extract import run_extract_batched

    docs = documents_df(spark, N)
    media = media_df(spark, N)
    table = str(tmp_path / "out")

    # crashed attempt: only some slices committed (simulate by running
    # the batched job over a subset, same pinned id)
    run_extract_batched(spark, docs.limit(N // 2), media, table,
                        n_batches=3, run_id="pinned")
    # resume with the SAME pinned run id over the full input
    run_extract_batched(spark, docs, media, table,
                        n_batches=3, run_id="pinned")
    t = read_table(spark, table)
    assert t.count() == N
    assert t.select("doc_id").distinct().count() == N


def test_pinned_run_id_resumes(spark, tmp_path):
    """A rerun of run_extract with the same pinned run_id (a job restart,
    a replayed stream batch) stages under its own directories instead of
    failing on the first attempt's data/run-<id> with PATH_ALREADY_EXISTS;
    both manifests keep the pinned run_id."""
    docs = documents_df(spark, 6)
    media = media_df(spark, 6)
    table = str(tmp_path / "out")

    m1 = run_extract(spark, docs.filter("doc_id < 'doc-00000003'"), media, table,
                     run_id="pinned")
    m2 = run_extract(spark, docs, media, table, run_id="pinned")
    assert m1["run_id"] == m2["run_id"] == "pinned"
    t = read_table(spark, table)
    assert t.count() == 6
    assert t.select("doc_id").distinct().count() == 6
    lin = read_table(spark, table, lineage=True)
    assert {r.run_id for r in lin.collect()} == {"pinned"}
    assert sum(r.docs for r in lin.collect()) == 6


def test_compaction_preserves_content_and_history(spark, tmp_path):
    """Iceberg rewrite_data_files semantics: compaction rewrites many
    small part files into few, content-identical; historical snapshots
    still time-travel to the pre-compaction files; resume anti-join
    still sees every doc."""
    from red_seal_ocr_spark.sources.snapshot import compact_table, read_snapshot

    table = str(tmp_path / "out")
    docs = documents_df(spark, N)
    media = media_df(spark, N)
    # two committing runs -> many part files
    run_extract(spark, docs.filter(f"doc_id < 'doc-{N//2:08d}'"), media, table, run_id="a")
    run_extract(spark, docs, media, table, run_id="b")

    def canon(df):
        return sorted(
            (r.doc_id, [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans])
            for r in df.collect()
        )

    pre_snap = current_snapshot(table)
    before = canon(read_table(spark, table))
    n_files_before = len(pre_snap["data_files"])

    m = compact_table(spark, table, target_file_bytes=1 << 30)  # -> 1 file
    assert m["compaction_of"] == pre_snap["snapshot_id"]
    post = current_snapshot(table)
    assert post["snapshot_id"] == pre_snap["snapshot_id"] + 1
    assert len(post["data_files"]) < n_files_before
    assert canon(read_table(spark, table)) == before  # content untouched
    # lineage history carried forward
    lin = read_table(spark, table, lineage=True)
    assert {r.run_id for r in lin.collect()} == {"a", "b"}
    # time travel to the pre-compaction snapshot still works
    assert canon(read_table(spark, table,
                            snapshot_id=pre_snap["snapshot_id"])) == before
    # a later incremental run composes with the compacted base
    run_extract(spark, docs, media, table, run_id="c")  # no-op commit
    assert canon(read_table(spark, table)) == before


def test_expire_snapshots_reclaims_only_unreferenced(spark, tmp_path):
    import os

    import pytest as _pytest

    from red_seal_ocr_spark.sources.snapshot import (
        compact_table,
        expire_snapshots,
        read_snapshot,
    )

    table = str(tmp_path / "out")
    docs = documents_df(spark, N)
    media = media_df(spark, N)
    run_extract(spark, docs.filter(f"doc_id < 'doc-{N//2:08d}'"), media, table, run_id="a")
    run_extract(spark, docs, media, table, run_id="b")
    snap0 = read_snapshot(table, 0)
    compact_table(spark, table, target_file_bytes=1 << 30)

    def canon(df):
        return sorted(
            (r.doc_id, [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans])
            for r in df.collect()
        )

    before = canon(read_table(spark, table))
    res = expire_snapshots(table, keep_last=1)
    assert res["expired"] == [0, 1]
    assert res["kept"] == [2]
    # pre-compaction data files are gone from disk...
    assert all(not os.path.exists(f) for f in snap0["data_files"])
    # ...and something was actually reclaimed; lineage files survive
    # (still referenced by the kept snapshot, asserted below)
    assert res["deleted_files"] > 0
    assert canon(read_table(spark, table)) == before  # current unaffected
    lin = read_table(spark, table, lineage=True)
    assert {r.run_id for r in lin.collect()} == {"a", "b"}
    # the expired attempts' directories go too, with their _SUCCESS and
    # .crc files; the kept snapshot's data and lineage directories stay
    assert [d.startswith("run-compact-1-")
            for d in os.listdir(f"{table}/data")] == [True]
    assert sorted(d.split("-")[1] for d in os.listdir(f"{table}/_lineage")) == ["a", "b"]
    # time travel to an expired snapshot now fails loudly
    with _pytest.raises(ValueError):
        read_table(spark, table, snapshot_id=0)
    # idempotent / safe to re-run
    res2 = expire_snapshots(table, keep_last=1)
    assert res2["expired"] == [] and res2["deleted_files"] == 0


def test_export_job_end_to_end(tmp_path):
    """jobs/export_job.py: curated corpus -> hive-partitioned training
    shards + _manifest; a different --salt re-shuffles deterministically
    (same membership, different order)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "jobs"))
    import export_job

    from red_seal_ocr_spark.session import get_spark

    spark = get_spark("export-job-test", master="local[4]", shuffle_partitions=8)
    src = str(tmp_path / "docs.parquet")
    spark.range(200).selectExpr(
        "id AS doc_id", "concat('text ', id) AS text"
    ).write.parquet(src)

    out0 = str(tmp_path / "shards_epoch0")
    assert export_job.main(
        ["--input", src, "--output", out0, "--n-shards", "4"]) == 0
    back0 = spark.read.parquet(out0)
    assert back0.count() == 200
    manifest0 = spark.read.parquet(f"{out0}/_manifest")
    assert sum(r.n_rows for r in manifest0.collect()) == 200

    out1 = str(tmp_path / "shards_epoch1")
    assert export_job.main(
        ["--input", src, "--output", out1,
         "--n-shards", "4", "--salt", "epoch1"]) == 0
    # same corpus, decorrelated epoch order: membership identical,
    # shard assignment different
    a = {(r.doc_id, r.shard) for r in back0.select("doc_id", "shard").collect()}
    b = {(r.doc_id, r.shard)
         for r in spark.read.parquet(out1).select("doc_id", "shard").collect()}
    assert {x for x, _ in a} == {x for x, _ in b}
    assert a != b


def test_snapshot_diff_changelog(spark, tmp_path):
    """snapshot_diff: manifest-level file churn + row-level adds/removes
    computed from ONLY the differing files.  Key property: a compaction
    REWRITE shows file churn but EMPTY row diffs."""
    from red_seal_ocr_spark.sources.snapshot import (
        compact_table,
        current_snapshot,
        snapshot_diff,
    )

    table = str(tmp_path / "out")
    docs = documents_df(spark, N)
    media = media_df(spark, N)
    run_extract(spark, docs.filter(f"doc_id < 'doc-{N//2:08d}'"), media,
                table, run_id="a")
    s1 = current_snapshot(table)["snapshot_id"]
    run_extract(spark, docs, media, table, run_id="b")
    s2 = current_snapshot(table)["snapshot_id"]

    # empty -> s1: everything is an add
    d0 = snapshot_diff(spark, table, None, s1)
    assert d0["rows_removed"] is None and not d0["files_removed"]
    assert d0["rows_added"].count() == N // 2

    # s1 -> s2: run b appended exactly the second half
    d1 = snapshot_diff(spark, table, s1, s2)
    assert d1["files_added"] and not d1["files_removed"]
    added = {r.doc_id for r in d1["rows_added"].collect()}
    assert len(added) == N - N // 2
    assert d1["rows_removed"] is None

    # compaction rewrite: file churn, zero row change
    compact_table(spark, table, target_file_bytes=1 << 30)
    s3 = current_snapshot(table)["snapshot_id"]
    d2 = snapshot_diff(spark, table, s2, s3)
    assert d2["files_added"] and d2["files_removed"]
    assert d2["rows_added"].count() == 0
    assert d2["rows_removed"].count() == 0

    # unknown snapshot -> loud error
    try:
        snapshot_diff(spark, table, 999, None)
        assert False, "expected ValueError"
    except ValueError:
        pass


def test_rank_job_end_to_end(spark, tmp_path):
    """jobs/rank_job.py: edge parquet -> deterministic integer rank
    table, rerun-identical (order-free integer sums)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "jobs"))
    import rank_job

    edges = str(tmp_path / "edges")
    out = str(tmp_path / "ranks")
    spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src bigint, dst bigint"
    ).write.parquet(edges)
    assert rank_job.main(["--edges", edges, "--output", out,
                          "--n-iter", "5"]) == 0
    first = {r.node: r.pr for r in spark.read.parquet(out).collect()}
    assert set(first) == {1, 2, 3} and all(v >= 150_000 for v in first.values())
    # rerun reproduces the table bit-for-bit
    assert rank_job.main(["--edges", edges, "--output", out,
                          "--n-iter", "5"]) == 0
    assert {r.node: r.pr for r in spark.read.parquet(out).collect()} == first


def test_snapshot_diff_detect_changes(spark, tmp_path):
    """detect_changes: an id republished with DIFFERENT content by a
    rewrite snapshot surfaces in rows_changed; identical republication
    (compaction) does not."""
    from red_seal_ocr_spark.sources.snapshot import (
        commit_snapshot,
        current_snapshot,
        snapshot_diff,
    )

    table = str(tmp_path / "t")

    def write_run(run_id, rows):
        p = f"{table}/data/{run_id}"
        spark.createDataFrame(rows, "doc_id bigint, text string")\
            .coalesce(1).write.parquet(p)
        import glob
        return sorted(glob.glob(f"{p}/*.parquet"))

    f1 = write_run("r1", [(1, "alpha"), (2, "beta")])
    commit_snapshot(table, f1, [], "r1")
    s1 = current_snapshot(table)["snapshot_id"]

    # rewrite: id 1 unchanged, id 2 edited, id 3 added, in NEW files
    f2 = write_run("r2", [(1, "alpha"), (2, "beta EDITED"), (3, "gamma")])
    commit_snapshot(table, f2, [], "r2", replace=current_snapshot(table))
    s2 = current_snapshot(table)["snapshot_id"]

    d = snapshot_diff(spark, table, s1, s2, detect_changes=True)
    assert {r.doc_id for r in d["rows_added"].collect()} == {3}
    assert d["rows_removed"].count() == 0
    assert {r.doc_id for r in d["rows_changed"].collect()} == {2}

    # default path has no rows_changed key (opt-in)
    assert "rows_changed" not in snapshot_diff(spark, table, s1, s2)
