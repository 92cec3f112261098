"""Iceberg-style snapshot tables: manifest + atomic pointer commit.

No Iceberg catalog jar is assumed in-sandbox (SURVEY.md section 1.3), so
the engine carries the minimal semantics the north rule needs:

- a table directory holds immutable parquet data files under ``data/``;
- a snapshot manifest (JSON) lists exactly the data files visible in that
  snapshot plus lineage metadata;
- ``_current`` is a one-line pointer file published via atomic
  ``os.rename`` — readers see either the old or the new snapshot, never a
  partial commit (the checkpoint/commit protocol of SURVEY.md section 4
  item 3);
- resume = read committed snapshot -> anti-join processed doc_ids.

Layout::

    table_dir/
      data/run-<run_id>-<attempt>/part-*.parquet      (one subdir per
                                                        attempt at a run)
      _lineage/run-<run_id>-<attempt>/part-*.parquet  (per-partition
                                                        metrics rows)
      _snapshots/snap-<n>.json
      _current                              (contains "snap-<n>.json")
      _commit.lock                          (while a commit runs: the
                                             owner record)

Every writer stages under a fresh ``run-<run_id>-<attempt>`` directory
(:func:`run_attempt`) and commits once per run id, under the commit lock,
through :func:`commit_run`; ``run_extract`` alone keeps its own steps.
"""

from __future__ import annotations

import json
import os
import socket
import time
import uuid
from contextlib import contextmanager
from pathlib import Path


def _snap_dir(table_dir: str) -> Path:
    return Path(table_dir) / "_snapshots"


def current_snapshot(table_dir: str) -> dict | None:
    """Return the committed snapshot manifest, or None for an empty table."""
    cur = Path(table_dir) / "_current"
    if not cur.exists():
        return None
    name = cur.read_text().strip()
    return json.loads((_snap_dir(table_dir) / name).read_text())


def _owner_dead(lock: Path) -> bool:
    """True only when ``lock`` holds a record naming a pid on this host
    that no longer exists, or is a zombie (killed, not yet reaped by its
    parent): no record (a directory made by hand, say), another host or
    a live pid proves nothing."""
    try:
        owner = json.loads(lock.read_text())
        if owner["host"] == socket.gethostname():
            pid = int(owner["pid"])
            os.kill(pid, 0)
            stat = Path(f"/proc/{pid}/stat").read_text()
            return stat[stat.rindex(")") + 2] == "Z"
    except ProcessLookupError:
        return True
    except (OSError, ValueError, KeyError, TypeError):
        pass  # PermissionError: the pid exists
    return False


def _break_dead_lock(lock: Path) -> bool:
    """Remove ``lock`` if its owner is dead; True if it was removed.

    Breakers take a second mkdir lock and read the record again under
    it.  Only the dead owner or a breaker removes a lock, so the one
    removed is the lock judged dead, never one a live waiter took since;
    and of two waiters that both saw the dead owner, one breaks it.  A
    breaker killed inside leaves ``.break`` behind, and dead locks are
    then waited out as if nothing could break them."""
    guard = lock.with_name(lock.name + ".break")
    try:
        os.mkdir(guard)
    except FileExistsError:
        return False
    try:
        if not _owner_dead(lock):
            return False
        os.remove(lock)
        return True
    finally:
        os.rmdir(guard)


@contextmanager
def _commit_lock(table: Path, timeout_sec: float):
    """Hold the table's commit lock, waiting up to ``timeout_sec`` (then
    ``TimeoutError``).

    The lock is the file ``_commit.lock`` holding its owner record
    (host, pid, start time).  The record is written to a private file
    first and published with ``os.link``, which is atomic and fails if
    ``_commit.lock`` exists in any form, so a lock never lacks its
    record.  A waiter breaks a lock whose owner is a dead pid on this
    host (a run killed inside a commit); a lock with no record, a live
    owner or another host's owner is waited out."""
    lock = table / "_commit.lock"
    mine = table / f"_commit.lock.{uuid.uuid4().hex}"
    mine.write_text(json.dumps({"host": socket.gethostname(),
                                "pid": os.getpid(), "start": time.time()}))
    deadline = time.time() + timeout_sec
    try:
        while True:
            try:
                os.link(mine, lock)
                break
            except FileExistsError:
                if _break_dead_lock(lock):
                    continue
                if time.time() > deadline:
                    raise TimeoutError(f"commit lock held too long: {lock}") from None
                time.sleep(0.05)
    finally:
        os.remove(mine)
    try:
        yield
    finally:
        os.remove(lock)


class CommitConflict(RuntimeError):
    """A REPLACE commit whose base snapshot is no longer the current one."""


def commit_snapshot(table_dir: str, data_files: list[str],
                    lineage_files: list[str], run_id: str,
                    extra: dict | None = None,
                    lock_timeout_sec: float = 60.0,
                    replace: dict | None = None,
                    once_per_run: int | None = None) -> dict:
    """Publish a new snapshot = parent files + this run's files (atomic).

    Concurrent committers are serialized by the commit lock
    (:func:`_commit_lock`): each commit reads the parent *inside* the
    critical section, so two simultaneous appends both land (no lost
    update) — the pointer rename stays atomic for readers.  On an object
    store this would be a conditional-put / swap-if-parent instead.

    ``replace``, the manifest a rewrite was computed from (``{}`` for an
    empty table), publishes a REWRITE snapshot: ``data_files`` is the
    complete new file list instead of parent+new (the compaction commit
    shape — Iceberg's rewrite_data_files).  It raises
    :class:`CommitConflict` and publishes nothing once another commit
    has landed since that base (swap-if-parent).  Lineage history is
    always carried forward.

    ``once_per_run`` (set by :func:`commit_run`): the head id its check
    saw, -1 if none; a ``run_id`` committed since returns that manifest
    (the walk stops at that head), before the REPLACE base check.
    """
    table = Path(table_dir)
    table.mkdir(parents=True, exist_ok=True)
    with _commit_lock(table, lock_timeout_sec):
        if once_per_run is not None:
            committed = find_committed_run(table_dir, run_id, once_per_run)
            if committed is not None:
                return committed
        parent = current_snapshot(table_dir) or {}
        if (replace is not None
                and replace.get("snapshot_id") != parent.get("snapshot_id")):
            raise CommitConflict(
                f"{table_dir}: REPLACE of snapshot "
                f"{replace.get('snapshot_id')} by run {run_id}, but snapshot "
                f"{parent.get('snapshot_id')} is current")
        snap_id = parent.get("snapshot_id", -1) + 1
        manifest = {
            "snapshot_id": snap_id,
            "parent_snapshot_id": parent.get("snapshot_id"),
            "run_id": run_id,
            "data_files": sorted(
                ([] if replace is not None else parent.get("data_files", []))
                + list(data_files)
            ),
            "lineage_files": sorted(
                parent.get("lineage_files", []) + list(lineage_files)
            ),
            **(extra or {}),
        }
        sd = _snap_dir(table_dir)
        sd.mkdir(parents=True, exist_ok=True)
        name = f"snap-{snap_id}.json"
        (sd / name).write_text(json.dumps(manifest, indent=1))
        tmp = table / "_current.tmp"  # one name: a killed commit's is reused
        tmp.write_text(name)
        os.rename(tmp, table / "_current")  # atomic publish
        return manifest


def list_run_files(run_dir: str) -> list[str]:
    """Parquet part files a Spark write produced under ``run_dir``."""
    p = Path(run_dir)
    if not p.exists():
        return []
    return sorted(str(f) for f in p.rglob("*.parquet") if f.is_file())


def run_attempt(run_id: str) -> str:
    """Staging directory name of one attempt at ``run_id``:
    ``run-<run_id>-<attempt>``, fresh on every call."""
    return f"run-{run_id}-{uuid.uuid4().hex[:6]}"


def commit_run(table_dir: str, run_id: str, data, lineage=None,
               extra: dict | None = None, replace: dict | None = None) -> dict:
    """Stage ``data`` (and ``lineage``, a DataFrame, if given) under
    ``data/`` and ``_lineage/`` of a fresh :func:`run_attempt` directory
    and commit the written parts as ``run_id`` (:func:`commit_snapshot`,
    whose ``extra`` and ``replace`` these are).  Returns the manifest.

    The writes use Spark's default error-if-exists mode: no attempt
    deletes another's files, so a retry started while an earlier attempt
    is still alive cannot leave that attempt committing missing files.
    Zero-row parts are kept: a table whose parts are all empty still
    reads back with its schema.  A run id commits once (checked before
    any write and again under the lock): a replay gets its manifest."""
    seen = (current_snapshot(table_dir) or {}).get("snapshot_id", -1)
    committed = find_committed_run(table_dir, run_id)
    if committed is not None:
        return committed
    attempt = run_attempt(run_id)
    data_dir = f"{table_dir}/data/{attempt}"
    data.write.parquet(data_dir)
    lineage_files: list[str] = []
    if lineage is not None:
        lineage_dir = f"{table_dir}/_lineage/{attempt}"
        lineage.write.parquet(lineage_dir)
        lineage_files = list_run_files(lineage_dir)
    return commit_snapshot(table_dir, list_run_files(data_dir), lineage_files,
                           run_id, extra=extra, replace=replace,
                           once_per_run=seen)


def run_files(table_dir: str, manifest: dict,
              kind: str = "data_files") -> tuple[list[str], list[str]]:
    """``(parent's files, files manifest added)`` of one kind: what the
    committing run itself wrote, and what it committed on top of."""
    pid = manifest.get("parent_snapshot_id")
    parent = read_snapshot(table_dir, pid) if pid is not None else None
    before = parent[kind] if parent else []
    return before, sorted(set(manifest[kind]) - set(before))


def drop_empty_files(files: list[str]) -> list[str]:
    """Drop zero-row part files (Spark emits them for empty write
    partitions) before ``run_extract`` commits: they carry no data, and
    dropping them keeps its manifest <-> lineage invariant exact (every
    committed data file has a lineage row).  Deletes them and returns the rest.  Footer-only check,
    O(files) driver-side per commit — bounded per batch at any scale."""
    import pyarrow.parquet as pq

    kept = []
    for f in files:
        if pq.ParquetFile(f).metadata.num_rows > 0:
            kept.append(f)
        else:
            os.remove(f)
    return kept


def read_snapshot(table_dir: str, snapshot_id: int) -> dict | None:
    """Manifest of a specific historical snapshot (time travel)."""
    p = _snap_dir(table_dir) / f"snap-{snapshot_id}.json"
    if not p.exists():
        return None
    return json.loads(p.read_text())


def find_committed_run(table_dir: str, run_id: str, after=-1) -> dict | None:
    """Manifest of the snapshot that committed ``run_id``, walking the
    parent chain from the current snapshot down to ``after`` (None if absent).

    This is the replay-idempotence primitive: an orchestrator retrying a
    batch whose previous attempt DID commit (commit landed, ack lost —
    the classic at-least-once window) must be detected under the commit
    lock (``commit_snapshot(once_per_run=...)``), or the batch's rows
    double-append into permanent table state.  An expired run is not
    found."""
    return next((m for m in snapshot_chain(table_dir, after)
                 if m.get("run_id") == run_id), None)


def snapshot_chain(table_dir: str, after: int = -1):
    """Manifests from the current snapshot back along the parent chain
    (newest first; stops at the first expired parent or at ``after``)."""
    m = current_snapshot(table_dir)
    while m is not None and m["snapshot_id"] > after:
        yield m
        pid = m.get("parent_snapshot_id")
        m = None if pid is None else read_snapshot(table_dir, pid)


def read_table(spark, table_dir: str, lineage: bool = False,
               snapshot_id: int | None = None):
    """DataFrame over exactly one snapshot's files (None if empty).

    Default is the committed (current) snapshot; pass ``snapshot_id`` to
    time-travel to any earlier one — snapshots are immutable manifests,
    so historical reads stay consistent even as new runs commit.
    Reading the manifest's explicit file list (not the directory) is what
    makes uncommitted/aborted run directories invisible — a failed run
    leaves orphan files that the next successful commit simply never
    references.
    """
    if snapshot_id is None:
        snap = current_snapshot(table_dir)
    else:
        snap = read_snapshot(table_dir, snapshot_id)
        if snap is None:
            raise ValueError(f"no snapshot {snapshot_id} in {table_dir}")
    if snap is None:
        return None
    files = snap["lineage_files" if lineage else "data_files"]
    if not files:
        return None
    return spark.read.parquet(*files)


# ---------------------------------------------------------------------------
# banded-corpus persistence (incremental near-dedup state, VERDICT r05 #3)
# ---------------------------------------------------------------------------


def write_banded_corpus(banded, table_dir: str, run_id: str,
                        lsh_params: dict) -> dict:
    """Append one batch's LSH band rows ``(id, band, bucket)`` to the
    banded-corpus snapshot table and commit atomically.

    This is the persistence layer :func:`~red_seal_ocr_spark.operators.
    dedup.incremental_lsh_candidates` documents: the corpus side's band
    rows are computed ONCE per document (when its batch is ingested) and
    every later ingest joins against the stored rows instead of
    re-hashing corpus text.  ``lsh_params`` (num_hashes/bands/shingle_k
    ...) is recorded in the manifest and must match the table's existing
    params — band rows from different hash families must never mix.

    Rows are repartitioned by (band, bucket) before the write so the
    parquet layout is co-clustered with the candidate join's shuffle key;
    at cluster scale this would be ``bucketBy(band, bucket)`` on a real
    catalog table, letting the ingest join prune to its own buckets.
    Staging and commit go through :func:`commit_run`.  A crash after
    the parquet write but before the commit leaves orphan files no
    snapshot references, and re-running the same ingest batch is the
    resume story (property-tested in test_dedup_similarity): the retry
    stages under its own attempt directory.  A replay of a committed
    ``run_id`` (or one racing a live attempt) gets that snapshot back
    untouched (no double-append): :func:`commit_run` commits it once.
    """
    cur = current_snapshot(table_dir)
    if cur is not None and cur.get("lsh_params") != dict(lsh_params):
        raise ValueError(
            f"banded corpus at {table_dir} has lsh_params "
            f"{cur.get('lsh_params')}; refusing to append rows hashed "
            f"with {dict(lsh_params)}"
        )
    return commit_run(table_dir, run_id, banded.repartition("band", "bucket"),
                      extra={"lsh_params": dict(lsh_params)})


def read_banded_corpus(spark, table_dir: str,
                       expect_params: dict | None = None):
    """DataFrame over the committed banded corpus (None for an empty
    table).  ``expect_params`` guards against joining band rows produced
    under a different hash family — a silent-recall killer."""
    snap = current_snapshot(table_dir)
    if snap is None:
        return None
    if expect_params is not None and snap.get("lsh_params") != dict(expect_params):
        raise ValueError(
            f"banded corpus lsh_params {snap.get('lsh_params')} != "
            f"expected {dict(expect_params)}"
        )
    return read_table(spark, table_dir)


def write_tokenizer_merges(spark, merges: list, table_dir: str,
                           run_id: str, train_params: dict) -> dict:
    """Persist a trained BPE merge list as a snapshot-committed artifact
    table ``(rank, a, b)`` — the tokenizer is corpus-derived state with
    exactly the banded-corpus lifecycle: trained once per corpus
    snapshot, reused by every later encode job, resumable.

    Same idempotence contract as :func:`write_banded_corpus`: replaying
    a committed ``run_id`` returns that snapshot untouched (encoders
    keep a stable artifact), and a pre-commit crash leaves orphans the
    retry never references.  ``train_params`` (n_merges, corpus
    snapshot id, tokenization...) is recorded so an encode job can
    refuse a merge list trained under different rules — mixing
    tokenizers is the silent-corruption analog of mixing LSH hash
    families.
    """
    base = current_snapshot(table_dir) or {}
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, a string, b string",
    )
    # REPLACE: the tokenizer is a WHOLE-artifact table — a retrain
    # supersedes the previous merge list entirely (an appending commit
    # would interleave two trainings' rows with duplicate ranks, the
    # silent-corruption case the docstring warns about)
    return commit_run(table_dir, run_id, df.coalesce(1),
                      extra={"train_params": dict(train_params)}, replace=base)


def read_tokenizer_merges(spark, table_dir: str,
                          expect_params: dict | None = None) -> list | None:
    """The committed merge list, rank-ordered (None for an empty table).
    ``expect_params`` must match the training manifest exactly."""
    snap = current_snapshot(table_dir)
    if snap is None:
        return None
    if expect_params is not None and snap.get("train_params") != dict(expect_params):
        raise ValueError(
            f"tokenizer train_params {snap.get('train_params')} != "
            f"expected {dict(expect_params)}"
        )
    rows = read_table(spark, table_dir).orderBy("rank").collect()
    return [(r.a, r.b) for r in rows]


# ---------------------------------------------------------------------------
# table maintenance (the Iceberg expire_snapshots / rewrite_data_files pair)
# ---------------------------------------------------------------------------


def compact_table(spark, table_dir: str,
                  target_file_bytes: int = 128 * 1024 * 1024) -> dict:
    """Rewrite the current snapshot's data files into ~target-sized files
    and publish a REPLACE snapshot (Iceberg ``rewrite_data_files``).

    At 10^12-document scale, incremental/batched commits accumulate many
    small part files; scans then pay per-file open cost and lose
    ``maxPartitionBytes`` packing.  Compaction is a pure rewrite: row
    content is untouched (verified by test content-hash), historical
    snapshots still reference the pre-compaction files (time travel keeps
    working) until :func:`expire_snapshots` reclaims them.

    Returns the new manifest.  No-op (returns the current manifest) if
    the table is empty.  Raises :class:`CommitConflict` if a commit
    lands between the read and the commit.
    """
    snap = current_snapshot(table_dir)
    if snap is None or not snap["data_files"]:
        return snap or {}
    total = sum(os.path.getsize(f) for f in snap["data_files"])
    n_out = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(*snap["data_files"])
    return commit_run(
        table_dir, f"compact-{snap['snapshot_id']}", df.repartition(n_out),
        extra={"compaction_of": snap["snapshot_id"],
               "input_snapshot_id": snap.get("input_snapshot_id", "compact")},
        replace=snap,
    )


def expire_snapshots(table_dir: str, keep_last: int = 2,
                     lock_timeout_sec: float = 60.0) -> dict:
    """Expire all but the newest ``keep_last`` snapshots of the chain
    from ``_current`` and delete data / lineage files no retained
    snapshot references (Iceberg ``expire_snapshots`` semantics: the
    current snapshot is always retained; time travel to an expired id
    fails; shared files survive).

    Runs under the commit lock so a concurrent commit can't publish a
    snapshot referencing files being deleted.  A manifest above the
    current id was left by a commit killed before its ``_current`` flip
    (possibly half-written); it is deleted.  Returns
    ``{"expired": [ids], "deleted_files": n, "kept": [ids]}``.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    with _commit_lock(Path(table_dir), lock_timeout_sec):
        chain = list(snapshot_chain(table_dir))
        cur_id = chain[0]["snapshot_id"] if chain else -1
        sd = _snap_dir(table_dir)
        for p in sd.glob("snap-*.json"):
            if int(p.stem.split("-", 1)[1]) > cur_id:
                os.remove(p)
        kept, expired = chain[:keep_last], chain[keep_last:][::-1]
        referenced = {f for m in kept
                      for f in m["data_files"] + m["lineage_files"]}
        deleted = 0
        for m in expired:
            for f in set(m["data_files"]) | set(m["lineage_files"]):
                if f not in referenced and os.path.exists(f):
                    os.remove(f)
                    deleted += 1
            os.remove(sd / f"snap-{m['snapshot_id']}.json")
        return {"expired": [m["snapshot_id"] for m in expired],
                "deleted_files": deleted,
                "kept": sorted(m["snapshot_id"] for m in kept)}


def snapshot_diff(spark, table_dir: str, from_snapshot_id: int | None,
                  to_snapshot_id: int | None, id_col: str = "doc_id",
                  detect_changes: bool = False) -> dict:
    """Changelog between two snapshots (Iceberg's changelog-scan shape):
    what a downstream consumer must reprocess after the table moved.

    Returns a dict with two tiers:

    - ``files_added`` / ``files_removed``: pure MANIFEST set difference —
      zero data reads, O(|files|) driver work at any table size.
    - ``rows_added`` / ``rows_removed``: lazy DataFrames of ``id_col``
      values present in exactly one snapshot.  Computed by reading ONLY
      the differing files and anti-joining ids across the two sides —
      files common to both snapshots carry identical rows (snapshots are
      immutable manifests over immutable files), so unchanged data is
      never scanned.  A compaction REWRITE therefore shows file churn
      but empty row diffs, which is the test-pinned property.  Either
      side may be None (``rows_added=None`` means no rows were added).

    ``from_snapshot_id=None`` diffs from the empty table (everything in
    ``to`` is an add); ``to_snapshot_id=None`` means the CURRENT
    snapshot.

    An id present in BOTH differing sides is counted as neither added
    nor removed — correct for this table's append-once-per-id model
    (the resume anti-join guarantees it), but a REWRITE snapshot may
    republish an id with different content.  ``detect_changes=True``
    adds ``rows_changed``: ids on both sides whose full-row hash
    (xxhash64 over every column, null-safe) differs — still reading
    only the differing files.
    """
    from pyspark.sql import functions as F

    def _files(snap_id, side):
        if snap_id is None:
            if side == "from":
                return []
            snap = current_snapshot(table_dir)
        else:
            snap = read_snapshot(table_dir, snap_id)
            if snap is None:
                raise ValueError(f"no snapshot {snap_id} in {table_dir}")
        return [] if snap is None else snap["data_files"]

    f_from = set(_files(from_snapshot_id, "from"))
    f_to = set(_files(to_snapshot_id, "to"))
    added_files = sorted(f_to - f_from)
    removed_files = sorted(f_from - f_to)

    def _side(files):
        return spark.read.parquet(*files) if files else None

    to_side, from_side = _side(added_files), _side(removed_files)
    to_only = None if to_side is None else to_side.select(F.col(id_col))
    from_only = (
        None if from_side is None else from_side.select(F.col(id_col)))
    rows_added = rows_removed = None
    if to_only is not None:
        rows_added = (
            to_only.join(from_only, id_col, "left_anti").distinct()
            if from_only is not None else to_only.distinct()
        )
    if from_only is not None:
        rows_removed = (
            from_only.join(to_only, id_col, "left_anti").distinct()
            if to_only is not None else from_only.distinct()
        )
    out = {
        "files_added": added_files,
        "files_removed": removed_files,
        "rows_added": rows_added,
        "rows_removed": rows_removed,
    }
    if detect_changes:
        rows_changed = None
        if to_side is not None and from_side is not None:
            def _hashes(df):
                # one hash-set per id: robust to multi-row ids and to
                # row order inside files
                h = df.select(
                    F.col(id_col),
                    F.xxhash64(*sorted(df.columns)).alias("_h"))
                return h.groupBy(id_col).agg(
                    F.sort_array(F.collect_list("_h")).alias("_hs"))
            a, b = _hashes(to_side), _hashes(from_side)
            rows_changed = (
                a.join(b.withColumnRenamed("_hs", "_hs_from"), id_col)
                .filter(F.col("_hs") != F.col("_hs_from"))
                .select(F.col(id_col))
            )
        out["rows_changed"] = rows_changed
    return out
