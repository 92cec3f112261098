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
      _runs/<quoted run_id>.json            (its commit's header; kept)
      _commit.lock                          (while a commit runs: the
                                             owner record)

Every writer stages under a fresh ``run-<run_id>-<attempt>`` directory
(:func:`run_attempt`) and commits once per run id, under the commit lock,
through :func:`commit_run`; ``run_extract`` alone keeps its own steps.
"""

from __future__ import annotations

import json
import os
import shutil
import socket
import time
import uuid
from contextlib import contextmanager
from pathlib import Path
from urllib.parse import quote

# whole-table manifest keys: carried forward, never changed by an APPEND
TABLE_PROPERTIES = ("lsh_params", "train_params")


def _snap_dir(table_dir: str) -> Path:
    return Path(table_dir) / "_snapshots"


def _load(path: Path) -> dict | None:
    return json.loads(path.read_text()) if path.exists() else None


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


def _publish(path: Path, text: str) -> None:
    """Atomically replace ``path`` (under the commit lock: one tmp name)."""
    tmp = path.with_name(path.name + ".tmp")
    tmp.write_text(text)
    os.rename(tmp, path)


def _run_marker(table_dir: str, run_id: str) -> Path:
    return Path(table_dir) / "_runs" / f"{quote(run_id, safe='')}.json"


def _record_run(table_dir: str, manifest: dict) -> None:
    """Write ``manifest`` without its file lists as its run id's marker."""
    marker = _run_marker(table_dir, manifest["run_id"])
    marker.parent.mkdir(exist_ok=True)
    _publish(marker, json.dumps({k: v for k, v in manifest.items()
                                 if k not in ("data_files", "lineage_files")}))


def commit_snapshot(table_dir: str, data_files: list[str],
                    lineage_files: list[str], run_id: str,
                    extra: dict | None = None,
                    lock_timeout_sec: float = 60.0,
                    replace: dict | None = None,
                    once_per_run: bool = False) -> dict:
    """Publish a new snapshot = parent files + this run's files (atomic).

    Commits are serialized by the commit lock (:func:`_commit_lock`) and
    read their parent inside it, so simultaneous appends both land; the
    ``_current`` rename keeps readers atomic (an object store would use
    a conditional put).

    ``replace``, the manifest a rewrite was computed from (``{}`` for an
    empty table), makes ``data_files`` the complete new file list (Iceberg
    ``rewrite_data_files``); if another commit has landed since that base
    it raises :class:`CommitConflict`.  Lineage is always carried forward,
    and so are the :data:`TABLE_PROPERTIES` ``extra`` leaves unset; an
    APPEND changing one raises ``ValueError``.

    ``once_per_run`` (set by :func:`commit_run`): an already committed
    ``run_id`` returns :func:`find_committed_run`, before the REPLACE
    base check.  The ``_runs/`` marker is written after the ``_current``
    flip; a commit that finds its parent's missing (this one was killed
    in between) writes every missing marker on the chain.
    """
    table = Path(table_dir)
    table.mkdir(parents=True, exist_ok=True)
    with _commit_lock(table, lock_timeout_sec):
        parent = current_snapshot(table_dir) or {}
        if parent and not _run_marker(table_dir, parent["run_id"]).exists():
            for m in snapshot_chain(table_dir):  # or a table from before _runs/
                if not _run_marker(table_dir, m["run_id"]).exists():
                    _record_run(table_dir, m)
        if once_per_run:
            committed = find_committed_run(table_dir, run_id)
            if committed is not None:
                return committed
        if (replace is not None
                and replace.get("snapshot_id") != parent.get("snapshot_id")):
            raise CommitConflict(
                f"{table_dir}: REPLACE of snapshot "
                f"{replace.get('snapshot_id')} by run {run_id}, but snapshot "
                f"{parent.get('snapshot_id')} is current")
        extra = {**{k: parent[k] for k in TABLE_PROPERTIES if k in parent},
                 **(extra or {})}
        for k in TABLE_PROPERTIES:
            if replace is None and parent and extra.get(k) != parent.get(k):
                raise ValueError(
                    f"{table_dir} has {k} {parent.get(k)}; refusing to "
                    f"append rows committed with {extra[k]}")
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
            **extra,
        }
        sd = _snap_dir(table_dir)
        sd.mkdir(parents=True, exist_ok=True)
        name = f"snap-{snap_id}.json"
        (sd / name).write_text(json.dumps(manifest, indent=1))
        _publish(table / "_current", name)
        _record_run(table_dir, manifest)
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
                           once_per_run=True)


def run_files(table_dir: str, manifest: dict,
              kind: str = "data_files") -> tuple[list[str], list[str]]:
    """``(parent's files, files manifest added)`` of one kind: what the
    committing run itself wrote, and what it committed on top of.
    Raises ``ValueError`` once the parent has expired."""
    pid = manifest.get("parent_snapshot_id")
    parent = {kind: []} if pid is None else read_snapshot(table_dir, pid)
    if parent is None or kind not in manifest:
        gone = pid if parent is None else manifest["snapshot_id"]
        raise ValueError(f"{table_dir}: snapshot {gone} has expired, so the "
                         f"files run {manifest['run_id']} added are unknown")
    return parent[kind], sorted(set(manifest[kind]) - set(parent[kind]))


def drop_empty_files(files: list[str]) -> list[str]:
    """Drop zero-row part files (Spark emits them for empty write
    partitions) before ``run_extract`` commits: they carry no data, and
    dropping them keeps its manifest <-> lineage invariant exact (every
    committed data file has a lineage row).  Deletes them and returns the
    rest.  Footer-only check, O(files) driver-side per commit — bounded
    per batch at any scale."""
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
    return _load(_snap_dir(table_dir) / f"snap-{snapshot_id}.json")


def find_committed_run(table_dir: str, run_id: str) -> dict | None:
    """Manifest of the latest snapshot that committed ``run_id`` (None if
    none did): one ``_runs/`` marker read, whatever the history; once
    that snapshot has expired, the marker's header (the manifest less
    its file lists).  The replay-idempotence primitive: a retried batch
    whose earlier attempt DID commit (ack lost) must be caught under the
    commit lock (``commit_snapshot(once_per_run=True)``), or its rows
    double-append."""
    header = _load(_run_marker(table_dir, run_id))
    return header and (read_snapshot(table_dir, header["snapshot_id"]) or header)


def snapshot_chain(table_dir: str):
    """Manifests from the current snapshot back along the parent chain
    (newest first; stops at the first expired parent)."""
    m = current_snapshot(table_dir)
    while m is not None:
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


def _checked_current(table_dir: str, key: str, expect: dict | None):
    """The current manifest (None for an empty table); ``ValueError`` if
    ``expect`` is given and is not its ``key`` table property."""
    snap = current_snapshot(table_dir)
    if snap is not None and expect is not None and snap.get(key) != dict(expect):
        raise ValueError(
            f"{table_dir}: {key} {snap.get(key)} != expected {dict(expect)}")
    return snap


def write_banded_corpus(banded, table_dir: str, run_id: str,
                        lsh_params: dict) -> dict:
    """Append one batch's LSH band rows ``(id, band, bucket)`` to the
    banded-corpus snapshot table through :func:`commit_run`.

    This is the persistence layer :func:`~red_seal_ocr_spark.operators.
    dedup.incremental_lsh_candidates` documents: band rows are computed
    ONCE per document, and every later ingest joins against the stored
    rows instead of re-hashing corpus text.  ``lsh_params``
    (num_hashes/bands/shingle_k ...) is a :data:`TABLE_PROPERTIES` key:
    under the commit lock, an append under other params raises, so band
    rows from two hash families never mix.

    Rows are repartitioned by (band, bucket), co-clustering the parquet
    layout with the candidate join's shuffle key (``bucketBy`` on a real
    catalog).  A crash before the commit leaves orphan files no snapshot
    references, and the rerun stages under its own attempt directory; a
    replay of a committed ``run_id`` gets that snapshot back untouched.
    """
    return commit_run(table_dir, run_id, banded.repartition("band", "bucket"),
                      extra={"lsh_params": dict(lsh_params)})


def read_banded_corpus(spark, table_dir: str,
                       expect_params: dict | None = None):
    """DataFrame over the committed banded corpus (None for an empty
    table).  ``expect_params`` guards against joining band rows produced
    under a different hash family — a silent-recall killer."""
    snap = _checked_current(table_dir, "lsh_params", expect_params)
    return snap and read_table(spark, table_dir, snapshot_id=snap["snapshot_id"])


def write_tokenizer_merges(spark, merges: list, table_dir: str,
                           run_id: str, train_params: dict) -> dict:
    """Persist a trained BPE merge list as the artifact table
    ``(rank, a, b)``: corpus-derived state with the banded corpus's
    lifecycle (trained once per corpus snapshot, reused by every encode
    job, resumable; a replayed ``run_id`` returns its snapshot).

    A retrain REPLACEs the whole list: an append would interleave two
    trainings' ranks.  ``train_params`` (n_merges, corpus snapshot id,
    tokenization ...) is a :data:`TABLE_PROPERTIES` key, so an encode
    job can refuse a merge list trained under other rules.
    """
    base = current_snapshot(table_dir) or {}
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, a string, b string",
    )
    return commit_run(table_dir, run_id, df.coalesce(1),
                      extra={"train_params": dict(train_params)}, replace=base)


def read_tokenizer_merges(spark, table_dir: str,
                          expect_params: dict | None = None) -> list | None:
    """The committed merge list, rank-ordered (None for an empty table).
    ``expect_params`` must match the training manifest exactly."""
    snap = _checked_current(table_dir, "train_params", expect_params)
    if snap is None:
        return None
    rows = read_table(spark, table_dir, snapshot_id=snap["snapshot_id"])
    return [(r.a, r.b) for r in rows.orderBy("rank").collect()]


# ---------------------------------------------------------------------------
# table maintenance (the Iceberg expire_snapshots / rewrite_data_files pair)
# ---------------------------------------------------------------------------


def compact_table(spark, table_dir: str,
                  target_file_bytes: int = 128 * 1024 * 1024) -> dict:
    """Rewrite the current snapshot's data files into ~target-sized files
    and publish a REPLACE snapshot (Iceberg ``rewrite_data_files``).

    Batched commits accumulate small part files, and scans pay a file
    open for each.  Compaction is a pure rewrite: rows and table
    properties are unchanged, and older snapshots keep the pre-compaction
    files (time travel works) until :func:`expire_snapshots` reclaims
    them.  Returns the new manifest (the current one, or ``{}``, for a
    table without data); raises :class:`CommitConflict` if a commit lands
    after the read.
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


def _attempt_dir(root: str, f: str) -> str | None:
    """The ``data/`` or ``_lineage/`` :func:`run_attempt` directory of
    the table at absolute path ``root`` that holds file ``f``, or None."""
    parts = os.path.relpath(os.path.abspath(f), root).split(os.sep)
    if len(parts) > 2 and parts[0] in ("data", "_lineage") \
            and parts[1].startswith("run-"):
        return os.path.join(root, parts[0], parts[1])
    return None


def expire_snapshots(table_dir: str, keep_last: int = 2,
                     lock_timeout_sec: float = 60.0) -> dict:
    """Expire all but the newest ``keep_last`` snapshots of the chain
    from ``_current`` and delete the data / lineage files no kept
    snapshot references (Iceberg ``expire_snapshots``: time travel to an
    expired id fails, shared files survive), then each attempt directory
    an expired manifest lists once no kept file lies in it (with its
    ``_SUCCESS`` / ``.crc`` files; a staging directory no manifest
    names is left alone).  The ``_runs/`` markers stay, so an expired
    run id still counts as committed.

    Runs under the commit lock, so no commit publishes a file being
    deleted, and deletes any manifest above the current id (left, maybe
    torn, by a commit killed before its ``_current`` flip).  Returns
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
        root = os.path.abspath(table_dir)
        kept_dirs = {_attempt_dir(root, f) for f in referenced}
        expired_dirs = set()
        deleted = 0
        for m in expired:
            for f in set(m["data_files"]) | set(m["lineage_files"]):
                if f not in referenced and os.path.exists(f):
                    os.remove(f)
                    deleted += 1
                expired_dirs.add(_attempt_dir(root, f))
            os.remove(sd / f"snap-{m['snapshot_id']}.json")
        for d in expired_dirs - kept_dirs - {None}:
            if os.path.isdir(d):
                shutil.rmtree(d)
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
