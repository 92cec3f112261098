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
      data/run-<run_id>/part-*.parquet      (one subdir per producing run)
      _lineage/run-<run_id>/part-*.parquet  (per-partition metrics rows)
      _snapshots/snap-<n>.json
      _current                              (contains "snap-<n>.json")
"""

from __future__ import annotations

import json
import os
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


@contextmanager
def _commit_lock(table: Path, timeout_sec: float):
    """Hold the table's commit lock: an mkdir lock (atomic on POSIX),
    waited for up to ``timeout_sec`` (then ``TimeoutError``)."""
    lock = table / "_commit.lock"
    deadline = time.time() + timeout_sec
    while True:
        try:
            os.mkdir(lock)
            break
        except FileExistsError:
            if time.time() > deadline:
                raise TimeoutError(f"commit lock held too long: {lock}") from None
            time.sleep(0.05)
    try:
        yield
    finally:
        os.rmdir(lock)


def commit_snapshot(table_dir: str, data_files: list[str],
                    lineage_files: list[str], run_id: str,
                    extra: dict | None = None,
                    lock_timeout_sec: float = 60.0,
                    replace: bool = False) -> dict:
    """Publish a new snapshot = parent files + this run's files (atomic).

    Concurrent committers are serialized by an mkdir lock (atomic on
    POSIX): each commit reads the parent *inside* the critical section, so
    two simultaneous runs both land (no lost update) — the pointer rename
    stays atomic for readers.  On an object store this would be a
    conditional-put / swap-if-parent instead.

    ``replace=True`` publishes a REWRITE snapshot: ``data_files`` is the
    complete new file list instead of parent+new (the compaction commit
    shape — Iceberg's rewrite_data_files).  Lineage history is always
    carried forward.
    """
    table = Path(table_dir)
    table.mkdir(parents=True, exist_ok=True)
    with _commit_lock(table, lock_timeout_sec):
        parent = current_snapshot(table_dir)
        snap_id = (parent["snapshot_id"] + 1) if parent else 0
        manifest = {
            "snapshot_id": snap_id,
            "parent_snapshot_id": parent["snapshot_id"] if parent else None,
            "run_id": run_id,
            "data_files": sorted(
                list(data_files) if replace
                else (parent["data_files"] if parent else []) + list(data_files)
            ),
            "lineage_files": sorted(
                (parent["lineage_files"] if parent else []) + list(lineage_files)
            ),
            **(extra or {}),
        }
        sd = _snap_dir(table_dir)
        sd.mkdir(parents=True, exist_ok=True)
        name = f"snap-{snap_id}.json"
        (sd / name).write_text(json.dumps(manifest, indent=1))
        tmp = table / f"_current.tmp.{uuid.uuid4().hex}"
        tmp.write_text(name)
        os.rename(tmp, table / "_current")  # atomic publish
        return manifest


def list_run_files(run_dir: str) -> list[str]:
    """Parquet part files a Spark write produced under ``run_dir``."""
    p = Path(run_dir)
    if not p.exists():
        return []
    return sorted(str(f) for f in p.rglob("*.parquet") if f.is_file())


def drop_empty_files(files: list[str]) -> list[str]:
    """Never commit zero-row part files (Spark emits them for empty write
    partitions): they carry no data, and dropping them keeps the manifest
    <-> lineage invariant exact (every committed data file has a lineage
    row).  Deletes them and returns the rest.  Footer-only check,
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


def find_committed_run(table_dir: str, run_id: str) -> dict | None:
    """Manifest of the snapshot that committed ``run_id``, walking the
    parent chain from the current snapshot (None if never committed).

    This is the replay-idempotence primitive: an orchestrator retrying a
    batch whose previous attempt DID commit (commit landed, ack lost —
    the classic at-least-once window) must be detected before any write,
    or the batch's rows double-append into permanent table state."""
    cur = current_snapshot(table_dir)
    while cur is not None:
        if cur.get("run_id") == run_id:
            return cur
        parent = cur.get("parent_snapshot_id")
        cur = None if parent is None else read_snapshot(table_dir, parent)
    return None


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
    A crash after the parquet write but before the commit leaves orphan
    files no snapshot references — re-running the same ingest batch is
    the resume story (property-tested in test_dedup_similarity), and it
    is idempotent on BOTH sides of the commit: a replay whose previous
    attempt already committed returns that snapshot untouched (no
    double-append), and a pre-commit replay overwrites the orphan run
    directory (ErrorIfExists would wedge the retry forever).
    """
    already = find_committed_run(table_dir, run_id)
    if already is not None:
        return already
    cur = current_snapshot(table_dir)
    if cur is not None and cur.get("lsh_params") != dict(lsh_params):
        raise ValueError(
            f"banded corpus at {table_dir} has lsh_params "
            f"{cur.get('lsh_params')}; refusing to append rows hashed "
            f"with {dict(lsh_params)}"
        )
    out_dir = f"{table_dir}/data/run-{run_id}"
    banded.repartition("band", "bucket").write.mode("overwrite").parquet(out_dir)
    files = list_run_files(out_dir)
    return commit_snapshot(
        table_dir, files, [], run_id, extra={"lsh_params": dict(lsh_params)}
    )


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
    keep a stable artifact), a pre-commit crash leaves orphans the
    replay overwrites.  ``train_params`` (n_merges, corpus snapshot id,
    tokenization...) is recorded so an encode job can refuse a merge
    list trained under different rules — mixing tokenizers is the
    silent-corruption analog of mixing LSH hash families.
    """
    already = find_committed_run(table_dir, run_id)
    if already is not None:
        return already
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, a string, b string",
    )
    out_dir = f"{table_dir}/data/run-{run_id}"
    df.coalesce(1).write.mode("overwrite").parquet(out_dir)
    files = list_run_files(out_dir)
    # replace=True: the tokenizer is a WHOLE-artifact table — a retrain
    # supersedes the previous merge list entirely (an appending commit
    # would interleave two trainings' rows with duplicate ranks, the
    # silent-corruption case the docstring warns about)
    return commit_snapshot(
        table_dir, files, [], run_id,
        extra={"train_params": dict(train_params)}, replace=True,
    )


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
    the table is empty.
    """
    snap = current_snapshot(table_dir)
    if snap is None or not snap["data_files"]:
        return snap or {}
    total = sum(os.path.getsize(f) for f in snap["data_files"])
    n_out = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(*snap["data_files"])
    out_dir = f"{table_dir}/data/run-compact-{uuid.uuid4().hex[:12]}"
    df.repartition(n_out).write.parquet(out_dir)
    files = drop_empty_files(list_run_files(out_dir))
    return commit_snapshot(
        table_dir, files, [], f"compact-{snap['snapshot_id']}",
        extra={"compaction_of": snap["snapshot_id"],
               "input_snapshot_id": snap.get("input_snapshot_id", "compact")},
        replace=True,
    )


def expire_snapshots(table_dir: str, keep_last: int = 2,
                     lock_timeout_sec: float = 60.0) -> dict:
    """Expire all but the newest ``keep_last`` snapshots and delete data /
    lineage files no retained snapshot references (Iceberg
    ``expire_snapshots`` semantics: the current snapshot is always
    retained; time travel to an expired id fails; shared files survive).

    Runs under the commit lock so a concurrent commit can't publish a
    snapshot referencing files being deleted.  Returns
    ``{"expired": [ids], "deleted_files": n, "kept": [ids]}``.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    with _commit_lock(Path(table_dir), lock_timeout_sec):
        cur = current_snapshot(table_dir)
        if cur is None:
            return {"expired": [], "deleted_files": 0, "kept": []}
        sd = _snap_dir(table_dir)
        ids = sorted(
            int(p.stem.split("-", 1)[1]) for p in sd.glob("snap-*.json")
        )
        kept_ids = ids[-keep_last:]
        if cur["snapshot_id"] not in kept_ids:  # never expire the current
            kept_ids.append(cur["snapshot_id"])
        expired_ids = [i for i in ids if i not in kept_ids]
        referenced: set[str] = set()
        for i in kept_ids:
            m = read_snapshot(table_dir, i)
            referenced.update(m["data_files"])
            referenced.update(m["lineage_files"])
        deleted = 0
        for i in expired_ids:
            m = read_snapshot(table_dir, i)
            for f in set(m["data_files"]) | set(m["lineage_files"]):
                if f not in referenced and os.path.exists(f):
                    os.remove(f)
                    deleted += 1
            os.remove(sd / f"snap-{i}.json")
        return {"expired": expired_ids, "deleted_files": deleted,
                "kept": sorted(kept_ids)}


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
