"""The Spark extraction pipeline (flagship; SURVEY.md section 3.4).

Plan shape (all public DataFrame API, no RDDs, no custom Catalyst rules):

    read documents snapshot
      -> anti-join committed doc_ids              (resume, section 2.4)
      -> media branch: nested-pruned explode of (kind, media_ref, offset)
         -> left join media bytes on media_ref    (S3 replacement)
         -> repartition by xxhash64(doc_id, offset)  (explicit span-level
            salting: media-heavy documents are sprayed across partitions,
            so one hot doc can never pin a partition — SURVEY.md section 4
            item 1; also guards the broadcast-join case where the join
            would otherwise preserve doc-clustered scan partitioning).
            Sized by kernel_partitions: one task per core under a
            local master, spark.sql.shuffle.partitions elsewhere,
            cfg.salt_partitions when set
         -> mapInPandas(kernel)                   (F1-F13, Arrow batches)
         -> groupBy(doc_id): offset->text map of extracted snippets
      -> map-side splice: left-join the snippet maps onto INTACT document
         rows; transform(spans) replaces successful media spans in place
         (A3/O2 — original array order preserved by construction)
      -> write data + lineage, atomic snapshot commit

Scale notes (100 TB / 10^12 docs):
- what moves per commit: the salted exchange carries (doc_id, offset,
  media_ref) tuples with their media bytes, and the snippet aggregate
  carries extracted snippets.  The text corpus moves too: the splice
  join's docs side, the whole documents table with span text, is
  hash-partitioned by doc_id (spark.sql.shuffle.partitions ways) in the
  first shuffle stage of every commit.  AQE usually turns the join into a
  broadcast of the snippet side over a local read afterwards, but only
  once that stage has already written the corpus.  Bucketing the
  documents table by doc_id removes this shuffle
  (tests/test_bucketing.py); it is the remedy at corpus scale.
- the kernel is the bottleneck by design: everything around it is
  column-pruned (the media path never reads span text).
- failed media spans pass through unchanged and are counted per partition
  in the lineage table (north rule failure semantics).
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..sources.snapshot import commit_snapshot, list_run_files, read_table
from ..sources.snapshot import drop_empty_files as _drop_empty_files

KERNEL_OUT_SCHEMA = (
    "doc_id string, offset int, media_ref string, text string, "
    "ok boolean, failure_kind string, n_components int, confidence double, "
    "kernel_ms double"
)

# optional F12 bbox column appended when cfg.emit_bboxes is set
KERNEL_OUT_SCHEMA_BBOX = KERNEL_OUT_SCHEMA + ", bboxes array<array<int>>"


def _kernel_udf(cfg: EngineConfig):
    """mapInPandas kernel: one Arrow batch of media spans -> extracted rows.

    Batched numpy inside (no per-row Python in the Spark sense: the loop
    over variable-size images is the vectorization boundary, every pixel
    op is numpy).  Worker-side state (glyph templates) lives at module
    level and is reused across batches via spark.python.worker.reuse —
    the executor-side analog of the reference's OCR pool (SURVEY.md X5).
    """

    def run(batches):
        import time

        import pandas as pd

        from ..functions.kernel import OK, TOO_LARGE, process_image

        for b in batches:
            texts, oks, fkinds, ncomps, confs, ms = [], [], [], [], [], []
            boxes = []
            for content in b["content"]:
                if content is None:
                    texts.append(None)
                    oks.append(False)
                    fkinds.append("missing_media")
                    ncomps.append(0)
                    confs.append(None)
                    ms.append(0.0)
                    boxes.append(None)
                    continue
                t0 = time.perf_counter()
                r = process_image(bytes(content), cfg)
                # per-item watchdog metric (never part of span equality):
                # surfaces slow items in lineage so a hot partition is
                # attributable to its inputs, not guessed at
                ms.append((time.perf_counter() - t0) * 1000.0)
                ok = r.status == OK
                texts.append(r.text if ok else None)
                oks.append(ok)
                fkinds.append(
                    None if ok
                    else ("too_large" if r.status == TOO_LARGE else "decode_error")
                )
                ncomps.append(r.n_components)
                confs.append(r.confidence if ok else None)
                boxes.append([list(bx) for bx in r.bboxes] if ok else None)
            cols = {
                "doc_id": b["doc_id"],
                "offset": b["offset"],
                "media_ref": b["media_ref"],
                "text": texts,
                "ok": oks,
                "failure_kind": fkinds,
                "n_components": ncomps,
                "confidence": confs,
                "kernel_ms": ms,
            }
            if cfg.emit_bboxes:
                cols["bboxes"] = boxes
            yield pd.DataFrame(cols)

    return run


_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def kernel_partitions(spark: SparkSession, cfg: EngineConfig = DEFAULT_CONFIG) -> int:
    """Partition count of the salted kernel exchange.

    ``cfg.salt_partitions`` wins when set.  Under a ``local[...]`` master
    the default is one task per core (``defaultParallelism``, exactly the
    N of ``local[N]``): each Python task still costs ~60 ms of a core
    however few images it holds (4-core VM, engine worker, trivial
    ``mapInPandas``), which adds up over commits of a few dozen media per
    core (and local[4] measured no slower than 32 or 128 tasks on a
    2331-media commit).  Any other master keeps
    ``spark.sql.shuffle.partitions``: there ``defaultParallelism`` counts
    only the executors registered so far (as low as 2 right after start-up
    or under dynamic allocation), and a count-based repartition is never
    split by AQE.
    """
    if cfg.salt_partitions:
        return cfg.salt_partitions
    sc = spark.sparkContext
    if _LOCAL_MASTER.fullmatch(sc.master):
        return sc.defaultParallelism
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def extract_documents(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Pure transform: documents + media -> extracted documents.

    Output schema: ``doc_id, spans (input shape, spliced), n_spans,
    n_media, n_failures`` — per-doc metric columns feed the lineage
    aggregation after the write (no recompute, SURVEY.md section 4).
    """
    # Every expression below is a SQL string (selectExpr / F.expr): the
    # analyzer builds the same plan as the equivalent Column-API trees,
    # but from one py4j call per expression instead of one per node,
    # which keeps plan building at ~0.1 s per commit.
    #
    # media path: this branch never needs span.text, but Generate blocks
    # nested-schema pruning for struct-typed explodes — extracting the
    # needed fields with GetArrayStructFields (arrays_zip of direct field
    # paths, which names the zipped fields kind/media_ref/offset) BEFORE
    # the explode restores it: the scan's ReadSchema drops text
    # (tests/test_pipeline.py::test_media_branch_scan_prunes_span_text),
    # which at 10^12-doc scale removes the dominant column from this
    # branch's I/O.
    media_spans = (
        docs.selectExpr(
            "doc_id", "arrays_zip(spans.kind, spans.media_ref, spans.offset) AS mspans"
        )
        .selectExpr("doc_id", "explode(mspans) AS span")
        .where("span.kind = 'media'")
        .selectExpr("doc_id", "span.offset AS offset", "span.media_ref AS media_ref")
    )
    joined = media_spans.join(media, on="media_ref", how="left")

    # explicit skew handling: salt by span identity, not doc_id
    salt_n = kernel_partitions(spark, cfg)
    salted = joined.repartition(salt_n, F.expr("xxhash64(doc_id, offset)"))

    extracted = salted.mapInPandas(
        _kernel_udf(cfg),
        schema=KERNEL_OUT_SCHEMA_BBOX if cfg.emit_bboxes else KERNEL_OUT_SCHEMA,
    )

    # Map-side splice (A3/O2): instead of exploding + re-collecting every
    # span (which shuffles the whole text corpus through collect_list),
    # only the extracted snippets — offset -> text for successful media
    # spans, tiny relative to the corpus — are grouped per doc and joined
    # back onto the INTACT document rows; a transform over the original
    # spans array splices them in place.  Original array order
    # (offset-ascending per the input_hint contract) is preserved by
    # construction.
    aggs = [
        # collect_list drops nulls, so failed spans contribute nothing
        # to the splice map but still feed the watchdog metric below
        "map_from_entries(collect_list(CASE WHEN ok THEN struct(offset, text) END))"
        " AS extracted_map",
        "min(CASE WHEN ok THEN confidence END) AS min_ocr_confidence",
        "max(kernel_ms) AS max_kernel_ms",
    ]
    if cfg.emit_bboxes:
        # F12 metric payload: offset -> per-component [y0, x0, y1, x1];
        # rides the same snippets-only aggregate, never touches spans
        aggs.append(
            "map_from_entries(collect_list(CASE WHEN ok THEN struct(offset, bboxes) END))"
            " AS seal_bboxes"
        )
    results = extracted.groupBy("doc_id").agg(*map(F.expr, aggs))

    n_media = "size(filter(spans, s -> s.kind = 'media'))"
    spliced = docs.join(results, on="doc_id", how="left").selectExpr(
        "doc_id",
        "transform(spans, s -> CASE"
        " WHEN s.kind = 'media' AND extracted_map IS NOT NULL"
        " AND extracted_map[s.offset] IS NOT NULL"
        " THEN struct('text' AS kind, extracted_map[s.offset] AS text,"
        " s.media_ref AS media_ref, s.offset AS offset)"
        " ELSE s END) AS spans",
        "size(spans) AS n_spans",
        f"{n_media} AS n_media",
        f"{n_media} - coalesce(size(map_keys(extracted_map)), 0) AS n_failures",
        "min_ocr_confidence",
        # watchdog: slowest kernel item per doc (metric only — never part
        # of the span-equality tuple; feeds the lineage aggregation)
        "max_kernel_ms",
        *(["seal_bboxes"] if cfg.emit_bboxes else []),
    )
    return spliced


def run_extract(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    table_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    run_id: str | None = None,
    input_snapshot_id: str = "adhoc",
) -> dict:
    """Checkpointed run: process only uncommitted docs, commit atomically.

    Returns the published snapshot manifest.  Crash-safe: data/lineage
    files land under run-scoped directories first; the table only ever
    references them once ``_current`` flips (atomic rename).  A rerun
    after any failure anti-joins the committed doc_ids and processes just
    the remainder (north rule: resumable from checkpoint).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    committed = read_table(spark, table_dir)
    remaining = docs
    if committed is not None:
        remaining = docs.join(committed.select("doc_id"), on="doc_id", how="left_anti")

    result = extract_documents(spark, remaining, media, cfg)
    data_dir = f"{table_dir}/data/run-{run_id}"
    result.write.parquet(data_dir)
    data_files = _drop_empty_files(list_run_files(data_dir))

    lineage_files: list[str] = []
    if data_files:
        # per-partition lineage from the files just written (column-pruned
        # read of the metric columns only; zero recompute of the kernel).
        # The files' schema is the plan's, so passing it skips the parquet
        # footer-inference job a schema-less read would start.
        lineage = (
            spark.read.schema(result.schema).parquet(*data_files)
            .groupBy(F.input_file_name().alias("partition_file"))
            .agg(
                F.count("*").alias("docs"),
                F.sum("n_media").alias("media_spans"),
                F.sum("n_failures").alias("failures"),
                F.max("max_kernel_ms").alias("max_kernel_ms"),
            )
            .select(
                F.lit(run_id).alias("run_id"),
                F.lit(input_snapshot_id).alias("input_snapshot_id"),
                "partition_file",
                "docs",
                "media_spans",
                "failures",
                "max_kernel_ms",
            )
        )
        lineage_dir = f"{table_dir}/_lineage/run-{run_id}"
        lineage.write.parquet(lineage_dir)
        lineage_files = list_run_files(lineage_dir)

    return commit_snapshot(
        table_dir,
        data_files,
        lineage_files,
        run_id,
        extra={"input_snapshot_id": input_snapshot_id},
    )


def run_extract_batched(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    table_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    n_batches: int = 8,
    run_id: str | None = None,
    input_snapshot_id: str = "adhoc",
) -> dict:
    """Checkpointed run committing in ``n_batches`` deterministic slices.

    The 10^12-doc operating shape: one snapshot commit per hash slice of
    the input, so a mid-run failure loses at most one slice of work — the
    rerun's anti-join (run_extract) skips every committed slice and
    reprocesses only the one that was in flight.  Slicing is by
    ``xxhash64(doc_id) % n_batches``: content-keyed, reproducible across
    runs, independent of physical partitioning.

    Scale note: the hash filter cannot prune the scan, so this shape
    costs n_batches passes over the input — fine when the kernel
    dominates (it does here: the scan is a pruned three-column read) or
    when the input is parquet in page cache.  At 100 TB you would
    instead bucket/partition the input table by the slice key once (one
    shuffle, amortized across every downstream run) so each batch scan
    prunes to its own files; the commit/anti-join protocol is unchanged.

    Returns the last committed manifest.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    manifest: dict = {}
    for b in range(n_batches):
        subset = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(n_batches)) == b)
        # Salt each batch's run id with a fresh uuid component: a resume
        # with a caller-pinned --run-id must never target the same
        # data/run-<id>-bNNN directory a crashed attempt already created
        # (the default-mode parquet write would fail).  Slice membership
        # stays deterministic (the hash filter above); only the staging
        # directory name is salted, and uncommitted orphan directories are
        # invisible to readers (manifest lists files explicitly).
        manifest = run_extract(
            spark, subset, media, table_dir, cfg,
            run_id=f"{run_id}-b{b:03d}-{uuid.uuid4().hex[:6]}",
            input_snapshot_id=input_snapshot_id,
        )
    return manifest
