"""Streaming curation: cross-batch site-template stripping (VERDICT r05
#7 — wire curate stage 0 into the incremental extraction story).

The batch :func:`~red_seal_ocr_spark.operators.html_extract.
site_template_strip` needs cross-document evidence: a line is template
when it appears on >= N% of a site's documents.  A micro-batch alone
rarely carries that evidence — a nav bar spread over many batches never
crosses the threshold inside any single one.  So the streaming path
keeps CUMULATIVE per-(site, line) statistics as a snapshot table and
re-derives the template verdicts from the running totals each batch:

- stats table rows: ``(site, line, cnt)`` = how many distinct docs of
  ``site`` contain ``line``; the ``line IS NULL`` row carries the
  site's total doc count.
- per batch: aggregate the SAME stats over just the batch, add them to
  the stored totals, commit the merged table (REPLACE snapshot), then
  strip the batch's docs using verdicts from the merged stats.

Additivity: per-batch distinct-doc counts sum to the global distinct
count because a file-source micro-batch delivers each document exactly
once.  Replayed batches (foreachBatch is at-least-once after a crash)
would double-count, so every commit's run id is ``batch-<batch_id>`` and
``snapshot.commit_run`` commits a run id once: a replayed batch merges
nothing — stats updates are exactly-once.  That rule reads the ``_runs/``
index, not the history, so both tables expire to :data:`KEEP_LAST`
snapshots after each commit: per-batch cost and snapshot count stay flat.

Scale shape: the stats table holds distinct (site, line) pairs — the
aggregated vocabulary, orders of magnitude smaller than the corpus; the
merge is one map-side-combinable groupBy keyed like the strip's own
join.  At cluster scale the REPLACE rewrite becomes a merge-on-read
partitioned table; the semantics here are the contract.

Forward-only semantics, stated: documents committed in earlier batches
keep template lines that had not yet crossed the threshold when they
were processed (they were not template *on the evidence available*); a
periodic batch re-strip over the full table is the compaction-style
cleanup for that, and the stats table already holds everything it needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.html_extract import (
    batch_site_line_stats,
    boiler_from_stats,
    strip_lines_by_flag,
)
from ..sources import snapshot as snap

KEEP_LAST = 1  # snapshots a streaming table keeps after each commit


def _merge_batch_stats(
    spark: SparkSession,
    batch_stats: DataFrame,
    stats_dir: str,
    batch_id: int,
    keys: tuple,
    sums: tuple,
) -> DataFrame:
    """Add one batch's additive ``batch_stats`` into the cumulative table
    at ``stats_dir`` (grouped by ``keys``, summing ``sums``) and return
    the cumulative stats DataFrame.

    Exactly-once: ``snapshot.commit_run`` commits run id
    ``batch-<batch_id>`` once, so a replayed batch merges nothing.  A
    crash between the write and the commit makes foreachBatch replay the
    SAME batch_id (the at-least-once window this module documents); the
    replay stages under its own attempt directory, so the dead attempt's
    files stay orphans.  The merge REPLACEs the snapshot it read
    (``snapshot.CommitConflict`` if another commit landed); older
    versions expire."""
    cur = snap.current_snapshot(stats_dir)
    old = cur and snap.read_table(spark, stats_dir,
                                  snapshot_id=cur["snapshot_id"])
    merged = (
        batch_stats
        if old is None
        else old.unionByName(batch_stats)
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in sums])
    )
    snap.commit_run(stats_dir, f"batch-{batch_id}", merged,
                    replace=cur or {})
    snap.expire_snapshots(stats_dir, KEEP_LAST)
    return snap.read_table(spark, stats_dir)


def update_site_line_stats(
    spark: SparkSession,
    batch_docs: DataFrame,
    stats_dir: str,
    batch_id: int,
    id_col: str = "doc_id",
    site_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Merge one batch's site-line stats into the cumulative table
    (exactly-once, :func:`_merge_batch_stats`) and return the cumulative
    stats DataFrame."""
    batch_stats = batch_site_line_stats(batch_docs, id_col, site_col, text_col)
    return _merge_batch_stats(spark, batch_stats, stats_dir, batch_id,
                              keys=("site", "line"), sums=("cnt",))


def run_site_strip_stream(
    spark: SparkSession,
    docs_dir: str,
    schema,
    stats_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    site_col: str = "source",
    text_col: str = "text",
    min_doc_frac_pct: int = 60,
    max_files: int = 8,
    timeout_sec: int = 600,
) -> None:
    """Consume available document files (availableNow), maintaining the
    cumulative site-line stats and committing each batch's STRIPPED docs
    as a snapshot of ``table_dir`` — template lines spread across
    micro-batches are caught from the batch where the site's cumulative
    threshold is crossed."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.cache()
        try:
            stats = update_site_line_stats(
                spark, batch_df, stats_dir, batch_id,
                id_col=id_col, site_col=site_col, text_col=text_col,
            )
            stripped = strip_lines_by_flag(
                batch_df,
                boiler_from_stats(stats, min_doc_frac_pct),
                id_col=id_col, site_col=site_col, text_col=text_col,
            )
            snap.commit_run(table_dir, f"batch-{batch_id}", stripped)
            snap.expire_snapshots(table_dir, KEEP_LAST)
        finally:
            batch_df.unpersist()

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(docs_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_sec)
    finally:
        q.stop()


# ---------------------------------------------------------------------------
# streaming NB classifier: cumulative per-(term, class) counts
# ---------------------------------------------------------------------------
def batch_nb_stats(
    batch_docs: DataFrame,
    label_col: str = "is_target",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One batch's NB count contribution: ``(term, c_pos, c_neg)`` token
    counts per class, plus the ``term IS NULL`` row carrying the batch's
    (d_pos, d_neg) document counts in the same two columns — the
    site-line-stats encoding applied to the classifier."""
    from ..operators.classify import _toks

    lbl = F.col(label_col).cast("boolean")
    exploded = batch_docs.select(
        lbl.alias("y"), F.explode(_toks(text_col)).alias("term")
    )
    term_rows = exploded.groupBy("term").agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("long").alias("c_pos"),
        F.sum(F.when(F.col("y"), 0).otherwise(1)).cast("long").alias("c_neg"),
    )
    doc_row = batch_docs.agg(
        F.sum(F.when(lbl, 1).otherwise(0)).cast("long").alias("c_pos"),
        F.sum(F.when(lbl, 0).otherwise(1)).cast("long").alias("c_neg"),
    ).select(F.lit(None).cast("string").alias("term"), "c_pos", "c_neg")
    return term_rows.unionByName(doc_row)


def update_nb_stats(
    spark: SparkSession,
    batch_docs: DataFrame,
    stats_dir: str,
    batch_id: int,
    label_col: str = "is_target",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Merge one batch's NB counts into the cumulative model table —
    exactly-once through the same :func:`_merge_batch_stats` as the
    site-line stats (token counts are additive across micro-batches for
    the same reason the site-line counts are: a file-source batch
    delivers each document exactly once)."""
    batch_stats = batch_nb_stats(batch_docs, label_col, id_col, text_col)
    return _merge_batch_stats(spark, batch_stats, stats_dir, batch_id,
                              keys=("term",), sums=("c_pos", "c_neg"))


def score_batch_nb(
    batch_docs: DataFrame,
    stats: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score a micro-batch against the CUMULATIVE NB model — the shared
    :func:`~red_seal_ocr_spark.operators.classify.nb_score_with_model`
    expression over counts read from the stats table, so a batch scored
    after N ingests gets exactly the model a batch job over those N
    batches' union would train.  Until both classes have appeared in the
    stream the scorer emits no rows (the one-class guard in the shared
    expression)."""
    from ..operators.classify import nb_score_with_model

    term_counts = stats.filter(F.col("term").isNotNull())
    doc_counts = stats.filter(F.col("term").isNull()).select(
        F.col("c_pos").alias("d_pos"), F.col("c_neg").alias("d_neg")
    )
    return nb_score_with_model(batch_docs, term_counts, doc_counts,
                               id_col, text_col)
