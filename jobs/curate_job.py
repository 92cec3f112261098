"""spark-submit entry point for the training-data curation pipeline.

Runs the composed curation funnel (lang-id -> quality gate -> exact dedup
-> MinHash-LSH near-dup dedup) over a documents table and commits the
surviving corpus plus the per-stage funnel report to an atomic snapshot
table — the batch job a pretraining-data team would schedule.

Usage::

    python jobs/make_pyfiles.py                      # build dist/engine.zip
    spark-submit --py-files dist/engine.zip jobs/curate_job.py \
        --input /root/testdata/sf0.01/documents.parquet \
        --output /tmp/curated [--keep-langs en,de] \
        [--min-quality 40] [--min-jaccard 80]

Output table layout (snapshot manifests as in the extraction job):
data files = kept documents (with pred_lang / quality columns attached);
lineage files = the funnel (one row per stage with documents remaining).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import time
import uuid


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--output", required=True, help="output snapshot table dir")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--keep-langs", default=None,
                    help="comma-separated predicted languages to keep")
    ap.add_argument("--min-quality", type=int, default=40)
    ap.add_argument("--min-jaccard", type=int, default=80)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from red_seal_ocr_spark.operators.curate import curate_documents
    from red_seal_ocr_spark.session import get_spark
    from red_seal_ocr_spark.sources.snapshot import (
        commit_run,
        find_committed_run,
        run_files,
    )

    run_id = args.run_id or uuid.uuid4().hex[:12]
    committed = find_committed_run(args.output, run_id)
    if committed is not None:
        # a shortcut: commit_run rejects a replay too, but only after
        # the eager connected-component rounds of the curation
        print(f"run {run_id} already committed as snapshot "
              f"{committed['snapshot_id']} -> {args.output}; nothing written")
        return 0

    pre_existing = SparkSession.getActiveSession() is not None
    spark = get_spark("curate-job", master=args.master)
    t0 = time.time()
    try:
        docs = spark.read.parquet(args.input)
        keep_langs = tuple(args.keep_langs.split(",")) if args.keep_langs else None
        kept, funnel = curate_documents(
            docs,
            id_col=args.id_col,
            text_col=args.text_col,
            keep_langs=keep_langs,
            min_quality_pct=args.min_quality,
            near_dup_jaccard_pct=args.min_jaccard,
        )
        manifest = commit_run(args.output, run_id, kept,
                              lineage=funnel.coalesce(1),
                              extra={"job": "curate", "input": args.input})
        _, funnel_files = run_files(args.output, manifest, "lineage_files")
        rows = {r["stage"]: r["docs"]
                for r in spark.read.parquet(*funnel_files).collect()}
        for stage in sorted(rows):
            print(f"{stage}: {rows[stage]}")
        print(f"committed snapshot {manifest['snapshot_id']} "
              f"(run {run_id}) in {time.time() - t0:.1f}s -> {args.output}")
        return 0
    finally:
        if not pre_existing:  # don't tear down a caller-owned session
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
