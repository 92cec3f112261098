"""The workloads of untraced runs (``--trace 0``): set-up, warm-up, the
timed section, the checks and the end-to-end metrics."""

from __future__ import annotations

import os
import time
from collections import Counter
from contextlib import nullcontext
from urllib.parse import unquote, urlparse

from . import inputs
from .env import RunDir, ROOT, Stopwatch, cores, start_session
from .rss import RssSampler
from .trace import Timer, extract_driver, job_tag
from .truth import check_output, span_key

EXTRACT_CHUNKS = 3
# one or more queries per curation operator module: dedup (q19b, q15c),
# classify (q33d, q17c), decontam (q47b), textops (q21d), similarity
# (q18b), multimodal (q27b)
BOARD_QUERIES = (
    "q19b_dup_clusters", "q15c_dup_spans", "q33d_dsir_weights",
    "q17c_nb_score", "q47b_contamination_spans", "q21d_bigram_lm",
    "q18b_quantized_ann", "q27b_video_stats",
)


class Result:
    """Metrics, checks and counts of one run."""

    def __init__(self) -> None:
        self.metrics: dict[str, tuple[float, str]] = {}
        self.notes: dict[str, object] = {}
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    @property
    def correct(self) -> bool:
        return not self.errors and self.failed == 0


def master(n: int | None = None) -> str:
    return f"local[{n or cores()}]"


def setup_session(run: RunDir, res: Result, event_log: str | None = None):
    """The run's first session, which launches the JVM, as every job
    does once per process (with the Spark event log written to
    ``event_log``, if given).  Puts ``setup_s``; returns ``(spark,
    start_s, first_job_s)``."""
    spark, start, first = start_session(run, master(), event_log)
    res.put("setup_s", start.wall_s + first.wall_s, "s")
    return spark, start.wall_s, first.wall_s


# ---------------------------------------------------------------------------
# extraction
# ---------------------------------------------------------------------------


def put_rss(res: Result, rss: RssSampler) -> None:
    """``worker_rss_mb``, with the JVM's part, the total and its peak as notes.

    Only the Python workers' memory is gated: the JVM's resident memory
    follows G1's heap-sizing decisions, which vary from run to run on the
    same work (its median spread by 0.27 over ten board runs)."""
    res.put("worker_rss_mb", rss.other_median_mb, "MB")
    res.notes["jvm_rss_mb"] = round(rss.jvm_median_mb, 1)
    res.notes["total_rss_mb"] = round(rss.median_mb, 1)
    res.notes["peak_rss_mb"] = round(rss.peak_mb, 1)


def extract_call(spark, chunk, table_dir: str, label: str | None = None,
                 timer: Timer | None = None, counts: Counter | None = None):
    """One ``run_extract`` over a chunk into a fresh table: (manifest, Stopwatch)."""
    from red_seal_ocr_spark.operators.extract import run_extract

    docs, media = chunk.read(spark)
    traced = extract_driver(spark, label, timer, counts) if label else nullcontext()
    with traced, Stopwatch() as sw:
        manifest = run_extract(spark, docs, media, table_dir)
    return manifest, sw


def _local_path(uri: str) -> str:
    return unquote(urlparse(uri).path) if uri.startswith("file:") else uri


def check_extract(chunk, manifest: dict, res: Result) -> None:
    """Correctness of one committed table (outside every timed section)."""
    import pyarrow.parquet as pq

    rows = pq.read_table(manifest["data_files"], columns=["doc_id", "spans"]).to_pylist()
    committed = {r["doc_id"]: [span_key(s) for s in r["spans"]] for r in rows}
    if len(committed) != len(rows):
        res.errors.append("a document was committed twice")
    lin = pq.read_table(manifest["lineage_files"]).to_pydict()
    lineage = {k: int(sum(lin[k])) for k in ("docs", "media_spans", "failures")}
    v = check_output(chunk.docs, inputs.POOL_SEED, committed, lineage,
                     manifest["data_files"],
                     [_local_path(f) for f in lin["partition_file"]],
                     chunk.media_bytes)
    res.errors.extend(v.errors)
    res.attempted += len(chunk.docs)
    res.failed += len(chunk.docs) - v.docs
    n = res.notes
    n["docs"] = n.get("docs", 0) + v.docs
    n["media_spans"] = n.get("media_spans", 0) + v.media_spans
    n["media_failures"] = n.get("media_failures", 0) + v.failures


def extract_pass(spark, run: RunDir, chunks, seconds: float, res: Result,
                 traced: dict | None = None):
    """Warm up, then commit the chunks in order, starting no chunk once
    ``seconds`` have passed.

    Returns ``[(chunk, manifest, Stopwatch), ...]``, the memory sampled
    while committing and the warm-up call's ``Stopwatch``.

    With ``traced`` (``{"timer", "counts"}``) each chunk's jobs are tagged
    ``c<k>`` and its driver-side steps timed.
    """
    _, warm = extract_call(spark, inputs.warm_chunk(), run.new("warm"))
    done = []
    t_begin = time.perf_counter()
    with RssSampler(os.getpid()) as rss:
        for k, chunk in enumerate(chunks):
            if done and time.perf_counter() - t_begin >= seconds:
                break
            if traced is None:
                m, sw = extract_call(spark, chunk, run.new("table"))
            else:
                m, sw = extract_call(spark, chunk, run.new("table"), f"c{k}",
                                     traced["timer"], traced["counts"])
            done.append((chunk, m, sw))
    for chunk, m, _ in done:
        check_extract(chunk, m, res)
    return done, rss, warm


def docs_per_s(done) -> float:
    return sum(len(c.docs) for c, _, _ in done) / sum(sw.wall_s for _, _, sw in done)


def extract_mixed(run: RunDir, seed: int, seconds: float, res: Result) -> None:
    chunks = inputs.mixed_chunks(seed, EXTRACT_CHUNKS)
    inputs.warm_chunk()  # materialized before any session starts
    spark, _, _ = setup_session(run, res)
    try:
        done, rss, _ = extract_pass(spark, run, chunks, seconds, res)
    finally:
        spark.stop()
    res.put("docs_per_s", docs_per_s(done), "docs/s")
    put_rss(res, rss)
    res.notes["chunk_wall_s"] = [round(sw.wall_s, 3) for _, _, sw in done]
    res.notes["chunk_docs"] = [len(c.docs) for c, _, _ in done]
    res.notes["failure_share"] = res.notes["media_failures"] / res.notes["media_spans"]


# ---------------------------------------------------------------------------
# curation board
# ---------------------------------------------------------------------------


def _oracle_check():
    """``tools/check_correctness.py``'s canonical row hash, imported."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "perfbench_check_correctness", ROOT / "tools" / "check_correctness.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._rows_hash


def board_pass(spark, tables: str, res: Result) -> dict:
    """Run every board query once (tagged ``query|<name>``); returns
    ``{name: (seconds, rows, columns)}``; a query that raises is a failed
    operation."""
    from red_seal_ocr_spark.plans.queries import SPARK_QUERIES

    out = {}
    for q in BOARD_QUERIES:
        job_tag(spark, f"query|{q}")
        t0 = time.perf_counter()
        try:
            df = SPARK_QUERIES[q](spark, tables)
            rows = [r.asDict() for r in df.collect()]
        except Exception as exc:  # noqa: BLE001 - a failed query is counted
            res.errors.append(f"{q}: {type(exc).__name__}: {exc}"[:300])
            res.failed += 1
            continue
        finally:
            job_tag(spark, None)
        out[q] = (time.perf_counter() - t0, rows, df.columns)
    res.attempted += len(BOARD_QUERIES)
    return out


def check_board(tables: str, results: dict, res: Result) -> None:
    """Each query's rows against its DuckDB oracle at the same tables."""
    import duckdb

    from red_seal_ocr_spark.plans.queries import ORACLE_SQL

    rows_hash = _oracle_check()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
        for q, (_, srows, cols) in results.items():
            ddf = con.execute(ORACLE_SQL[q]).fetchdf()
            drows = ddf.to_dict("records")
            same = (len(srows) == len(drows)
                    and sorted(c.lower() for c in cols) == sorted(c.lower() for c in ddf.columns)
                    and rows_hash(srows, cols) == rows_hash(drows, list(ddf.columns)))
            if not same:
                res.errors.append(f"{q}: rows differ from the DuckDB oracle")
                res.failed += 1
    finally:
        con.close()


def curation_board(run: RunDir, seed: int, seconds: float, res: Result) -> None:
    tables = inputs.board_tables(seed)
    spark, _, _ = setup_session(run, res)
    try:
        with RssSampler(os.getpid()) as rss, Stopwatch() as sw:
            results = board_pass(spark, tables, res)
    finally:
        spark.stop()
    check_board(tables, results, res)
    res.put("docs_per_s", inputs.BOARD_DOCS / sw.wall_s, "docs/s")
    put_rss(res, rss)
    res.notes["board_s"] = sw.wall_s
    res.notes["query_s"] = {q: round(r[0], 3) for q, r in results.items()}
    res.notes["failure_share"] = res.failed / len(BOARD_QUERIES)


WORKLOADS = {"extract_mixed": extract_mixed, "curation_board": curation_board}
