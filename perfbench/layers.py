"""Traced runs (``--trace 1``): the per-layer table.

Each traced run measures every layer, whichever workload it is given:

- ``session``: the set-up every run makes;
- ``memory``: the JVM's resident memory during the untraced reference
  pass;
- ``extract`` (driver side) and ``spark.<phase>`` (event log): the traced
  extraction calls;
- ``kernel``: a single-process replay of one traced chunk's media;
- ``query``: a traced board pass.

``extract_mixed`` traces one commit of its pool and probes the board;
``curation_board`` traces its own board and probes extraction with the
warm-up documents, so its extraction figures come from one cold, small
call and compare only with other ``curation_board`` traced runs.
Layer times are plain wall times.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter

from . import inputs
from .env import RunDir, cores, start_session
from .eventlog import PHASE_METRICS, PHASES, EventLog
from .rss import RssSampler
from .trace import KERNEL_STAGES, Timer, kernel_replay
from .workloads import (
    BOARD_QUERIES, Result, board_pass, check_board, check_extract,
    docs_per_s, extract_call, extract_pass, master, setup_session,
)

# the named phases must cover at least this share of the measured whole
COVERAGE_MIN = 0.9
# the traced commit is the first of the pool dealt this many ways (about
# ten documents), small enough to run four times within one traced run
TRACE_CHUNKS = 8


def _sessions(run: RunDir, res: Result, event_log: str | None = None):
    spark, start_s, first_s = setup_session(run, res, event_log)
    del res.metrics["setup_s"]
    res.put("session.start_s", start_s, "s")
    res.put("session.first_job_s", first_s, "s")
    return spark


def _extract_layers(res: Result, log: EventLog, wall: float,
                    timer: Timer, counts: Counter) -> None:
    """Driver-side steps and Spark phases of the call tagged ``c0``."""
    named = {
        "resume_read": timer.s["resume_read"],
        "plan": timer.s["plan"],
        "data_write": timer.s["data_write"],
        "lineage": timer.s["lineage_write"],
        "commit": timer.s["commit"],
    }
    for k, v in named.items():
        res.put(f"extract.{k}_s", v, "s")
    res.put("extract.driver_other_s", wall - sum(named.values()), "s")
    res.put("extract.commits", counts["commits"], "count")
    res.put("extract.data_files", counts["data_files"], "count")
    cover = sum(named.values()) / wall
    res.notes["extract.driver_coverage"] = cover
    if cover < COVERAGE_MIN:
        res.errors.append(f"driver-side phases cover {cover:.1%} of call wall")
    res.put("extract.failure_share",
            res.notes["media_failures"] / res.notes["media_spans"], "share")

    phases = log.extraction_phases(["c0"])
    for p in PHASES:
        for m, unit in PHASE_METRICS:
            res.put(f"spark.{p}.{m}", phases[p][m], unit)
    jobs = log.jobs_tagged("c0")
    busy = log.stage_metrics(log.stages_of(jobs))["busy_s"]
    res.put("spark.jobs", len(jobs), "count")
    res.put("spark.core_busy_share", busy / (wall * cores()), "share")


def _replay(chunk, formats=None) -> tuple[list[dict], dict, list[str]]:
    from red_seal_ocr_spark.sources.datagen import media_format

    media = chunk.media_bytes()
    refs = chunk.media_refs
    fmt = {r: media_format(r, inputs.POOL_SEED) for r in refs}
    items = [(r, media[r]) for r in refs
             if r in media and (formats is None or fmt[r] in formats)]
    return kernel_replay(items, fmt.get), media, refs


def _kernel_layers(res: Result, chunk, kernel_busy_s: float) -> None:
    """Replay ``chunk``'s media through ``process_image`` in this process.

    A container the chunk lacks takes its decode time from the warm-up
    documents, which hold all five.
    """
    from red_seal_ocr_spark.functions.kernel import DECODE_ERROR, OK, TOO_LARGE
    from red_seal_ocr_spark.sources.datagen import media_spec

    recs, media, refs = _replay(chunk)
    n = len(recs)
    total_ms = sum(r["ms"] for r in recs)
    ms = [r["ms"] for r in recs]
    res.put("kernel.image_ms_p50", statistics.median(ms), "ms")
    res.put("kernel.image_ms_p99", statistics.quantiles(ms, n=100, method="inclusive")[98], "ms")
    ok_decode = {f: [] for f in inputs.FORMATS}
    for r in recs:
        if r["status"] == OK:
            ok_decode[r["fmt"]].append(r["stages"].get("decode", 0.0))
    missing = {f for f, v in ok_decode.items() if not v}
    if missing:
        for r in _replay(inputs.warm_chunk(), missing)[0]:
            if r["status"] == OK:
                ok_decode[r["fmt"]].append(r["stages"].get("decode", 0.0))
    for f, v in ok_decode.items():
        res.put(f"kernel.decode_ms.{f}", sum(v) / len(v), "ms")
    staged = 0.0
    for stage in ("decode", *KERNEL_STAGES):
        s = sum(r["stages"].get(stage, 0.0) for r in recs)
        staged += s
        if stage != "decode":
            res.put(f"kernel.{stage}_ms", s / n, "ms")
    res.put("kernel.self_ms", (total_ms - staged) / n, "ms")
    cover = staged / total_ms
    res.notes["kernel.stage_coverage"] = cover
    if cover < COVERAGE_MIN:
        res.errors.append(f"kernel stages cover {cover:.1%} of process_image time")
    mp = 0.0
    for r in refs:
        spec = media_spec(r, inputs.POOL_SEED)
        if r in media and spec["corrupt"] is None:
            mp += spec["h"] * spec["w"] / 1e6
    res.put("kernel.images", n, "count")
    res.put("kernel.megapixels", mp, "Mpx")
    res.put("kernel.components", sum(r["components"] for r in recs), "count")
    res.put("kernel.ok_share", sum(r["status"] == OK for r in recs) / n, "share")
    res.put("kernel.failures.decode_error", sum(r["status"] == DECODE_ERROR for r in recs), "count")
    res.put("kernel.failures.too_large", sum(r["status"] == TOO_LARGE for r in recs), "count")
    res.put("kernel.failures.missing_media", sum(r not in media for r in refs), "count")
    res.put("kernel.spark_overhead_share", 1.0 - total_ms / 1000.0 / kernel_busy_s, "share")


def _query_layers(res: Result, log: EventLog, results: dict, board: Result) -> None:
    for q in BOARD_QUERIES:
        jobs = log.jobs_tagged("query", q)
        res.put(f"query.{q}_s", results[q][0] if q in results else 0.0, "s")
        res.put(f"query.{q}.jobs", len(jobs), "count")
        res.put(f"query.{q}.shuffle_mb",
                log.stage_metrics(log.stages_of(jobs))["shuffle_write_mb"], "MB")
    res.put("board_s", sum(r[0] for r in results.values()), "s")
    res.put("board.failure_share", board.failed / board.attempted, "share")


def _scaling_eff(run: RunDir, cold_n) -> float:
    """``spark.scaling_eff_1_to_N``: docs/s of the first extraction call in
    a session at ``local[N]`` (``cold_n``, over the warm-up documents) ÷
    N × docs/s of the same call in a fresh ``local[1]`` session."""
    probe = inputs.warm_chunk()
    spark, _, _ = start_session(run, master(1))
    try:
        _, cold_1 = extract_call(spark, probe, run.new("local1"))
    finally:
        spark.stop()
    return cold_1.wall_s / (cores() * cold_n.wall_s)


def _absorb(res: Result, other: Result) -> None:
    res.errors.extend(other.errors)
    res.attempted += other.attempted
    res.failed += other.failed


def traced_extract_mixed(run: RunDir, seed: int, seconds: float, res: Result) -> None:
    """Traces one commit: the first of the pool dealt ``TRACE_CHUNKS`` ways.

    Sessions in order: the set-up, which runs the traced board probe;
    the untraced chunk; the traced chunk; the warm-up documents at
    ``local[1]``.  Both timed chunks follow real work in the
    same JVM, so JIT warm-up does not favour the traced one.
    """
    chunk = inputs.mixed_chunks(seed, TRACE_CHUNKS)[:1]
    tables = inputs.board_tables(seed)
    board = Result()
    board_log = run.new("eventlog")
    spark = _sessions(run, res, board_log)
    try:
        results = board_pass(spark, tables, board)
    finally:
        spark.stop()
    check_board(tables, results, board)
    _absorb(res, board)
    _query_layers(res, EventLog.read(board_log), results, board)

    spark, _, _ = start_session(run, master())
    try:
        untraced, rss, cold_n = extract_pass(spark, run, chunk, seconds, res)
    finally:
        spark.stop()
    res.put("memory.jvm_rss_mb", rss.jvm_median_mb, "MB")

    log_dir = run.new("eventlog")
    timer, counts = Timer(), Counter()
    traced_res = Result()
    spark, _, _ = start_session(run, master(), event_log=log_dir)
    try:
        traced, _, _ = extract_pass(spark, run, chunk, seconds, traced_res,
                                    {"timer": timer, "counts": counts})
    finally:
        spark.stop()
    _absorb(res, traced_res)

    log = EventLog.read(log_dir)
    _extract_layers(res, log, traced[0][2].wall_s, timer, counts)
    res.put("trace_overhead_share", 1.0 - docs_per_s(traced) / docs_per_s(untraced), "share")
    _kernel_layers(res, chunk[0], log.extraction_phases(["c0"])["kernel"]["busy_s"])
    res.put("spark.scaling_eff_1_to_N", _scaling_eff(run, cold_n), "share")


def traced_curation_board(run: RunDir, seed: int, seconds: float, res: Result) -> None:
    """Traces the board, then probes extraction with the warm-up documents.

    The set-up session runs the board once, so the JVM has run it before
    both timed passes.  The untraced reference and the traced pass are
    each the first pass of a fresh session (new SparkContext, new Python
    workers), so both pay the same start-up costs.
    """
    tables = inputs.board_tables(seed)
    probe = inputs.warm_chunk()
    board = Result()
    spark = _sessions(run, res)
    try:
        check_board(tables, board_pass(spark, tables, board), board)
    finally:
        spark.stop()

    spark, _, _ = start_session(run, master())
    try:
        with RssSampler(os.getpid()) as rss:
            t0 = time.perf_counter()
            untraced = board_pass(spark, tables, board)
            untraced_s = time.perf_counter() - t0
    finally:
        spark.stop()
    check_board(tables, untraced, board)
    res.put("memory.jvm_rss_mb", rss.jvm_median_mb, "MB")

    log_dir = run.new("eventlog")
    timer, counts = Timer(), Counter()
    spark, _, _ = start_session(run, master(), event_log=log_dir)
    try:
        t0 = time.perf_counter()
        results = board_pass(spark, tables, board)
        traced_s = time.perf_counter() - t0
        m, sw = extract_call(spark, probe, run.new("probe"), "c0", timer, counts)
    finally:
        spark.stop()
    check_board(tables, results, board)
    check_extract(probe, m, res)
    _absorb(res, board)

    log = EventLog.read(log_dir)
    _query_layers(res, log, results, board)
    res.put("trace_overhead_share", 1.0 - untraced_s / traced_s, "share")
    _extract_layers(res, log, sw.wall_s, timer, counts)
    _kernel_layers(res, probe, log.extraction_phases(["c0"])["kernel"]["busy_s"])
    res.put("spark.scaling_eff_1_to_N", _scaling_eff(run, sw), "share")


TRACED = {"extract_mixed": traced_extract_mixed, "curation_board": traced_curation_board}
