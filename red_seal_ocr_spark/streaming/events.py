"""Structured Streaming jobs over an events stream.

The reference is request/response + batch (SURVEY.md 2.10) — no streaming
operator is required for parity — but a web-scale ingestion tier needs
the streaming shapes, so the engine ships them as first-class operators:

- :func:`windowed_counts` — tumbling event-time window + watermark for
  late data, the canonical readStream -> agg -> writeStream job.
- :func:`sessionize` — custom stateful operator via
  ``applyInPandasWithState``: gap-based sessionization with per-user
  state and event-time timeout.
- :func:`run_stream_once` — drives any of these over the parquet events
  table with ``trigger(availableNow=True)`` into a memory sink, which is
  how the tests exercise the real streaming engine deterministically
  (no sockets, no sleeps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)

SESSION_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events int, total_value double"
)

_STATE_SCHEMA = "last_ts timestamp, start_ts timestamp, n int, total double"


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over a directory of events parquet files."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(events_dir)
    )


def windowed_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts per event_type with a late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value") * 100).cast("bigint").alias("value_cents"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30,
               watermark: str = "2 hours") -> DataFrame:
    """Gap-based sessionization with applyInPandasWithState.

    Sessions close when no event arrives within ``gap_minutes`` of the
    last one (event time), enforced by a state timeout so sessions also
    flush when the watermark passes.
    """
    import datetime as dt

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap = dt.timedelta(minutes=gap_minutes)

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            last_ts, start_ts, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                [(user_id, start_ts, last_ts, n, total)],
                columns=["user_id", "session_start", "session_end", "n_events",
                         "total_value"],
            )
            return
        rows = pd.concat(list(pdf_iter)).sort_values("ts")
        out = []
        if state.exists:
            last_ts, start_ts, n, total = state.get
        else:
            last_ts = start_ts = None
            n, total = 0, 0.0
        for ts, value in zip(rows["ts"], rows["value"]):
            ts = ts.to_pydatetime()
            if last_ts is not None and ts - last_ts > gap:
                out.append((user_id, start_ts, last_ts, n, total))
                start_ts, n, total = ts, 0, 0.0
            if start_ts is None:
                start_ts = ts
            last_ts = ts
            n += 1
            total += float(value)
        state.update((last_ts, start_ts, n, total))
        state.setTimeoutTimestamp(int(last_ts.timestamp() * 1000) + gap_minutes * 60_000)
        if out:
            yield pd.DataFrame(
                out,
                columns=["user_id", "session_start", "session_end", "n_events",
                         "total_value"],
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_stream_once(stream_df: DataFrame, query_name: str,
                    output_mode: str = "append", timeout_sec: int = 120) -> DataFrame:
    """Run a streaming DataFrame to completion with availableNow into a
    memory sink; returns the sink contents as a batch DataFrame."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_sec)
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


DOCS_STREAM_SCHEMA = "doc_id bigint, ts timestamp, text string"


def streaming_exact_dedup(docs: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming exact-dedup: emit only the first occurrence of
    each normalized text fingerprint (dedup.normalized_fingerprint
    semantics), with state bounded by an event-time watermark via
    ``dropDuplicatesWithinWatermark`` — the streaming twin of the batch
    exact-dedup stage, and the state-store shape that scales: state is
    keyed by the 128-bit fingerprint only, evicted once the watermark
    passes, never the corpus.

    Input schema: (doc_id, ts, text).  Output: input rows minus later
    duplicates (exactly-once per fingerprint within the watermark).
    """
    from ..operators.dedup import normalized_fingerprint

    return (
        docs.withColumn("fingerprint", normalized_fingerprint("text"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
        .drop("fingerprint")
    )


def streaming_url_dedup(docs: DataFrame, url_col: str = "url",
                        watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming URL dedup — the streaming twin of
    ``urls.url_dedup``, and the cheapest dedup a crawl-ingest stream can
    run (a refetched page is dropped on its URL string before any text
    ever enters the pipeline): emit only the first occurrence of each
    CANONICAL url (``urls.with_canonical_url`` semantics — fragments,
    tracking params, default ports, host case, trailing slashes
    collapse), state bounded by the event-time watermark via
    ``dropDuplicatesWithinWatermark``, keyed by the canonical string
    only — the same state-store shape as ``streaming_exact_dedup`` with
    URLs instead of fingerprints.

    Input schema: (..., ts, <url_col>).  Output: input rows +
    ``canonical_url`` minus later duplicates (exactly-once per canonical
    URL within the watermark).  Batch/streaming keep rules differ by
    design: the batch op keeps the MIN id of a group, the stream keeps
    the FIRST ARRIVAL — the only keep rule a stream can implement
    without holding the group open forever.

    NULL-url rows pass through UNCONDITIONALLY (ADVICE r06, mirroring
    the batch fix): canonical_url(NULL) is NULL, a valid dedup key for
    ``dropDuplicatesWithinWatermark``, so without the split every
    URL-less document in the watermark would silently collapse into one
    kept row.
    """
    from ..operators.urls import with_canonical_url

    nulls = docs.filter(F.col(url_col).isNull()).select(
        "*", F.lit(None).cast("string").alias("canonical_url")
    )
    deduped = (
        with_canonical_url(docs.filter(F.col(url_col).isNotNull()), url_col)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["canonical_url"])
    )
    return deduped.unionByName(nulls)


NEAR_DUP_SCHEMA = (
    "doc_id bigint, ts timestamp, band int, bucket bigint, "
    "first_doc_id bigint, first_ts timestamp"
)

_NEAR_DUP_STATE_SCHEMA = "first_doc_id bigint, first_ts timestamp"


def streaming_near_dedup(docs: DataFrame, watermark: str = "1 hour",
                         num_hashes: int = 32, bands: int = 8,
                         shingle_k: int = 3) -> DataFrame:
    """Watermarked MinHash-band NEAR-duplicate detector: the streaming twin
    of ``dedup.minhash_lsh_candidates`` (VERDICT r03 #8).

    Signature/banding reuse the batch construction
    (``dedup.banded_minhash`` carrying ``ts`` — all JVM expressions,
    streaming-safe);
    state is the first-seen ``(doc_id, ts)`` per ``(band, bucket)`` key,
    evicted by EventTimeTimeout once the watermark passes its last
    sighting — bounded by the distinct band buckets inside the watermark
    window, never the corpus (the same state-store shape as the
    exact-dedup stage, with bucket keys instead of fingerprints).

    Output (append): one collision record per (doc, band) whose bucket
    was first claimed by a DIFFERENT document within the watermark:
    ``(doc_id, ts, band, bucket, first_doc_id, first_ts)``.  A document
    with >= 1 record is a near-dup candidate (>= 1 of ``bands`` band
    hashes collided — the LSH candidate semantics); a near-duplicate
    arriving after the watermark passed finds evicted state and emits
    nothing.  Exact re-rank (n-gram Jaccard / cosine) stays a downstream
    batch verify, as in the batch funnel.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.dedup import banded_minhash

    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    wm_ms = int(pd.Timedelta(watermark).total_seconds() * 1000)

    banded = banded_minhash(docs, num_hashes=num_hashes, bands=bands,
                            shingle_k=shingle_k, extra_cols=("ts",))

    wm_td = pd.Timedelta(watermark)

    def fn(key, pdf_iter, state: GroupState):
        band, bucket = key
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdf_iter)).sort_values("ts")
        if state.exists:
            first_doc, first_ts = state.get
        else:
            first_doc, first_ts = None, None
        out = []
        last_ts = None
        for doc_id, ts in zip(rows["doc_id"], rows["ts"]):
            ts = ts.to_pydatetime()
            last_ts = ts
            # a key that keeps receiving data is never auto-evicted by the
            # timeout (timeouts only fire for data-less keys), so expire
            # the claim by event time here: past the watermark window the
            # incoming document becomes the new claimant, not a collision
            if first_doc is not None and ts - first_ts > wm_td:
                first_doc, first_ts = None, None
            if first_doc is None:
                first_doc, first_ts = int(doc_id), ts
            elif int(doc_id) != int(first_doc):
                out.append((int(doc_id), ts, int(band), int(bucket),
                            int(first_doc), first_ts))
        state.update((first_doc, first_ts))
        # keep the bucket claim alive for one watermark past its last
        # sighting, then evict — bounded state
        state.setTimeoutTimestamp(int(last_ts.timestamp() * 1000) + wm_ms)
        if out:
            yield pd.DataFrame(
                out,
                columns=["doc_id", "ts", "band", "bucket",
                         "first_doc_id", "first_ts"],
            )

    return (
        banded.withWatermark("ts", watermark)
        .groupBy("band", "bucket")
        .applyInPandasWithState(
            fn,
            outputStructType=NEAR_DUP_SCHEMA,
            stateStructType=_NEAR_DUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
