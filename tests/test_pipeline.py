"""Spark pipeline tests: span equality vs oracle, splice plumbing, skew salt
invariance (SURVEY.md section 5, test strategies #2 and #4)."""

import re
from types import SimpleNamespace

import pytest

from red_seal_ocr_spark.config import EngineConfig
from red_seal_ocr_spark.operators.extract import extract_documents, kernel_partitions
from red_seal_ocr_spark.oracle import extract_failure_count, reference_extract
from red_seal_ocr_spark.sources.datagen import build_local
from red_seal_ocr_spark.sources.spark_tables import documents_df, media_df

N_DOCS = 16


@pytest.fixture(scope="module")
def oracle_out():
    docs, media = build_local(N_DOCS)
    return (
        {d["doc_id"]: reference_extract(d, media) for d in docs},
        {d["doc_id"]: extract_failure_count(d, media) for d in docs},
    )


@pytest.fixture(scope="module")
def spark_out(spark):
    docs = documents_df(spark, N_DOCS)
    media = media_df(spark, N_DOCS)
    return {r["doc_id"]: r for r in extract_documents(spark, docs, media).collect()}


def test_span_sequence_equality(oracle_out, spark_out):
    """North-rule invariant: (kind, text, media_ref, order) per document."""
    spans_want, _ = oracle_out
    assert set(spark_out) == set(spans_want)
    for doc_id, row in spark_out.items():
        want = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in spans_want[doc_id]]
        got = [(s.kind, s.text, s.media_ref, s.offset) for s in row.spans]
        assert got == want, doc_id


def test_failure_counts_match_oracle(oracle_out, spark_out):
    _, fails_want = oracle_out
    for doc_id, row in spark_out.items():
        assert row.n_failures == fails_want[doc_id], doc_id


def test_metric_columns_consistent(spark_out):
    for row in spark_out.values():
        assert row.n_spans == len(row.spans)
        assert row.n_media == sum(1 for s in row.spans if s.media_ref is not None)
        assert row.n_failures == sum(1 for s in row.spans if s.kind == "media")


def _kernel_exchange_partitions(df) -> set[int]:
    """Partition counts of the salted kernel exchange in the executed
    (final and initial adaptive) plan; Spark plans one salt partition as
    a SinglePartition exchange."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    counts = {int(n) for n in re.findall(
        r"Exchange hashpartitioning\(xxhash64\(doc_id#\d+, offset#\d+, 42\), (\d+)\)",
        plan,
    )}
    if "Exchange SinglePartition, REPARTITION_BY_NUM" in plan:
        counts.add(1)
    return counts


def test_salt_partition_invariance(spark, oracle_out):
    """Output is identical under degenerate, fine and default salting
    (SURVEY.md hard-parts list: salting must not leak into grouping).  The
    default under a local master sizes the kernel exchange to one task per
    core, not to spark.sql.shuffle.partitions; an explicit salt_partitions
    wins."""
    spans_want, _ = oracle_out
    docs = documents_df(spark, 8)
    media = media_df(spark, 8)
    cores = spark.sparkContext.defaultParallelism
    assert cores != int(spark.conf.get("spark.sql.shuffle.partitions"))
    for cfg, want_n in ((EngineConfig(salt_partitions=1), 1),
                        (EngineConfig(salt_partitions=7), 7),
                        (EngineConfig(), cores)):
        df = extract_documents(spark, docs, media, cfg)
        out = df.collect()
        assert _kernel_exchange_partitions(df) == {want_n}, cfg.salt_partitions
        for row in out:
            want = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in spans_want[row["doc_id"]]]
            got = [(s.kind, s.text, s.media_ref, s.offset) for s in row.spans]
            assert got == want, (cfg.salt_partitions, row["doc_id"])


def test_media_branch_scan_prunes_span_text(spark, tmp_path):
    """Nested-schema pruning of the media branch: its scan of the
    documents table reads (kind, media_ref, offset) of each span but never
    span.text; only the splice side reads the full spans.  Checked on the
    physical plan, so no job runs beyond writing the inputs."""
    docs_dir, media_dir = str(tmp_path / "docs"), str(tmp_path / "media")
    documents_df(spark, 4).write.parquet(docs_dir)
    media_df(spark, 4).write.parquet(media_dir)
    out = extract_documents(
        spark, spark.read.parquet(docs_dir), spark.read.parquet(media_dir)
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    docs_scans = {
        m.group(1)
        for line in plan.splitlines()
        if "FileScan parquet" in line and docs_dir in line
        for m in [re.search(r"ReadSchema: (\S+)", line)]
    }
    assert docs_scans == {
        "struct<doc_id:string,spans:array<struct<kind:string,media_ref:string,offset:int>>>",
        "struct<doc_id:string,spans:array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>>",
    }


def _fake_session(master: str, cores: int = 2, shuffle: int = 64):
    conf = {"spark.sql.shuffle.partitions": str(shuffle)}
    return SimpleNamespace(
        sparkContext=SimpleNamespace(master=master, defaultParallelism=cores),
        conf=SimpleNamespace(get=conf.__getitem__),
    )


def test_kernel_partitions_follow_the_master():
    """One kernel task per core only under a local[...] master.  Elsewhere
    defaultParallelism counts just the executors registered so far (low
    right after start-up or under dynamic allocation), so the kernel
    exchange keeps spark.sql.shuffle.partitions; salt_partitions wins
    everywhere."""
    for master in ("local", "local[4]", "local[*]", "local[4,2]"):
        assert kernel_partitions(_fake_session(master)) == 2, master
    for master in ("yarn", "spark://host:7077", "k8s://https://host:6443",
                   "local-cluster[2,1,1024]"):
        assert kernel_partitions(_fake_session(master)) == 64, master
    for master in ("local[4]", "yarn"):
        got = kernel_partitions(_fake_session(master), EngineConfig(salt_partitions=7))
        assert got == 7, master


def test_dangling_media_ref_counts_as_failure(spark):
    """A media span whose ref has no media row passes through + is counted."""
    from red_seal_ocr_spark.sources.spark_tables import DOCUMENTS_SCHEMA, MEDIA_SCHEMA

    docs = spark.createDataFrame(
        [("d1", [{"kind": "media", "text": None, "media_ref": "nope", "offset": 0},
                 {"kind": "text", "text": "hi", "media_ref": None, "offset": 1}])],
        schema=DOCUMENTS_SCHEMA,
    )
    media = spark.createDataFrame([], schema=MEDIA_SCHEMA)
    [row] = extract_documents(spark, docs, media).collect()
    assert row.n_failures == 1
    assert row.spans[0].kind == "media" and row.spans[0].media_ref == "nope"
    assert row.spans[1].text == "hi"


def test_ocr_confidence_metric(spark_out):
    """min_ocr_confidence is present, in range, and null only for docs
    with no successfully decoded media span."""
    for row in spark_out.values():
        ok_media = row.n_media - row.n_failures
        if row.min_ocr_confidence is not None:
            assert 0.0 <= row.min_ocr_confidence <= 1.0
            assert ok_media >= 1


def test_custom_config_pipeline_equals_oracle(spark):
    """Span equality must hold under a non-default EngineConfig too —
    proving the config reaches both the Spark kernel and the oracle."""
    from red_seal_ocr_spark.config import EngineConfig
    from red_seal_ocr_spark.oracle import reference_extract
    from red_seal_ocr_spark.sources.datagen import build_local
    from red_seal_ocr_spark.sources.spark_tables import documents_df, media_df

    cfg = EngineConfig(sat_min=40, val_min=40, hue_band2=(150, 180),
                       ocr_max_hamming=4)
    docs_df_, media_df_ = documents_df(spark, 6), media_df(spark, 6)
    out = {r.doc_id: r for r in
           extract_documents(spark, docs_df_, media_df_, cfg).collect()}
    docs, media = build_local(6)
    for d in docs:
        want = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in reference_extract(d, media, cfg)]
        got = [(s.kind, s.text, s.media_ref, s.offset) for s in out[d["doc_id"]].spans]
        assert got == want, d["doc_id"]


def test_seal_bboxes_optional_column(spark):
    """F12 completion (VERDICT r03 #7): cfg.emit_bboxes surfaces per-kept-
    component (y0, x0, y1, x1) as a metric column; span equality and the
    default output schema are unchanged."""
    from red_seal_ocr_spark.config import EngineConfig
    from red_seal_ocr_spark.functions.kernel import OK, process_image
    from red_seal_ocr_spark.operators.extract import extract_documents
    from red_seal_ocr_spark.sources.spark_tables import documents_df, media_df

    docs = documents_df(spark, 6)
    media = media_df(spark, 6)

    plain = extract_documents(spark, docs, media)
    assert "seal_bboxes" not in plain.columns  # default schema unchanged

    out = extract_documents(spark, docs, media, EngineConfig(emit_bboxes=True))
    assert "seal_bboxes" in out.columns
    rows = {r.doc_id: r for r in out.collect()}
    # span equality vs the default path
    for r in plain.collect():
        assert [tuple(s) for s in rows[r.doc_id].spans] == [tuple(s) for s in r.spans]

    # bboxes agree with the kernel's own filled_components stats, checked
    # against single-process process_image on the same bytes
    media_bytes = {r.media_ref: bytes(r.content) for r in media.collect()}
    checked = 0
    for r in rows.values():
        if not r.seal_bboxes:
            continue
        for s in r.spans:
            if s.media_ref is None or s.offset not in r.seal_bboxes:
                continue
            got = [tuple(b) for b in r.seal_bboxes[s.offset]]
            k = process_image(media_bytes[s.media_ref])
            assert k.status == OK
            assert got == [tuple(b) for b in k.bboxes]
            assert len(got) == k.n_components
            for y0, x0, y1, x1 in got:
                assert 0 <= y0 < y1 and 0 <= x0 < x1
            checked += 1
    assert checked >= 3
