"""Fetch operator (S3/S4) + debug-image sink (K3) + skew-balance evidence."""

import pytest
from pyspark.sql import functions as F


def _stub_fetcher():
    """Deterministic fake, built inside a function so cloudpickle
    serializes it by value (executors cannot import the tests module)."""

    def fake_fetcher(url, connect_timeout, read_timeout, max_bytes):
        if url.startswith("fake://ok/"):
            n = int(url.rsplit("/", 1)[1])
            if n > max_bytes:
                raise ValueError(f"exceeds {max_bytes} byte cap")
            return b"x" * n
        if url.startswith("fake://timeout"):
            raise TimeoutError("read timeout")
        raise ConnectionError("refused")

    return fake_fetcher


def test_fetch_media_semantics(spark):
    from red_seal_ocr_spark.sources.fetch import fetch_media

    rows = [
        ("m1", "fake://ok/1000"),
        ("m2", "fake://ok/999999999"),   # over the cap
        ("m3", "fake://timeout"),
        ("m4", "fake://nope"),
    ]
    df = spark.createDataFrame(rows, "media_ref string, url string")
    out = {r.media_ref: r for r in
           fetch_media(df, fetcher=_stub_fetcher(), max_size_mb=1).collect()}
    assert out["m1"].n_bytes == 1000 and out["m1"].error is None
    assert out["m2"].content is None and "cap" in out["m2"].error
    assert out["m3"].content is None and "TimeoutError" in out["m3"].error
    assert out["m4"].content is None and "ConnectionError" in out["m4"].error


def test_fetch_parallelism_repartitions(spark):
    from red_seal_ocr_spark.sources.fetch import fetch_media

    df = spark.createDataFrame(
        [(f"m{i}", f"fake://ok/{i+1}") for i in range(20)],
        "media_ref string, url string",
    )
    out = fetch_media(df, fetcher=_stub_fetcher(), parallelism=5)
    assert out.rdd.getNumPartitions() == 5
    assert out.filter("error is null").count() == 20


def test_debug_image_sink(tmp_path):
    from red_seal_ocr_spark.operators.debug import dump_debug_images
    from red_seal_ocr_spark.sources.datagen import render_media

    rows = [(f"m-{i:08d}-00", render_media(f"m-{i:08d}-00")) for i in range(3)]
    rows.append(("corrupt", b"junk"))
    stats = dump_debug_images(rows, str(tmp_path / "dbg"))
    good = [s for s in stats if "error" not in s]
    assert good, "no decodable sample"
    for s in good:
        assert s["red_ratio"] > 0
        assert s["kept_components"]
        for c in s["kept_components"]:
            assert c["area"] > 0 and c["aspect"] > 0
    assert any("error" in s for s in stats)
    files = list((tmp_path / "dbg").iterdir())
    names = {f.name for f in files}
    assert "debug_stats.txt" in names
    assert any(n.endswith(".mask.png") for n in names)
    assert any(n.endswith(".filtered.png") for n in names)


def test_debug_image_sink_decodes_jpeg(tmp_path):
    """The dump decodes every container the kernel accepts, not only PNG."""
    from red_seal_ocr_spark.operators.debug import dump_debug_images
    from red_seal_ocr_spark.sources.datagen import media_seal_texts, render_media

    ref = next(f"m-{i:08d}-00" for i in range(100)
               if media_seal_texts(f"m-{i:08d}-00"))
    blob = render_media(ref, fmt="jpeg")
    assert blob[:3] == b"\xff\xd8\xff"
    (entry,) = dump_debug_images([(ref, blob)], str(tmp_path / "dbg"))
    assert "error" not in entry
    assert entry["red_pixels"] > 0 and entry["kept_components"]


def test_span_salting_balances_heavy_docs(spark):
    """Skew evidence: one media-heavy document's spans spread across
    partitions under xxhash64(doc_id, offset), but pin a single partition
    under hash(doc_id) — the exact scenario of SURVEY.md section 4 item 1."""
    rows = [("heavy", i) for i in range(64)] + [(f"d{i}", 0) for i in range(16)]
    df = spark.createDataFrame(rows, "doc_id string, offset int")

    def partition_sizes(d):
        return (
            d.groupBy(F.spark_partition_id().alias("p"))
            .count()
            .agg(F.max("count"))
            .first()[0]
        )

    by_doc = df.repartition(8, F.col("doc_id"))
    by_span = df.repartition(8, F.xxhash64("doc_id", "offset"))
    assert partition_sizes(by_doc) >= 64          # heavy doc pins one partition
    assert partition_sizes(by_span) <= 64 * 0.5   # salted: spread out


def test_folder_ingestion_matches_oracle(spark, tmp_path):
    """The reference-CLI analog: folder of PNGs -> extraction table."""
    from red_seal_ocr_spark.functions.kernel import process_image
    from red_seal_ocr_spark.operators.extract import extract_documents
    from red_seal_ocr_spark.sources.datagen import render_media
    from red_seal_ocr_spark.sources.images import documents_from_images, read_image_folder

    img_dir = tmp_path / "img"
    img_dir.mkdir()
    blobs = {}
    for i in range(4):
        data = render_media(f"tfolder-{i}")
        blobs[f"s{i}.png"] = data
        (img_dir / f"s{i}.png").write_bytes(data)
    (img_dir / "bad.png").write_bytes(b"junk")
    (img_dir / "skip.txt").write_text("not an image")

    media = read_image_folder(spark, str(img_dir))
    docs = documents_from_images(media)
    out = {r.doc_id: r for r in extract_documents(spark, docs, media).collect()}
    assert set(out) == {"s0.png", "s1.png", "s2.png", "s3.png", "bad.png"}
    assert out["bad.png"].n_failures == 1
    for name, data in blobs.items():
        want = process_image(data)
        got = out[name].spans[0]
        if want.status == 0:
            assert got.kind == "text" and got.text == want.text, name
        else:
            assert got.kind == "media", name


def test_folder_ingestion_empty_dir(spark, tmp_path):
    from red_seal_ocr_spark.sources.images import read_image_folder

    empty = tmp_path / "noimg"
    empty.mkdir()
    (empty / "readme.txt").write_text("no images here")
    try:
        n = read_image_folder(spark, str(empty)).count()
    except Exception as exc:
        # Spark's binaryFile source raises on empty matches in some
        # versions; either zero rows or a clean AnalysisException is fine
        assert "PATH_NOT_FOUND" in str(exc) or "unable to infer" in str(exc).lower() \
            or "EMPTY" in str(exc).upper()
    else:
        assert n == 0


def test_json_response_sink_shape(spark):
    """K2 (reference api_server.py:255-299): per-document response records
    in the documented JSON shape, built JVM-side (to_json over structs)."""
    import json

    from jobs.json_sink import response_records
    from red_seal_ocr_spark.operators.extract import extract_documents
    from red_seal_ocr_spark.sources.spark_tables import documents_df, media_df

    docs = documents_df(spark, 8)
    media = media_df(spark, 8)
    out = extract_documents(spark, docs, media)
    recs = {r.doc_id: json.loads(r.response_json)
            for r in response_records(out).collect()}
    assert len(recs) == 8
    base = {r.doc_id: r for r in out.collect()}
    for doc_id, resp in recs.items():
        assert set(resp) == {"success", "data", "message"}
        assert set(resp["data"]) == {"results", "total"}
        assert resp["data"]["total"] == len(resp["data"]["results"])
        row = base[doc_id]
        n_extracted = sum(1 for s in row.spans
                          if s.kind == "text" and s.media_ref is not None)
        assert resp["data"]["total"] == n_extracted
        assert resp["success"] == (row.n_failures == 0)
        assert resp["message"] == ("识别成功" if resp["success"] else "识别失败")
        for item in resp["data"]["results"]:
            assert set(item) == {"text", "confidence"}
            assert isinstance(item["text"], str)
            assert 0.0 <= item["confidence"] <= 1.0
    # both outcomes present in the fixture set (corrupt refs exist)
    assert {r["success"] for r in recs.values()} == {True, False}
