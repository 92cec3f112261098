"""Expected spans from the generator, and the committed-table checks."""

from red_seal_ocr_spark.oracle import reference_extract
from red_seal_ocr_spark.sources.datagen import (
    build_local, gen_document, media_is_dangling, media_seal_texts, media_spec,
    render_media,
)

from perfbench.truth import check_output, expected_spans, failures, span_key

SEED = 42


def _find(pred, limit=400):
    for i in range(limit):
        d = gen_document(i, SEED)
        for s in d["spans"]:
            if s["kind"] == "media" and pred(s["media_ref"]):
                return d, s
    raise AssertionError("no such span in the first documents")


def test_text_spans_pass_through():
    d = gen_document(0, SEED)
    got = expected_spans(d, SEED)
    for s, e in zip(sorted(d["spans"], key=lambda s: s["offset"]), got):
        if s["kind"] == "text":
            assert e == span_key(s)


def test_dangling_and_corrupt_media_pass_through():
    for pred in (lambda r: media_is_dangling(r, SEED),
                 lambda r: media_spec(r, SEED)["corrupt"] is not None
                 and not media_is_dangling(r, SEED)):
        d, s = _find(pred)
        e = dict((t[3], t) for t in expected_spans(d, SEED))[s["offset"]]
        assert e == ("media", None, s["media_ref"], s["offset"])


def test_media_becomes_seal_text_in_reading_order():
    d, s = _find(lambda r: not media_is_dangling(r, SEED)
                 and media_spec(r, SEED)["corrupt"] is None
                 and len(media_seal_texts(r, SEED)) > 1)
    e = dict((t[3], t) for t in expected_spans(d, SEED))[s["offset"]]
    assert e == ("text", "".join(media_seal_texts(s["media_ref"], SEED)),
                 s["media_ref"], s["offset"])


def test_ground_truth_equals_the_oracle_on_png_media():
    docs, media = build_local(12, seed=SEED)
    for d in docs:
        oracle = [span_key(s) for s in reference_extract(d, media)]
        assert expected_spans(d, SEED) == oracle, d["doc_id"]


def _table(docs):
    committed = {d["doc_id"]: expected_spans(d, SEED) for d in docs}
    lineage = {"docs": len(docs),
               "media_spans": sum(1 for d in docs for s in d["spans"] if s["kind"] == "media"),
               "failures": sum(failures(v) for v in committed.values())}
    return committed, lineage


def test_check_output_accepts_the_expected_table():
    docs = [gen_document(i, SEED) for i in range(30)]
    committed, lineage = _table(docs)
    v = check_output(docs, SEED, committed, lineage, ["a", "b"], ["b", "a"], dict)
    assert v.ok and v.docs == 30


def test_check_output_rejects_wrong_tables():
    docs = [gen_document(i, SEED) for i in range(30)]
    committed, lineage = _table(docs)
    bad_lineage = dict(lineage, failures=lineage["failures"] + 1)
    assert not check_output(docs, SEED, committed, bad_lineage, [], [], dict).ok
    assert not check_output(docs, SEED, committed, lineage, ["a", "b"], ["a"], dict).ok
    missing = dict(committed)
    missing.pop(docs[0]["doc_id"])
    assert not check_output(docs, SEED, missing, lineage, [], [], dict).ok


def test_a_document_off_the_ground_truth_fails_even_if_the_oracle_agrees():
    d, s = _find(lambda r: not media_is_dangling(r, SEED)
                 and media_spec(r, SEED)["corrupt"] is None)
    # the oracle sees unreadable bytes for this ref, so it passes the span
    # through, as a codec that fails on every image would; a committed
    # table that agrees with the oracle is still wrong
    media = {x["media_ref"]: render_media(x["media_ref"], SEED) for x in d["spans"]
             if x["kind"] == "media" and not media_is_dangling(x["media_ref"], SEED)}
    media[s["media_ref"]] = b"not an image"
    passed = [("media", None, s["media_ref"], s["offset"]) if t[3] == s["offset"] else t
              for t in expected_spans(d, SEED)]
    assert passed == [span_key(x) for x in reference_extract(d, media)]
    lineage = {"docs": 1,
               "media_spans": sum(1 for x in d["spans"] if x["kind"] == "media"),
               "failures": failures(passed)}
    v = check_output([d], SEED, {d["doc_id"]: passed}, lineage, [], [], lambda: media)
    assert not v.ok and "equals the single-process oracle" in v.errors[0]
    wrong = [("text", "XX", s["media_ref"], s["offset"]) if t[3] == s["offset"] else t
             for t in expected_spans(d, SEED)]
    v = check_output([d], SEED, {d["doc_id"]: wrong}, lineage, [], [], lambda: media)
    assert not v.ok and "differs from the single-process oracle" in v.errors[0]
