"""HTML boilerplate strip / DOM heuristics / PDF layout parse tests."""

import pytest
from pyspark.sql import functions as F

from red_seal_ocr_spark.operators.html_extract import (
    extract_main_content,
    strip_html,
    synth_html_page,
)


@pytest.fixture(scope="module")
def pages(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .filter("doc_id < 30").collect()
    rows = []
    for r in docs:
        html, expected = synth_html_page(str(r.doc_id), r.text)
        rows.append((str(r.doc_id), html, expected))
    return spark.createDataFrame(rows, "doc_id string, html string, expected string")


def test_strip_tags_removes_all_markup(spark, pages):
    out = strip_html(pages, "html", "stripped").collect()
    for r in out:
        assert "<" not in r.stripped and ">" not in r.stripped
        # the article text must survive the strip (boilerplate words too —
        # tag-strip is the cheap pass, not boilerplate removal)
        assert r.expected in r.stripped.replace("  ", " ") or all(
            w in r.stripped for w in r.expected.split()[:5]
        )


def test_entity_decode(spark):
    df = spark.createDataFrame(
        [("d", "<p>a &amp; b &lt;c&gt; &quot;q&quot;&nbsp;end</p>")],
        "doc_id string, html string",
    )
    [r] = strip_html(df, "html", "t").collect()
    assert r.t == 'a & b <c> "q" end'


def test_main_content_extraction_drops_boilerplate(spark, pages):
    out = {r.doc_id: r for r in extract_main_content(pages).collect()}
    want = {r.doc_id: r.expected for r in pages.collect()}
    assert all(r.ok for r in out.values())
    exact = sum(out[d].main_text == want[d] for d in want)
    assert exact == len(want), f"only {exact}/{len(want)} exact main-content matches"
    for r in out.values():
        assert "Home" not in r.main_text          # nav dropped
        assert "SPONSORED" not in r.main_text     # ad link-block dropped
        assert "copyright" not in r.main_text     # footer dropped
        assert r.kept_blocks >= 1 and r.n_blocks > r.kept_blocks


def test_main_content_fault_isolation(spark):
    df = spark.createDataFrame(
        [("good", "<html><body><p>" + "real content here " * 5 + "</p></body></html>"),
         ("none", None)],
        "doc_id string, html string",
    )
    out = {r.doc_id: r for r in extract_main_content(df).collect()}
    assert out["good"].ok and "real content" in out["good"].main_text
    assert out["none"].ok  # empty parse, not a crash
    assert out["none"].main_text == ""


def test_pdf_layout_parse(spark):
    from red_seal_ocr_spark.operators.multimodal import encode_pdf, pdf_text

    rows = [(f"p{i}", encode_pdf([f"page {p} of p{i}" for p in range(i + 1)]))
            for i in range(4)]
    rows.append(("bad", b"%PDF-not-really"))
    df = spark.createDataFrame(rows, "media_ref string, content binary")
    out = {r.media_ref: r for r in pdf_text(df).collect()}
    for i in range(4):
        r = out[f"p{i}"]
        assert r.ok and r.n_pages == i + 1
        assert f"page {i} of p{i}" in r.text
        assert r.n_chars == len(r.text)
    assert not out["bad"].ok


def test_site_template_strip_semantics(spark):
    """Cross-doc template lines (>=60% of a site's docs) removed; varying
    lines survive; single-doc sites untouched; all-boiler docs emit
    empty main_text."""
    from red_seal_ocr_spark.operators.html_extract import site_template_strip

    rows = [
        (1, "siteA", "NAV HOME\narticle one body\nCOOKIE BANNER"),
        (2, "siteA", "NAV HOME\narticle two body\nCOOKIE BANNER"),
        (3, "siteA", "NAV HOME\nanother piece"),
        (4, "siteA", "NAV HOME"),
        (5, "siteB", "lonely page\nNAV HOME"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    out = {r.doc_id: r for r in site_template_strip(docs).collect()}
    # NAV HOME is 4/4 -> removed; COOKIE BANNER is 2/4 = 50% < 60% -> kept
    assert out[1].main_text == "article one body\nCOOKIE BANNER"
    assert out[1].n_lines_removed == 1
    assert out[3].main_text == "another piece"
    assert out[4].main_text == "" and out[4].n_lines_kept == 0
    assert out[5].main_text == "lonely page\nNAV HOME"  # single-doc site


def test_site_template_strip_row_preserving(spark):
    """ADVICE r05: documents with no non-blank lines must still emit a
    row (0, 0, '') — cleanup operators don't lose rows."""
    from red_seal_ocr_spark.operators.html_extract import site_template_strip

    rows = [
        (1, "siteA", "shared nav line\nbody one"),
        (2, "siteA", "shared nav line\nbody two"),
        (3, "siteA", ""),            # blank doc
        (4, "siteB", "   \n\n  "),   # whitespace-only doc
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    out = {r.doc_id: r for r in site_template_strip(docs).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert (out[3].n_lines_kept, out[3].n_lines_removed, out[3].main_text) == (0, 0, "")
    assert (out[4].n_lines_kept, out[4].n_lines_removed, out[4].main_text) == (0, 0, "")
    assert out[1].main_text == "body one"  # template stripped from real docs


def test_strip_lines_by_flag_null_site_preserves_text(spark):
    """A document with a NULL site key has no verdicts to match, but its
    text must survive intact — the join-back is keyed on doc_id alone
    (null-unsafe equality on the site key used to drop the aggregate row
    and emit main_text='' while the row survived looking legitimate)."""
    from red_seal_ocr_spark.operators.html_extract import strip_lines_by_flag

    docs = spark.createDataFrame(
        [("d1", None, "real line one\nreal line two"),
         ("d2", "s", "tpl\nbody")],
        "doc_id string, source string, text string",
    )
    boiler = spark.createDataFrame(
        [("s", "tpl", True)], "site string, line string, is_boiler boolean"
    )
    got = {r.doc_id: r for r in strip_lines_by_flag(docs, boiler).collect()}
    assert got["d1"].main_text == "real line one\nreal line two"
    assert got["d1"].n_lines_kept == 2 and got["d1"].n_lines_removed == 0
    assert got["d1"].site is None
    assert got["d2"].main_text == "body" and got["d2"].n_lines_removed == 1
