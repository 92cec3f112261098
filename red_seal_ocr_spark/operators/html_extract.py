"""Main-content extraction for HTML documents (north-rule tier:
"HTML boilerplate strip, PDF/layout parse, DOM heuristics").

Two tiers:

- :func:`strip_tags_col` — pure JVM-side expression (regexp tag removal +
  common entity decoding), SQL-mirrorable for the DuckDB oracle and
  codegen-fast: the cheap cleanup pass.
- :func:`extract_main_content` — the DOM-heuristic pass: a real HTML
  parse (stdlib ``html.parser`` inside ``mapInPandas``) segments the
  document into block-level regions and scores each block by text mass
  vs link density (the Arc90/boilerpipe-style signal); blocks whose
  density clears the threshold form the main content, navigation /
  header / footer / aside subtrees are dropped structurally.

Both are deterministic; the parser tier has per-item fault isolation
(malformed HTML yields ok=false, never a task failure).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .items import map_items

_ENTITIES = [("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
             ("&#39;", "'"), ("&nbsp;", " ")]

MAIN_CONTENT_SCHEMA = (
    "doc_id string, ok boolean, main_text string, n_blocks int, "
    "kept_blocks int, link_density_x100 int"
)

# subtrees that are boilerplate by construction
_DROP_TAGS = {"nav", "header", "footer", "aside", "script", "style"}
_BLOCK_TAGS = {"p", "div", "article", "section", "li", "td", "h1", "h2",
               "h3", "h4", "blockquote", "pre"}


def strip_tags_col(col):
    """Tag-strip + entity-decode + whitespace squash as one expression."""
    out = F.regexp_replace(col, r"<[^>]*>", " ")
    for ent, rep in _ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def strip_html(docs: DataFrame, html_col: str = "html",
               out_col: str = "text") -> DataFrame:
    return docs.withColumn(out_col, strip_tags_col(F.col(html_col)))


class _Blocks:
    """Block segmenter over stdlib html.parser (lazy import keeps the
    module importable without pulling html.parser at Spark plan time)."""

    def __new__(cls):
        from html.parser import HTMLParser

        class Blocks(HTMLParser):
            def __init__(self) -> None:
                super().__init__(convert_charrefs=True)
                self.blocks: list[list] = []  # [text_chars, link_chars, buf]
                self.cur: list = [0, 0, []]
                self.drop_depth = 0
                self.link_depth = 0

            def _flush(self) -> None:
                if self.cur[2]:
                    self.blocks.append(self.cur)
                self.cur = [0, 0, []]

            def handle_starttag(self, tag, attrs):
                if tag in _DROP_TAGS:
                    self.drop_depth += 1
                elif tag == "a":
                    self.link_depth += 1
                elif tag in _BLOCK_TAGS:
                    self._flush()

            def handle_endtag(self, tag):
                if tag in _DROP_TAGS:
                    self.drop_depth = max(0, self.drop_depth - 1)
                elif tag == "a":
                    self.link_depth = max(0, self.link_depth - 1)
                elif tag in _BLOCK_TAGS:
                    self._flush()

            def handle_data(self, data):
                if self.drop_depth:
                    return
                t = data.strip()
                if not t:
                    return
                self.cur[0] += len(t)
                if self.link_depth:
                    self.cur[1] += len(t)
                self.cur[2].append(t)

        return Blocks()


def parse_main_content(html: str, min_block_chars: int = 40,
                       max_link_density: float = 0.4) -> tuple:
    """Pure per-document main-content parse.

    Returns ``(ok, main_text, n_blocks, kept_blocks, link_density_x100)``.
    Shared by the Spark ``mapInPandas`` stage and the oracle-fixture
    generator (tools/gen_oracles.py), so the two cannot drift.
    """
    try:
        p = _Blocks()
        p.feed(html or "")
        p.close()
        p._flush()
        blocks = p.blocks
        kept = [
            blk for blk in blocks
            if blk[0] >= min_block_chars
            and (blk[1] / blk[0]) <= max_link_density
        ]
        text = " ".join(" ".join(blk[2]) for blk in kept)
        total_chars = sum(blk[0] for blk in blocks) or 1
        total_link = sum(blk[1] for blk in blocks)
        return (True, text, len(blocks), len(kept),
                int(100 * total_link / total_chars))
    except Exception:
        return (False, None, None, None, None)


def extract_main_content(docs: DataFrame, id_col: str = "doc_id",
                         html_col: str = "html",
                         min_block_chars: int = 40,
                         max_link_density: float = 0.4) -> DataFrame:
    """DOM-heuristic main-content extraction (see module docstring)."""

    def item(html):
        return [parse_main_content(html, min_block_chars, max_link_density)]

    return map_items(docs.select(F.col(id_col), F.col(html_col)), item,
                     MAIN_CONTENT_SCHEMA, keys=(id_col,), values=(html_col,))


def synth_html_page(doc_id: str, article_text: str, seed: int = 42) -> tuple[str, str]:
    """Deterministic synthetic page: nav/header/footer boilerplate + ads
    around the article.  Returns (html, expected_main_text)."""
    import hashlib

    h = hashlib.sha256(f"{seed}:{doc_id}".encode()).hexdigest()[:8]
    paras = [p.strip() for p in article_text.split(".") if p.strip()]
    body = "".join(f"<p>{p}.</p>" for p in paras)
    html = (
        "<html><head><title>t</title><style>.x{color:red}</style></head><body>"
        f"<header><h1>Site {h}</h1></header>"
        "<nav><ul><li><a href='/'>Home</a></li><li><a href='/a'>News</a></li>"
        "<li><a href='/b'>Contact</a></li></ul></nav>"
        "<div><a href='/ad'>SPONSORED click here now for deals</a></div>"
        f"<article>{body}</article>"
        "<aside><a href='/x'>related</a> <a href='/y'>links</a></aside>"
        f"<footer>copyright {h} all rights reserved</footer>"
        "</body></html>"
    )
    expected = " ".join(f"{p}." for p in paras)
    return html, expected


def doc_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    site_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, site, line_idx, line)`` rows for every NON-BLANK line —
    THE line definition all boilerplate components share (batch
    :func:`site_template_strip`, :func:`strip_lines_by_flag`, and the
    streaming cumulative stats in ``streaming/curate_stream.py``).  The
    cross-batch additivity argument for the streaming counts requires
    every consumer to agree on what counts as a line; one definition
    makes divergence impossible."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(site_col).alias("site"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("line_idx", "line"),
        )
        .filter(F.length(F.trim("line")) > 0)
    )


def batch_site_line_stats(
    batch_docs: DataFrame,
    id_col: str = "doc_id",
    site_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-(site, line) distinct-doc counts for ONE batch, plus the
    per-site doc totals as ``line IS NULL`` rows."""
    lines = doc_lines(batch_docs, id_col, site_col, text_col)
    line_stats = (
        lines.groupBy("site", "line")
        .agg(F.countDistinct("doc_id").cast("long").alias("cnt"))
    )
    site_stats = (
        batch_docs.groupBy(F.col(site_col).alias("site"))
        .agg(F.countDistinct(id_col).cast("long").alias("cnt"))
        .select("site", F.lit(None).cast("string").alias("line"), "cnt")
    )
    return line_stats.unionByName(site_stats)


def boiler_from_stats(stats: DataFrame, min_doc_frac_pct: int = 60) -> DataFrame:
    """Template verdicts ``(site, line, is_boiler)`` from site-line stats
    (:func:`batch_site_line_stats` rows, or their running totals in
    ``streaming/curate_stream.py``): a line is template on a site with
    >= 2 documents when it appears in >= ``min_doc_frac_pct``% of them."""
    sites = stats.filter(F.col("line").isNull()).select(
        "site", F.col("cnt").alias("n_site_docs")
    )
    return (
        stats.filter(F.col("line").isNotNull())
        .join(sites, on="site")
        .select(
            "site", "line",
            (
                (F.col("n_site_docs") >= 2)
                & (F.col("cnt") * 100 >= F.col("n_site_docs") * min_doc_frac_pct)
            ).alias("is_boiler"),
        )
    )


def site_template_strip(
    docs: DataFrame,
    id_col: str = "doc_id",
    site_col: str = "source",
    text_col: str = "text",
    min_doc_frac_pct: int = 60,
) -> DataFrame:
    """Cross-document site-template removal (web-scale main-content
    extraction): a line repeated verbatim in >= ``min_doc_frac_pct``% of
    a site's documents (nav bars, footers, cookie banners) is template
    boilerplate and removed from every document of that site; sites with
    a single document are untouched (no repetition evidence).  The
    cross-document twin of ``multimodal.pdf_strip_boilerplate`` (which
    strips within-document page repeats) — together they are the
    boilerplate tier CommonCrawl-style pipelines run before quality
    scoring.

    Scale shape: pure JVM expressions — posexplode to (doc, line) rows,
    one per-(site, line) distinct-doc count (map-side combinable; the
    shuffle key is the site the corpus is usually already partitioned
    by), ordered per-doc re-assembly.  A viral template line is NOT a
    skew hazard here: unlike the LSH bucket join there is no self-join,
    the hot (site, line) key just pre-reduces map-side like any
    aggregate.  Output: (doc_id, site, n_lines_kept, n_lines_removed,
    main_text) — ROW-PRESERVING: a document with no non-blank lines still
    emits (0, 0, '') via a left join back to the input id set (ADVICE
    r05: a cleanup operator must not lose rows).
    """
    stats = batch_site_line_stats(docs, id_col, site_col, text_col)
    return strip_lines_by_flag(docs, boiler_from_stats(stats, min_doc_frac_pct),
                               id_col=id_col, site_col=site_col, text_col=text_col)


def strip_lines_by_flag(
    docs: DataFrame,
    boiler: DataFrame,
    id_col: str = "doc_id",
    site_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Apply a ``(site, line, is_boiler)`` verdict table to a doc set:
    remove flagged lines, reassemble in order, row-preserving.  Shared
    by the batch :func:`site_template_strip` (verdicts from the same
    corpus) and the streaming path (verdicts from CUMULATIVE cross-batch
    stats — ``streaming/curate_stream.py``).  Lines absent from
    ``boiler`` are kept (left join + coalesce false)."""
    lines = doc_lines(docs, id_col, site_col, text_col)
    tagged = lines.join(boiler, on=["site", "line"], how="left").withColumn(
        "is_boiler", F.coalesce("is_boiler", F.lit(False))
    )
    agg = (
        tagged.groupBy("doc_id", "site")
        .agg(
            F.sum(F.when(~F.col("is_boiler"), 1).otherwise(0)).cast("int")
            .alias("n_lines_kept"),
            F.sum(F.when(F.col("is_boiler"), 1).otherwise(0)).cast("int")
            .alias("n_lines_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(~F.col("is_boiler"),
                                   F.struct("line_idx", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("main_text"),
        )
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(site_col).alias("site")
    )
    # join back on doc_id ALONE: site is carried from base, not matched —
    # a NULL site key under null-unsafe equality would drop the agg row
    # and silently blank the document's entire text
    return base.join(agg.drop("site"), on="doc_id", how="left").select(
        "doc_id", "site",
        F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
        F.coalesce("n_lines_removed", F.lit(0)).alias("n_lines_removed"),
        F.coalesce("main_text", F.lit("")).alias("main_text"),
    )
