"""Text-analysis operators for training-data pipelines.

All JVM-side built-ins (regexp/array/higher-order functions) so every
operator is SQL-mirrorable for the DuckDB oracle and codegen-fast at
scale: language-ID (stopword-marker heuristic), quality scoring,
token counting, document fingerprinting (normalized-hash and winnowing).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# marker words per language (tiny, deterministic; the n-gram heuristic of
# a lang-id stage distilled to a SQL-expressible scorer)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "que", "de"],
    "zh": ["的", "是", "了", "在", "我"],
}


def _marker_hits(text_col, words: list[str]):
    """Count of whole-token marker occurrences.

    Latin-script markers: tokenize once (whitespace split) and count tokens
    in the marker set — ONE array pass per language instead of one regexp
    scan per marker word (the 25-regexp-passes shape flagged in round 1;
    codegen CSE collapses the repeated split across languages).  CJK
    markers (no whitespace segmentation): containment count via
    replace-length delta.
    """
    ascii_words = [w for w in words if w.isascii()]
    total = F.lit(0)
    if ascii_words:
        toks = F.split(F.lower(text_col), r"\s+")
        total = total + F.size(
            F.filter(toks, lambda t: t.isin(*ascii_words))
        )
    for wd in words:
        if not wd.isascii():
            total = total + (
                (F.length(text_col) - F.length(F.replace(text_col, F.lit(wd), F.lit(""))))
                / F.length(F.lit(wd))
            ).cast("int")
    return total


def lang_scores(text_col):
    """Struct of per-language marker-hit counts."""
    return F.struct(
        *[_marker_hits(text_col, w).alias(lang) for lang, w in sorted(LANG_MARKERS.items())]
    )


def _argmax_lang(scores_col):
    """argmax language from a scores struct with deterministic alphabetical
    tie-break; 'und' (undetermined) when no marker hits at all."""
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[scores_col[lang] for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier alphabetical wins ties
        pred = F.when(scores_col[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best <= 0, F.lit("und")).otherwise(pred)


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``pred_lang`` to the documents DataFrame.

    Two projections: the scores struct materializes first, then the
    argmax reads struct fields.  CollapseProject keeps them separate
    (non-cheap expression referenced many times), so the tokenize+score
    work runs ONCE per row and codegen stays small — the single-expression
    form re-inlined it ~15x and cost seconds of fixed compile time.
    """
    tmp = "_lang_scores"
    scored = docs.withColumn(tmp, lang_scores(F.col(text_col)))
    return scored.withColumn("pred_lang", _argmax_lang(F.col(tmp))).drop(tmp)


def nonblank_tokens(text_col):
    """Whitespace tokens of trimmed lowercase text with empty strings
    dropped — THE shared tokenization for every offset/weight-bearing
    operator (span dedup + strip, span decontam, TF-IDF, hashed
    features).  One definition: these operators' token offsets and
    weights must agree, and copy-pasted expressions desynchronize
    silently (the round-6 shared-definitions discipline)."""
    col = text_col if not isinstance(text_col, str) else F.col(text_col)
    return F.filter(
        F.split(F.lower(F.trim(col)), r"\s+"), lambda x: x != F.lit("")
    )


def token_count(text_col):
    """Whitespace tokenizer count (empty text -> 0)."""
    t = F.trim(text_col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(text_col):
    """Sub-word-ish token count: split on whitespace AND on letter/digit
    boundaries (a cheap BPE-flavored proxy: punctuation, numbers and case
    transitions break tokens)."""
    pieces = F.regexp_extract_all(
        F.lower(text_col), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0)
    )
    return F.size(pieces)


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/punctuation/stopword-ratio quality heuristics.

    Adds integer-scaled columns (deterministic for oracle comparison):
    ``n_tokens``, ``mean_token_len_x100``, ``stopword_pct``,
    ``punct_pct``, ``quality_pct`` (composite 0..100).
    """
    toks = token_count(F.col(text_col))
    chars = F.length(F.col(text_col))
    mean_tok = F.floor(F.when(toks > 0, (chars * 100 / toks)).otherwise(F.lit(0))).cast("int")
    stop_hits = _marker_hits(F.col(text_col), LANG_MARKERS["en"])
    stop_pct = F.floor(F.when(toks > 0, stop_hits * 100 / toks).otherwise(F.lit(0))).cast("int")
    punct = F.length(F.regexp_replace(F.col(text_col), r"[^.!?,;:]", ""))
    punct_pct = F.floor(F.when(chars > 0, punct * 100 / chars).otherwise(F.lit(0))).cast("int")
    # composite: long enough, some stopwords, sane token length
    len_ok = F.when(toks >= 20, F.lit(40)).otherwise(toks * 2)
    stop_ok = F.least(F.lit(30), stop_pct)
    tok_ok = F.when((mean_tok >= 300) & (mean_tok <= 900), F.lit(30)).otherwise(F.lit(10))
    return docs.select(
        "*",
        toks.alias("n_tokens"),
        mean_tok.alias("mean_token_len_x100"),
        stop_pct.alias("stopword_pct"),
        punct_pct.alias("punct_pct"),
        (len_ok + stop_ok + tok_ok).cast("int").alias("quality_pct"),
    )


def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 shape).

    k-gram token hashes -> sliding window of ``window`` -> keep each
    window's minimum -> distinct.  Pure higher-order functions: the
    rolling structure is a transform over positions, no UDF.
    Output: (id, fingerprints array<bigint> sorted).

    Staged as three projections so the token array and the k-gram hash
    array each materialize ONCE (both are referenced multiple times
    downstream; CollapseProject keeps multi-referenced non-cheap
    expressions separate, halving codegen size vs the single-expression
    form).

    Sliding windows are arrays_zip of FIXED-offset slices + one
    single-level transform (same construction as dedup._shingles, where
    avoiding the lambda-var slice bought 5x; here xxhash64 dominates so
    the measured win is ~12% at 50k docs — kept for the uniform
    codegen-safe idiom).  concat_ws skips the NULLs that zip-padding
    introduces on short tails, and least() ignores them, so values are
    identical to the slice form.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    staged = docs.select(F.col(id_col), toks.alias("_toks"))
    tcol = F.col("_toks")
    n_sh = F.size(tcol) - F.lit(k - 1)
    tz = F.slice(
        F.arrays_zip(*[F.slice(tcol, j + 1, F.size(tcol)).alias(f"t{j}")
                       for j in range(k)]),
        1, F.greatest(n_sh, F.lit(1)),
    )
    kgram_hashes = F.transform(
        tz, lambda s: F.xxhash64(F.concat_ws(" ", *[s[f"t{j}"] for j in range(k)]))
    )
    staged = staged.select(F.col(id_col), kgram_hashes.alias("_kgrams"))
    gcol = F.col("_kgrams")
    n_win = F.size(gcol) - F.lit(window - 1)
    gz = F.slice(
        F.arrays_zip(*[F.slice(gcol, j + 1, F.size(gcol)).alias(f"g{j}")
                       for j in range(window)]),
        1, F.greatest(n_win, F.lit(1)),
    )
    mins = F.transform(gz, lambda s: F.least(*[s[f"g{j}"] for j in range(window)]))
    return staged.select(
        F.col(id_col),
        F.sort_array(F.array_distinct(mins)).alias("fingerprints"),
    )


def repetition_scores(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Within-document repetition metrics (the Gopher-style repetition
    filters: Rae et al. 2021 §A1.1 flag documents whose content repeats
    itself — boilerplate, listings, spam).

    Adds integer-scaled columns (deterministic for oracle comparison):

    - ``n_lines`` / ``dup_line_pct``: fraction of non-empty lines that
      are duplicates of an earlier line (floor percent);
    - ``top_bigram_pct``: share of all word bigrams taken by the single
      most frequent bigram (floor percent; 0 when < 2 tokens).

    Scale shape: line metrics are pure expressions; the bigram mode
    needs a per-(doc, bigram) count — explode + two map-side-combinable
    aggregations keyed by doc_id, then a join back.  Bigrams reuse the
    fixed-offset-slice construction (codegen-safe, see dedup._shingles).
    """
    lines = F.filter(
        F.split(F.col(text_col), "\n"),
        lambda ln: F.length(F.trim(ln)) > 0,
    )
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n = F.size(toks) - F.lit(1)
    shifted = [F.slice(toks, j + 1, F.size(toks)).alias(f"t{j}") for j in range(2)]
    bigrams = F.when(n <= 0, F.array()).otherwise(
        F.transform(
            F.slice(F.arrays_zip(*shifted), 1, n),
            lambda s: F.concat_ws(" ", s["t0"], s["t1"]),
        )
    )
    base = docs.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.size(F.array_distinct(lines)).alias("n_uniq_lines"),
        bigrams.alias("bigrams"),
    )
    per_bigram = (
        base.select(id_col, F.explode("bigrams").alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count("*").alias("c"))
    )
    top = per_bigram.groupBy(id_col).agg(
        F.max("c").alias("top_c"), F.sum("c").alias("total_c")
    )
    return (
        base.join(top, on=id_col, how="left")
        .select(
            id_col,
            "n_lines",
            F.when(
                F.col("n_lines") > 0,
                F.floor((F.col("n_lines") - F.col("n_uniq_lines")) * 100
                        / F.col("n_lines")),
            ).otherwise(F.lit(0)).cast("int").alias("dup_line_pct"),
            F.when(
                F.col("total_c").isNotNull(),
                F.floor(F.col("top_c") * 100 / F.col("total_c")),
            ).otherwise(F.lit(0)).cast("int").alias("top_bigram_pct"),
        )
    )


def repeated_paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-global repeated-paragraph removal (the paragraph-granular
    approximation of Lee et al.'s ExactSubstr dedup): a paragraph
    appearing in >= ``min_docs`` distinct documents is kept only in the
    minimum-id document carrying it and removed everywhere else, so
    verbatim-propagated passages (chain letters, license blocks, quoted
    boilerplate) survive exactly once in the corpus.

    Differs from :func:`html_extract.site_template_strip` on both axes:
    global (no site key) and keep-one (not remove-everywhere) — template
    text is noise, propagated passages are content that should count
    once.

    Scale shape: per-paragraph-hash aggregate (min doc id + distinct-doc
    count, both map-side combinable on the md5 key), joined back on the
    same key, ordered per-doc re-assembly.  No self-join; a viral
    paragraph pre-reduces like any hot aggregate key.  Output:
    (doc_id, n_paras_kept, n_paras_dropped, text) — ROW-PRESERVING: a
    document whose text has no non-blank lines still emits a row with
    (0, 0, '') (ADVICE r05: a dedup operator must not lose rows), via a
    left join back to the input id set on the id the aggregate already
    shuffled on.
    """
    paras = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), sep)).alias("para_idx", "para"),
        )
        .filter(F.length(F.trim("para")) > 0)
        .withColumn("para_key", F.md5(F.trim("para")))
    )
    owners = paras.groupBy("para_key").agg(
        F.min("doc_id").alias("owner_doc"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    tagged = paras.join(owners, on="para_key").withColumn(
        "keep",
        (F.col("n_docs") < min_docs) | (F.col("doc_id") == F.col("owner_doc")),
    )
    agg = (
        tagged.groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("int")
            .alias("n_paras_kept"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0)).cast("int")
            .alias("n_paras_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("para_idx", "para"))
                        )
                    ),
                    lambda s: s["para"],
                ),
                sep,
            ).alias(text_col),
        )
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return base.join(agg, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce("n_paras_kept", F.lit(0)).alias("n_paras_kept"),
        F.coalesce("n_paras_dropped", F.lit(0)).alias("n_paras_dropped"),
        F.coalesce(text_col, F.lit("")).alias(text_col),
    )


# PII patterns chosen to mean the same thing in Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded repeats, non-capturing groups,
# \b — no lookarounds, no backrefs.  Order matters (emails first: an
# address contains digits a later pattern could nibble; phone before cc
# so an international number's digit run never reaches the card
# candidate stage); the oracle applies the same order.  The "cc" entry
# is the one semantic (not purely regex) pattern: candidates matching
# the shape are kept only if the digit sequence passes the Luhn
# checksum — the validation runs JVM-side as an F.aggregate fold over
# the digit array (VERDICT r05 #4), never in Python.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d[\d ()-]{6,}\d", "<PHONE>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("cc", r"\b\d(?:[ -]?\d){12,18}\b", "<CC>"),
    ("awskey", r"\bAKIA[0-9A-Z]{16}\b", "<AWSKEY>"),
    ("secret", r"\b(?:sk|tok|key)[-_][A-Za-z0-9_]{16,}\b", "<SECRET>"),
)


def _luhn_valid(cand):
    """Luhn checksum over a candidate string's digits — pure JVM: strip
    non-digits, fold right-to-left with a (position, sum) struct
    accumulator, doubling every second digit.  Interpreted-eval cost is
    fine here: candidates are rare (a few per matching document), unlike
    the hot shingle/minhash lambdas."""
    digits = F.filter(
        F.split(F.regexp_replace(cand, r"[^0-9]", ""), ""),
        lambda ch: ch != F.lit(""),
    )

    def step(a, ch):
        d = ch.cast("int")
        dd = d * 2
        term = F.when(
            a["i"] % 2 == 1, F.when(dd > 9, dd - 9).otherwise(dd)
        ).otherwise(d)
        return F.struct((a["i"] + 1).alias("i"), (a["s"] + term).alias("s"))

    return F.aggregate(
        F.reverse(digits),
        F.struct(F.lit(0).alias("i"), F.lit(0).alias("s")),
        step,
        lambda a: a["s"] % 10 == 0,
    )


def redact_pii(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """PII scrub (training-data hygiene tier): replace emails, IPv4
    addresses, international-format phone numbers, SSN-shaped ids,
    Luhn-valid card numbers, and secret-key shapes (AWS access keys,
    ``sk_``/``tok_``/``key_`` tokens) with typed placeholder tokens, and
    count each per document.  Pure JVM ``regexp_replace`` /
    ``regexp_extract_all`` (plus an ``F.aggregate`` Luhn fold for card
    candidates — a card-shaped digit run that fails the checksum is NOT
    redacted) — a row-local projection, embarrassingly parallel, no
    shuffle at any scale.  Pattern coverage is deliberately the
    high-precision core; the recall-heavy NER pass real pipelines add is
    a model, not a regex, and slots in exactly like F10's decoder
    injection (``EngineConfig.decoder``): swap this projection for a
    pandas-UDF NER kernel behind the same (id, counts, text) contract.
    The contract here is the deterministic, oracle-able regex tier."""
    out = docs.select(F.col(id_col), F.col(text_col).alias("_t"))
    for name, pat, token in PII_PATTERNS:
        if name == "cc":
            valid = F.filter(
                F.regexp_extract_all("_t", F.lit(pat), F.lit(0)),
                _luhn_valid,
            )
            out = out.withColumn(
                f"n_{name}", F.size(valid).cast("int")
            ).withColumn(
                "_t",
                F.aggregate(
                    valid,
                    F.col("_t"),
                    lambda acc, c: F.replace(acc, c, F.lit(token)),
                ),
            )
        else:
            out = out.withColumn(
                f"n_{name}",
                F.size(F.regexp_extract_all("_t", F.lit(pat), F.lit(0))).cast("int"),
            ).withColumn("_t", F.regexp_replace("_t", pat, token))
    counts = [f"n_{name}" for name, _, _ in PII_PATTERNS]
    return out.select(
        id_col, *counts, F.col("_t").alias(text_col),
    )


def bm25_rank(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 document ranking for a fixed term query — the lexical
    retrieval twin of the embedding ANN tier (a curation pipeline uses
    it for targeted corpus slicing and retrieval-based decontamination).

    Standard Robertson/Okapi formulation with the +1 idf smoothing:
    ``idf = ln(1 + (N - df + .5)/(df + .5))``, ``score = sum_t idf_t *
    tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``.

    Scale shape: tokenize -> explode -> filter to the query's terms (the
    filter lands BEFORE the shuffle, so the exploded stream is pruned to
    |terms| keys immediately); per-(doc, term) tf and per-term df are
    both map-side-combinable aggregates; corpus N/avgdl is one scalar
    aggregate broadcast into the scoring projection; df (<= |terms|
    rows) broadcasts into the tf join.  No stage ever shuffles the
    corpus text.  Ranking keys on the micro-rounded integer score (ties
    broken by id) so result order is engine-exact for the oracle.

    Output: (doc_id, n_terms_hit, score_micro) for the ``top_k`` docs.
    """
    terms = [t.lower() for t in query_terms]
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = docs.select(F.col(id_col), toks.alias("toks")).select(
        id_col, "toks", F.size("toks").alias("dl")
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    hits = (
        base.select(id_col, "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
    )
    tf = hits.groupBy(id_col, "dl", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    df_t = hits.groupBy("term").agg(
        F.countDistinct(id_col).cast("double").alias("df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    scored = (
        tf.join(F.broadcast(df_t), on="term")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            (idf * F.col("tf") * (k1 + 1.0) / denom).alias("term_score"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
            F.round(F.sum("term_score") * 1_000_000.0)
            .cast("bigint").alias("score_micro"),
        )
    )
    return scored.orderBy(
        F.col("score_micro").desc(), F.col(id_col)
    ).limit(top_k)


def unigram_surprisal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-unigram surprisal score — the cheap perplexity proxy
    quality filters use before any neural LM exists: build the unigram
    distribution from the corpus itself, then score each document by its
    mean token surprisal ``-ln p(token)`` (milli-nats).  Rare-token soup
    (OCR noise, gibberish, wrong-language fragments) scores high;
    boilerplate scores low; both tails are filter candidates (Gopher's
    "documents whose tokens the corpus LM finds too surprising or too
    predictable" heuristic, unigram-grade).

    Scale shape: one explode -> per-term count (map-side combinable on
    the term key), one scalar total, then the per-(doc, term) stream
    joins the term counts — shuffles keyed by term and doc id only, text
    never reshuffled.  The vocabulary table is corpus-derived state a
    production run would snapshot and reuse incrementally, exactly like
    the banded LSH corpus.

    Output: (id, n_tokens, surprisal_milli).  Scoring semantics, not
    cleanup: a NULL-text document has no tokens to score and emits no
    row (empty-but-non-null text scores the single empty token) —
    callers filtering on the score should left-join it back the way
    ``repeated_paragraph_dedup`` preserves rows.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    exploded = docs.select(F.col(id_col), F.explode(toks).alias("term"))
    term_counts = exploded.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    total = term_counts.agg(F.sum("cnt").alias("total"))
    doc_terms = exploded.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    return (
        doc_terms.join(term_counts, on="term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("int").alias("n_tokens"),
            F.round(
                F.sum(-F.log(F.col("cnt") / F.col("total")) * F.col("tf"))
                / F.sum("tf") * 1000.0
            ).cast("bigint").alias("surprisal_milli"),
        )
    )


def word_frequencies(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Corpus word-frequency table — the input every tokenizer trainer
    consumes.  One explode + one map-side-combinable count; output is
    vocabulary-sized (<< corpus), the table all BPE work happens on.
    Empty tokens (from blank/NULL text) are dropped."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    return (
        docs.select(F.explode(toks).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_pair_counts(
    words: DataFrame,
    symbols_col: str = "symbols",
    freq_col: str = "freq",
) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency — one BPE
    training round's statistics (Sennrich et al. 2016).  ``words`` is a
    vocabulary table carrying an ``array<string>`` of current symbols
    per word (start from characters via ``word_frequencies`` +
    ``split(word, '')``).

    Scale shape: the pair stream explodes the VOCABULARY table, never
    the corpus — corpus mass was already collapsed into ``freq`` by the
    word count — and the pair aggregate is map-side combinable on the
    (a, b) key.  This is why distributed BPE trainers are feasible: each
    round is one tiny explode + one combinable sum over a
    vocabulary-sized frame.
    """
    n = F.size(F.col(symbols_col))
    pairs = F.expr(
        f"transform(sequence(1, size({symbols_col}) - 1), "
        f"i -> struct({symbols_col}[i - 1] AS a, {symbols_col}[i] AS b))"
    )
    return (
        words.filter(n >= 2)
        .select(F.explode(pairs).alias("p"), F.col(freq_col))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum(freq_col).alias("pair_freq"))
    )


def merge_symbol_pair(
    words: DataFrame,
    a: str,
    b: str,
    symbols_col: str = "symbols",
) -> DataFrame:
    """Apply one BPE merge (a, b) -> "ab" to every word's symbol array,
    leftmost-first non-overlapping (the BPE contract: "aaa" under
    (a, a) becomes [aa, a], and the freshly merged symbol never
    re-merges within the same round).  Pure JVM fold (``aggregate``
    higher-order function) over the vocabulary table — row-local, no
    shuffle, no Python."""
    merged = F.aggregate(
        F.col(symbols_col),
        F.array().cast("array<string>"),
        # F.get (not element_at) reads the accumulator tail: it returns
        # NULL on the empty accumulator where ANSI element_at throws
        lambda acc, x: F.when(
            (F.get(acc, F.size(acc) - 1) == a) & (x == b),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(a + b)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return words.withColumn(symbols_col, merged)


def train_bpe_merges(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Train ``n_merges`` BPE merge rules on the corpus.  Classic
    iterative scheme: per round, count pairs (one combinable aggregate
    over the vocabulary frame), take the argmax (ties broken
    lexicographically so every engine picks the same rule), merge, and
    repeat.  The driver pulls ONE row per round — the argmax — never the
    table; the vocabulary frame is cached between rounds and at 100 TB
    lives as a snapshot table exactly like the banded LSH corpus.

    Returns the ordered merge list (the tokenizer artifact)."""
    vocab = word_frequencies(docs, text_col).select(
        F.split(F.col("word"), "").alias("symbols"), F.col("freq")
    )
    vocab = vocab.cache()
    merges: list[tuple[str, str]] = []
    try:
        for _ in range(n_merges):
            top = (
                bpe_pair_counts(vocab)
                .orderBy(F.col("pair_freq").desc(), "a", "b")
                .limit(1)
                .collect()
            )
            if not top or top[0]["pair_freq"] <= 0:
                break
            a, b = top[0]["a"], top[0]["b"]
            merges.append((a, b))
            nxt = merge_symbol_pair(vocab, a, b).cache()
            nxt.count()  # materialize before dropping the parent cache
            vocab.unpersist()
            vocab = nxt
    finally:
        vocab.unpersist()
    return merges


def bpe_encode_words(
    words: DataFrame,
    merges,
    word_col: str = "word",
    symbols_col: str = "symbols",
    max_rounds: int | None = None,
) -> DataFrame:
    """Apply a trained BPE merge list to a vocabulary table — the encode
    half of the tokenizer (Sennrich et al. 2016; the GPT-2 scheme:
    per round, find each word's lowest-rank applicable merge and fuse
    ALL its occurrences leftmost-first, repeat until none applies).

    ``merges`` is the tokenizer artifact: an ordered ``list[(a, b)]``
    (rank = position, as :func:`train_bpe_merges` returns) or a
    DataFrame ``(a, b, rank)``.  Encoding runs on the VOCABULARY frame,
    never the corpus — the reason tokenizing 100 TB is feasible: distinct
    words are encoded once and the result joins back to the token stream
    (:func:`bpe_token_counts`).

    Per round, all JVM expressions: adjacent pairs explode from the
    symbol array, an equi-join against the (broadcast) merge table finds
    each word's best rank, and the fuse is the same ``aggregate`` fold
    as :func:`merge_symbol_pair` parameterized by the row's own merge
    columns ("aaa" under (a,a) -> [aa, a]; the fused symbol cannot
    re-match within its round).  ``max_rounds=k`` applies exactly k
    rounds with ZERO driver actions (the gate-query form);
    ``max_rounds=None`` iterates to convergence with one tiny count per
    round, caching round frames like the trainer.
    """
    from pyspark.sql import Window

    spark = words.sparkSession
    if not isinstance(merges, DataFrame):
        merges = spark.createDataFrame(
            [(a, b, i) for i, (a, b) in enumerate(merges)], "a string, b string, rank int"
        )
    # normalize the merge table: a duplicate (a, b) keeps its best rank,
    # and a duplicate RANK keeps one deterministic rule — otherwise the
    # best-rank join-back below would fan a word's row out once per
    # same-rank rule and bpe_token_counts would double-count it
    merges = merges.groupBy("a", "b").agg(F.min("rank").alias("rank"))
    rank_w = Window.partitionBy("rank").orderBy("a", "b")
    merges = (
        merges.withColumn("_rn", F.row_number().over(rank_w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    other_cols = [c for c in words.columns if c != symbols_col]
    converge = max_rounds is None
    if converge:
        # exact convergence bound: every round fuses >= 1 occurrence in
        # every word that still has an applicable merge, so no word can
        # need more rounds than its initial symbol count - 1
        max_syms = words.agg(F.max(F.size(symbols_col)).alias("m")).first()["m"]
        rounds = max(int(max_syms or 1) - 1, 0)
    else:
        rounds = max_rounds

    state = words
    for _ in range(rounds):
        pairs_expr = F.expr(
            f"transform(sequence(1, size({symbols_col}) - 1), "
            f"i -> struct({symbols_col}[i - 1] AS a, {symbols_col}[i] AS b))"
        )
        pairs = (
            state.filter(F.size(symbols_col) >= 2)
            .select(F.col(word_col), F.explode(pairs_expr).alias("p"))
            .select(word_col, F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        )
        best = (
            pairs.join(F.broadcast(merges), ["a", "b"])
            .groupBy(word_col)
            .agg(F.min("rank").alias("rank"))
            .join(F.broadcast(merges), "rank")
            .select(word_col, F.col("a").alias("_ma"), F.col("b").alias("_mb"))
        )
        nxt = state.join(best, word_col, "left")
        fused = F.aggregate(
            F.col(symbols_col),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.get(acc, F.size(acc) - 1) == F.col("_ma"))
                & (x == F.col("_mb")),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(F.col("_ma"), F.col("_mb"))),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        nxt = nxt.select(
            *other_cols,
            F.when(F.col("_ma").isNull(), F.col(symbols_col))
            .otherwise(fused)
            .alias(symbols_col),
        )
        if converge:
            nxt = nxt.cache()
            # an applicable merge always fuses, so progress <=> best != empty
            any_applicable = best.limit(1).count()
            if state is not words:
                state.unpersist()
            state = nxt
            if any_applicable == 0:
                break
        else:
            state = nxt
    return state.select(*other_cols, symbols_col)


def bpe_token_counts(
    docs: DataFrame,
    merges,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document token counts under a trained BPE tokenizer — the
    corpus-level encode: build the word-frequency vocabulary, encode
    each DISTINCT word once (:func:`bpe_encode_words`), then join the
    per-word token count back onto the exploded token stream and sum per
    document.  The expensive iterative work is vocabulary-sized; the
    corpus-sized stages are one explode and one equi-join on the word
    key.  Output: ``(id, n_words:int, n_bpe_tokens:int)``; docs with no
    non-blank tokens emit no row (left-join to preserve, as with
    ``unigram_surprisal``)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # ONE corpus explode: reduce the token stream to (doc, word, tf)
    # first, derive the vocabulary from that frame, and weight the final
    # per-doc sums by tf — exact integer counts, identical to joining
    # the raw stream, minus a full tokenize+explode pass (the old shape
    # exploded the corpus once for the vocabulary and again for the
    # join-back; guide 2.4)
    doc_words = (
        docs.select(F.col(id_col), F.explode(toks).alias("word"))
        .filter(F.col("word") != "")
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab = doc_words.groupBy("word").agg(F.sum("tf").alias("freq"))
    enc = bpe_encode_words(
        vocab.select("word", "freq", F.split("word", "").alias("symbols")),
        merges,
    ).select("word", F.size("symbols").alias("word_tokens"))
    return (
        doc_words.join(enc, "word")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("int").alias("n_words"),
            F.sum(F.col("tf") * F.col("word_tokens")).cast("int")
            .alias("n_bpe_tokens"),
        )
    )


def bigram_surprisal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lambda_bps: int = 7000,
) -> DataFrame:
    """Interpolated bigram LM surprisal — the CCNet-style LM quality
    filter (Wenzek et al. 2020 score with a KenLM; this is the
    n-gram-LM grade of that filter, trained on the corpus itself):
    per-token ``-ln p(t_i | t_{i-1})`` with Jelinek-Mercer
    interpolation ``p(b|a) = L*c(a,b)/c(a) + (1-L)*c(b)/T`` and
    ``L = lambda_bps/10000``; the first token scores against the
    unigram model.  Output mean milli-nats per token:
    ``(id, n_tokens:int, bi_surprisal_milli:bigint)``.

    Scale shape: unigram and bigram count tables are vocabulary-sized
    (map-side-combinable groupBys on the word / word-pair key) and
    broadcast into the scoring joins; the per-doc stream shuffles on
    uniformly distributed keys only, and text bytes never reshuffle.
    Counts stay exact integers until the one interpolated division, so
    both engines feed identical doubles to ``ln`` (the q17c/q21c float
    discipline).  NULL-text docs emit no row (left-join to preserve).
    """
    lam = lambda_bps / 10000.0
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = docs.select(F.col(id_col), toks.alias("t")).filter(F.size("t") >= 1)
    uni = (
        base.select(F.explode(F.col("t")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    total = uni.agg(F.sum("cw").alias("tt"))
    a = F.slice(F.col("t"), 1, F.size("t"))
    b = F.slice(F.col("t"), 2, F.size("t"))
    pairs_arr = F.slice(
        F.arrays_zip(a.alias("a"), b.alias("b")),
        1,
        F.greatest(F.size(F.col("t")) - 1, F.lit(0)),
    )
    # Shape note (r07, measured): the pair stream feeds two consumers
    # (the bigram count table and the scoring join).  A single-pass
    # variant — pre-aggregate to (doc, a, b, tf), derive `bc` from it,
    # weight by tf — was tried and REVERTED: it adds a full pair-stream
    # exchange to the critical path, and recomputing the cheap
    # tokenize+explode is faster than shuffling its output (9.5 s vs
    # 5.5 s at sf1.0 local[32]); at cluster scale the same trade holds —
    # shuffle bytes are the scarce resource (guide 2.3), the explode is
    # ALU-cheap, and `bc` pre-reduces map-side before its exchange.
    big = base.select(F.col(id_col), F.explode(pairs_arr).alias("p")).select(
        F.col(id_col), F.col("p.a").alias("a"), F.col("p.b").alias("b")
    )
    bc = big.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cab"))
    # fold the count towers into ONE vocabulary-sized weight table: the
    # per-bigram surprisal is a pure function of (cab, ca, cb, tt), so
    # computing it once per DISTINCT bigram and broadcasting the result
    # gives the instance stream a single broadcast join instead of
    # three, and evaluates ln once per vocabulary row instead of once
    # per corpus instance — the per-instance w values (and therefore the
    # per-doc sums) are the identical doubles
    bigram_w = (
        bc
        .join(F.broadcast(uni.select(F.col("w").alias("a"), F.col("cw").alias("ca"))), "a")
        .join(F.broadcast(uni.select(F.col("w").alias("b"), F.col("cw").alias("cb"))), "b")
        .crossJoin(F.broadcast(total))
        .select(
            "a", "b",
            (-F.log(
                F.lit(lam) * (F.col("cab").cast("double") / F.col("ca").cast("double"))
                + F.lit(1.0 - lam) * (F.col("cb").cast("double") / F.col("tt").cast("double"))
            )).alias("w_bi"),
        )
    )
    scored_pairs = (
        big.join(F.broadcast(bigram_w), ["a", "b"])
        .groupBy(id_col)
        .agg(
            F.sum("w_bi").alias("s_bi"),
            F.count(F.lit(1)).alias("n_bi"),
        )
    )
    first = (
        base.select(F.col(id_col), F.get(F.col("t"), 0).alias("w"))
        .join(F.broadcast(uni), "w")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            (-F.log(F.col("cw").cast("double") / F.col("tt").cast("double"))).alias("s_first"),
        )
    )
    return (
        first.join(scored_pairs, id_col, "left")
        .select(
            F.col(id_col),
            (F.coalesce(F.col("n_bi"), F.lit(0)) + 1).cast("int").alias("n_tokens"),
            F.round(
                (F.col("s_first") + F.coalesce(F.col("s_bi"), F.lit(0.0)))
                / (F.coalesce(F.col("n_bi"), F.lit(0)) + 1)
                * 1000.0
            )
            .cast("bigint")
            .alias("bi_surprisal_milli"),
        )
    )


def normalize_text(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "norm_text",
) -> DataFrame:
    """Canonical text normalization — the stage every curation pipeline
    runs BEFORE any hashing/dedup/scoring, because un-normalized
    near-identical bytes (decomposed accents, zero-width junk, control
    characters, ragged whitespace) defeat exact-dedup fingerprints and
    shingle hashes:

    1. Unicode NFC composition (UAX#15 canonical) — the one step with
       no JVM builtin, done in an Arrow-batched pandas UDF over
       ``unicodedata`` (vectorized batches; the sanctioned Python tier,
       like the multimodal codecs).  DuckDB's ``nfc_normalize``
       (utf8proc) implements the same UAX#15 mapping, which is what
       makes the oracle live.
    2. Strip C0/C1 control characters and zero-width code points
       (JVM ``regexp_replace``).
    3. Squash whitespace runs to single spaces and trim (JVM).

    Output adds ``out_col`` (+ ``n_changed``: 0/1 whether normalization
    altered the text).  Row-preserving; NULL text stays NULL.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    composed = nfc(F.col(text_col))
    stripped = F.regexp_replace(
        composed,
        "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f\\x80-\\x9f"
        "\\u200b\\u200c\\u200d\\ufeff]",
        "",
    )
    squashed = F.trim(F.regexp_replace(stripped, r"\s+", " "))
    # stage the normalized column FIRST and have n_changed reference it
    # by name: inlining `squashed` twice into one projection plants two
    # copies of the regex chain in the plan (guide section 4.4's
    # duplicated-expression shape, minus the UDF — the ArrowEvalPython
    # node itself is deduplicated by extraction, the JVM regex work is
    # not)
    staged = docs.select("*", squashed.alias(out_col))
    return staged.select(
        "*",
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise((F.col(text_col) != F.col(out_col)).cast("int"))
        .alias("n_changed"),
    )


def chunk_tokens(
    docs: DataFrame,
    seq_len: int,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document's token stream into fixed-length training
    windows — the step between curation and sequence packing: a model
    with a ``seq_len`` context consumes documents as windows of
    ``seq_len`` tokens advancing by ``stride`` (``stride < seq_len``
    overlaps windows, the standard LM-eval sliding window; default
    ``stride = seq_len`` tiles the document without overlap).

    Output: one row per window — ``(id, chunk_idx, chunk_text,
    n_tokens)`` with ``chunk_idx`` 0-based in stride order.  The final
    window may be shorter than ``seq_len`` (``n_tokens`` says so);
    training callers filter ``n_tokens == seq_len``, eval callers keep
    the tail.  NULL/blank documents emit no row.

    Scale shape: a pure per-row projection + one explode — ZERO
    shuffles; tokenization happens once per document and windows are
    ``slice`` views over the token array, so text bytes are never
    reshuffled and the op composes with any downstream partitioning.
    The whitespace tokenization matches ``word_frequencies`` /
    ``bpe_token_counts`` (the corpus token-count contracts agree); pair
    with :func:`bpe_token_counts` when windows must count model tokens
    instead of words.
    """
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    stride = seq_len if stride is None else stride
    if stride < 1:
        raise ValueError("stride must be >= 1")
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), toks.alias("_toks"))
        .filter((F.size("_toks") >= 1) & (F.element_at("_toks", 1) != ""))
    )
    starts = F.sequence(F.lit(1), F.size("_toks"), F.lit(stride))
    return (
        base.select(F.col(id_col), "_toks",
                    F.posexplode(starts).alias("chunk_idx", "_start"))
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.array_join(
                F.slice(F.col("_toks"), F.col("_start"), F.lit(seq_len)), " "
            ).alias("chunk_text"),
            F.size(
                F.slice(F.col("_toks"), F.col("_start"), F.lit(seq_len))
            ).cast("int").alias("n_tokens"),
        )
    )


def compression_ratio(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Compression-ratio quality signal (the RedPajama-v2 / Dolma
    quality-signal family): highly compressible text is boilerplate,
    templates, or repetition; incompressible text at the other extreme
    is often encoded noise.  Deflate (zlib level 6, raw ``compress``)
    over UTF-8 bytes in an Arrow-batched pandas UDF — the sanctioned
    Python tier; there is no JVM/DuckDB builtin for deflate length, so
    the oracle is GENERATED from the same zlib (pinning the Spark side:
    schema, Arrow plumbing, projection — the q27/q50 precedent).

    INTEGER DISCIPLINE: the signal is emitted as ``ratio_milli`` =
    ``1000 * compressed_len // raw_len`` (plus the raw ``n_bytes`` /
    ``comp_len`` counts) so downstream filters and the oracle compare
    exact integers, never engine-ordered float divisions.  NULL text →
    NULL counts; empty text keeps its true deflate length (8 bytes of
    header) but a NULL ratio (a ratio of nothing is not 0).

    Row-preserving projection, zero shuffle; compression cost is
    per-byte CPU that scales linearly and parallelizes per-partition.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def comp_len(s: pd.Series) -> pd.Series:
        import zlib

        return s.map(
            lambda x: len(zlib.compress(x.encode("utf-8"), 6))
            if x is not None else None
        ).astype("Int64")

    raw_len = F.octet_length(F.col(text_col))
    cl = comp_len(F.col(text_col))
    return docs.select(
        "*",
        raw_len.alias("n_bytes"),
        cl.alias("comp_len"),
        F.when(
            raw_len > 0, F.expr("1000L") * cl.cast("long")
        ).otherwise(F.lit(None)).alias("_num"),
    ).withColumn(
        "ratio_milli",
        F.expr("CAST(_num div n_bytes AS INT)"),
    ).drop("_num")


def perplexity_buckets(
    docs: DataFrame,
    n_buckets: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    lambda_bps: int = 7000,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score each
    document with the corpus-trained LM (:func:`bigram_surprisal` here,
    KenLM in CCNet), then split each LANGUAGE into ``n_buckets``
    equal-count buckets of ascending surprisal — CCNet keeps head+middle
    and drops tail as its main quality gate.  Output adds ``bucket``
    (1-based ntile) and ``bucket_label`` (head/middle/tail for the
    default 3; the bucket number as text otherwise).

    Determinism: the surprisal is already an exact integer
    (milli-nats, the q21d float discipline), and the ntile ORDER BY
    breaks ties on ``id_col`` — so bucket assignment is bit-stable
    across engines and retries.

    NOT row-preserving: docs the scorer emits no row for (NULL text)
    have no defined perplexity and therefore no bucket — they are
    ABSENT from the output (inner join on the score), exactly like
    ``bigram_surprisal`` itself.  Callers that must pass unscoreable
    docs through should left-join this output back to their doc set
    (the ``curate_documents`` LM-stage pattern).

    Scale shape: ntile is one window = one hash-partition-by-language +
    per-partition sort over (surprisal, id) PAIRS — language skew is
    real (one language can be half the crawl), so at the 100 TB tier the
    production variant computes bucket THRESHOLDS on a per-language
    sample (CCNet itself does exactly this) and assigns by broadcast
    threshold comparison: one projection, no global sort.  The exact
    ntile here is the semantics oracle that variant is validated
    against; rows carry only (id, lang, two ints) through the sort —
    text never enters the window.
    """
    from pyspark.sql import Window

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    s = bigram_surprisal(docs, id_col=id_col, text_col=text_col,
                         lambda_bps=lambda_bps)
    joined = docs.select(F.col(id_col), F.col(lang_col)).join(s, id_col)
    w = Window.partitionBy(lang_col).orderBy("bi_surprisal_milli", id_col)
    b = joined.withColumn("bucket", F.ntile(n_buckets).over(w))
    if n_buckets == 3:
        label = (
            F.when(F.col("bucket") == 1, F.lit("head"))
            .when(F.col("bucket") == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
    else:
        label = F.col("bucket").cast("string")
    return b.withColumn("bucket_label", label)


# Gopher rule-based quality filters (Rae et al. 2021, table A1) — the
# stop set and thresholds are the published ones.
GOPHER_STOP_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """The Gopher rule-based quality battery (Rae et al. 2021 §A1.1,
    the filter set FineWeb/Dolma/RefinedWeb all descend from), one
    boolean per rule plus the conjunction:

    - ``ok_word_count``: 50 ≤ words ≤ 100 000;
    - ``ok_mean_len``: mean word length in [3, 10] characters;
    - ``ok_symbol_ratio``: (# + ... + …) symbols ≤ 0.1 per word;
    - ``ok_bullets``: ≤ 90% of non-blank lines start with a bullet;
    - ``ok_ellipsis``: ≤ 30% of non-blank lines end with an ellipsis;
    - ``ok_alpha``: ≥ 80% of words contain a letter;
    - ``ok_stops``: ≥ 2 distinct Gopher stop words present;
    - ``gopher_pass``: all of the above.

    INTEGER DISCIPLINE: every ratio threshold is an integer
    cross-multiplication (``10*symbols ≤ words``, ``3*words ≤ chars ≤
    10*words``, …) — no float division anywhere, so the flags are exact
    and the oracle is LIVE SQL.  Tokenization is the engine-wide
    :func:`nonblank_tokens`; '...' counting is leftmost
    non-overlapping ``replace`` length-delta (the exact cross-engine
    contract the BPE fuse established).

    Zero-shuffle row-preserving projection; token and line arrays are
    staged as named columns so multi-referenced intermediates
    materialize once (the codegen discipline).  NULL text fails
    ``ok_word_count`` and therefore ``gopher_pass`` — a missing page is
    not quality data.
    """
    t = F.col(text_col)
    out = docs.withColumn("_gq_toks", nonblank_tokens(t))
    out = out.withColumn(
        "_gq_lines",
        F.filter(F.split(F.coalesce(t, F.lit("")), "\n"),
                 lambda line: F.trim(line) != F.lit("")),
    )
    toks, lines = F.col("_gq_toks"), F.col("_gq_lines")
    n_words = F.coalesce(F.size(toks), F.lit(0))
    n_lines = F.size(lines)
    sum_chars = F.aggregate(
        toks, F.lit(0), lambda acc, w: acc + F.length(w))
    hashes = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    # leftmost non-overlapping '...' runs, counted WITHOUT any division
    # (regexp_count and replace-length-delta//3 agree; the oracle states
    # the replace form) — keeps the no-float-arithmetic claim literal
    dots = F.regexp_count(t, F.lit(r"\.\.\."))
    hellip = F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit("")))
    symbols = F.coalesce(hashes + dots + hellip, F.lit(0))
    bullet_lines = F.size(F.filter(
        lines, lambda line: F.ltrim(line).rlike(r"^[•\-\*‣▪]")))
    ellipsis_lines = F.size(F.filter(
        lines, lambda line: F.rtrim(line).rlike(r"(\.\.\.|…)$")))
    alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[a-z]")))
    n_stops = sum(
        F.array_contains(toks, w).cast("int") for w in GOPHER_STOP_WORDS
    )
    ok_word_count = (n_words >= min_words) & (n_words <= max_words)
    ok_mean_len = ((F.lit(3) * n_words <= sum_chars)
                   & (sum_chars <= F.lit(10) * n_words) & (n_words > 0))
    ok_symbol_ratio = F.lit(10) * symbols <= n_words
    ok_bullets = F.lit(10) * bullet_lines <= F.lit(9) * n_lines
    ok_ellipsis = F.lit(10) * ellipsis_lines <= F.lit(3) * n_lines
    ok_alpha = F.lit(10) * alpha_words >= F.lit(8) * n_words
    ok_stops = F.coalesce(n_stops, F.lit(0)) >= 2
    flags = {
        "ok_word_count": ok_word_count,
        "ok_mean_len": ok_mean_len,
        "ok_symbol_ratio": ok_symbol_ratio,
        "ok_bullets": ok_bullets,
        "ok_ellipsis": ok_ellipsis,
        "ok_alpha": ok_alpha,
        "ok_stops": ok_stops,
    }
    out = out.select(
        "*",
        n_words.alias("n_words"),
        *[F.coalesce(c, F.lit(False)).alias(n) for n, c in flags.items()],
    )
    passed = None
    for n in flags:
        passed = F.col(n) if passed is None else passed & F.col(n)
    return (
        out.withColumn("gopher_pass", passed)
        .drop("_gq_toks", "_gq_lines")
    )
